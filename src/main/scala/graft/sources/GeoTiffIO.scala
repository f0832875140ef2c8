package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * GeoTIFF reader/writer for strip-organized single-band float32
 * rasters — the layout the reference's GeoTiff class decodes
 * (ImportExport/src/plugins/GeoTiff.java:438-467 strip organisation,
 * :593-640 value access), re-built from the PUBLIC TIFF 6.0 / GeoTIFF
 * layout: II/MM byte order, IFD tag table, StripOffsets /
 * StripByteCounts / RowsPerStrip, SampleFormat 3 (IEEE float),
 * ModelPixelScale + ModelTiepoint georeferencing tags.
 *
 * Tiled organisation and palette/multiband photometrics are not
 * decoded (the reference supports strip+tiled; tiled is the same
 * pattern with TileOffsets/TileWidth). Decode runs through
 * binaryFile + flatMap like every raster format here.
 */
object GeoTiffIO {

  private val TagWidth = 256
  private val TagLength = 257
  private val TagBits = 258
  private val TagCompression = 259
  private val TagStripOffsets = 273
  private val TagRowsPerStrip = 278
  private val TagStripByteCounts = 279
  private val TagSampleFormat = 339
  private val TagPixelScale = 33550
  private val TagTiepoint = 33922

  private case class Entry(tag: Int, typ: Int, count: Long, raw: Long,
                           valueOffset: Long)

  private def typeSize(t: Int): Int = t match {
    case 1 | 2 | 6 | 7 => 1 // BYTE/ASCII/SBYTE/UNDEFINED
    case 3 | 8 => 2         // SHORT
    case 4 | 9 | 11 => 4    // LONG/SLONG/FLOAT
    case 5 | 10 | 12 => 8   // RATIONAL/DOUBLE
    case _ => 1
  }

  private def readEntries(buf: ByteBuffer): Map[Int, Entry] = {
    val ifdOff = buf.getInt(4).toLong & 0xffffffffL
    val n = buf.getShort(ifdOff.toInt) & 0xffff
    (0 until n).map { i =>
      val p = ifdOff.toInt + 2 + i * 12
      val tag = buf.getShort(p) & 0xffff
      val typ = buf.getShort(p + 2) & 0xffff
      val count = buf.getInt(p + 4).toLong & 0xffffffffL
      val raw = buf.getInt(p + 8).toLong & 0xffffffffL
      tag -> Entry(tag, typ, count, raw, p + 8)
    }.toMap
  }

  /** Values of a SHORT/LONG array entry (inline when they fit). */
  private def longValues(buf: ByteBuffer, e: Entry): Array[Long] = {
    val sz = typeSize(e.typ)
    val total = sz * e.count
    def at(base: Int, i: Int): Long = e.typ match {
      case 3 => (buf.getShort(base + i * 2) & 0xffff).toLong
      case 4 => buf.getInt(base + i * 4).toLong & 0xffffffffL
      case other => sys.error(s"unsupported tag type $other")
    }
    val base = if (total <= 4) e.valueOffset.toInt else e.raw.toInt
    Array.tabulate(e.count.toInt)(i => at(base, i))
  }

  private def doubleValues(buf: ByteBuffer, e: Entry): Array[Double] = {
    val base = e.raw.toInt // doubles never fit inline
    Array.tabulate(e.count.toInt)(i => buf.getDouble(base + i * 8))
  }

  /** Read a strip-organized float32 GeoTIFF into (r, c, v); cells
    * equal to `noData` (any NaN when `noData` is NaN) are dropped.
    * Returns the georeferencing (originX, originY, scaleX, scaleY)
    * via [[readGeoref]]. */
  def readGeoTiff(spark: SparkSession, path: String,
                  noData: Double = Double.NaN): DataFrame = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile").load(path)
      .select(col("content")).as[Array[Byte]]
    bin.flatMap { content =>
      val order =
        if (content(0) == 'M') ByteOrder.BIG_ENDIAN
        else ByteOrder.LITTLE_ENDIAN
      val buf = ByteBuffer.wrap(content).order(order)
      require((buf.getShort(2) & 0xffff) == 42, "not a TIFF")
      val es = readEntries(buf)
      val width = longValues(buf, es(TagWidth))(0).toInt
      val height = longValues(buf, es(TagLength))(0).toInt
      require(longValues(buf, es(TagCompression))(0) == 1L,
        "only uncompressed strips supported")
      require(longValues(buf, es(TagBits))(0) == 32L &&
        es.get(TagSampleFormat).forall(e => longValues(buf, e)(0) == 3L),
        "only float32 samples supported")
      val rowsPerStrip = es.get(TagRowsPerStrip)
        .map(e => longValues(buf, e)(0).toInt).getOrElse(height)
      val offsets = longValues(buf, es(TagStripOffsets))
      offsets.iterator.zipWithIndex.flatMap { case (off, strip) =>
        val r0 = strip * rowsPerStrip
        val nRows = math.min(rowsPerStrip, height - r0)
        for {
          r <- (0 until nRows).iterator
          c <- (0 until width).iterator
          v = buf.getFloat(off.toInt + (r * width + c) * 4).toDouble
          if (if (noData.isNaN) !v.isNaN else v != noData)
        } yield ((r0 + r).toLong, c.toLong, v)
      }
    }.toDF("r", "c", "v")
  }

  /** (originX, originY, scaleX, scaleY) from the GeoTIFF tags. */
  def readGeoref(path: String): (Double, Double, Double, Double) = {
    val content = Files.readAllBytes(Paths.get(path))
    val order =
      if (content(0) == 'M') ByteOrder.BIG_ENDIAN
      else ByteOrder.LITTLE_ENDIAN
    val buf = ByteBuffer.wrap(content).order(order)
    val es = readEntries(buf)
    val scale = doubleValues(buf, es(TagPixelScale))
    val tie = doubleValues(buf, es(TagTiepoint))
    (tie(3), tie(4), scale(0), scale(1))
  }

  /** Write (r, c, v) as a little-endian strip-organized float32
    * GeoTIFF with `rowsPerStrip` rows per strip. Driver-side, dense —
    * like the other raster writers. */
  def writeGeoTiff(df: DataFrame, rows: Int, cols: Int,
                   originX: Double, originY: Double, scaleX: Double,
                   scaleY: Double, noData: Double, path: String,
                   rowsPerStrip: Int = 64): Unit = {
    val cells = df.select("r", "c", "v").collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    val nStrips = (rows + rowsPerStrip - 1) / rowsPerStrip
    val entries = 11
    val headerLen = 8
    val ifdLen = 2 + entries * 12 + 4
    // layout: header | IFD | stripOffsets | stripCounts | scale(3d) |
    // tiepoint(6d) | strip data
    val offArr = headerLen + ifdLen
    val cntArr = offArr + nStrips * 4
    val scaleOff = cntArr + nStrips * 4
    val tieOff = scaleOff + 3 * 8
    val dataOff = tieOff + 6 * 8
    val stripBytes = (0 until nStrips).map { s =>
      val nRows = math.min(rowsPerStrip, rows - s * rowsPerStrip)
      nRows * cols * 4
    }
    val total = dataOff + stripBytes.sum
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(0, 'I'.toByte); buf.put(1, 'I'.toByte)
    buf.putShort(2, 42.toShort)
    buf.putInt(4, headerLen)
    var p = headerLen
    buf.putShort(p, entries.toShort); p += 2
    def entry(tag: Int, typ: Int, count: Int, value: Long): Unit = {
      buf.putShort(p, tag.toShort)
      buf.putShort(p + 2, typ.toShort)
      buf.putInt(p + 4, count)
      buf.putInt(p + 8, value.toInt)
      p += 12
    }
    entry(TagWidth, 4, 1, cols)
    entry(TagLength, 4, 1, rows)
    entry(TagBits, 3, 1, 32)
    entry(TagCompression, 3, 1, 1)
    entry(262, 3, 1, 1) // PhotometricInterpretation: BlackIsZero
    entry(TagStripOffsets, 4, nStrips,
      if (nStrips == 1) dataOff else offArr)
    entry(TagRowsPerStrip, 4, 1, rowsPerStrip)
    entry(TagStripByteCounts, 4, nStrips,
      if (nStrips == 1) stripBytes.head else cntArr)
    // SampleFormat = 3 (IEEE float): TIFF defaults to 1 (unsigned
    // int), so without this tag conforming readers decode the float32
    // payload as uint32 garbage (GeoTiff.java:646-698 does exactly
    // that). Tags must stay ascending: 279 < 339 < 33550.
    entry(339, 3, 1, 3)
    entry(TagPixelScale, 12, 3, scaleOff)
    entry(TagTiepoint, 12, 6, tieOff)
    buf.putInt(p, 0) // next IFD
    var off = dataOff
    for (s <- 0 until nStrips) {
      buf.putInt(offArr + s * 4, off)
      buf.putInt(cntArr + s * 4, stripBytes(s))
      off += stripBytes(s)
    }
    buf.putDouble(scaleOff, scaleX)
    buf.putDouble(scaleOff + 8, scaleY)
    buf.putDouble(scaleOff + 16, 0.0)
    val tie = Array(0.0, 0.0, 0.0, originX, originY, 0.0)
    tie.zipWithIndex.foreach { case (d, i) =>
      buf.putDouble(tieOff + i * 8, d)
    }
    var q = dataOff
    for (r <- 0 until rows; c <- 0 until cols) {
      buf.putFloat(q,
        cells.getOrElse((r.toLong, c.toLong), noData).toFloat)
      q += 4
    }
    Files.write(Paths.get(path), buf.array())
  }
}

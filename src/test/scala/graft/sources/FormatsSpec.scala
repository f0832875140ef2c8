package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TestSpark

/** Round-trip specs for the import/export format family (SURVEY §2.1):
  * write a known grid, read it back, compare cell-exactly. */
class FormatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val rows = 7
  val cols = 9
  // one NoData hole at (2, 3); float32-representable values so the
  // 4-byte formats round-trip bit-exactly
  def gridCells: Seq[(Long, Long, Double)] =
    (for (r <- 0 until rows; c <- 0 until cols if !(r == 2 && c == 3))
      yield (r.toLong, c.toLong, (r * 10 + c).toDouble / 2.0))
  def grid = gridCells.toDF("r", "c", "v")

  def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2))
      .toMap

  val want: Map[(Long, Long), Double] =
    gridCells.map(t => (t._1, t._2) -> t._3).toMap

  test("USGS DEM round-trip (A-record offsets, bottom-up profiles)") {
    val dir = Files.createTempDirectory("dem").toString
    RasterIO.writeUsgsDem(grid, rows, cols, north = 46.0, south = 45.0,
      east = -71.0, west = -72.0, path = s"$dir/g.dem")
    assert(collect(RasterIO.readUsgsDem(spark, s"$dir/g.dem", rows))
      === want)
    val (n, s, e, w, nc) = RasterIO.readUsgsDemHeader(s"$dir/g.dem")
    assert((n, s, e, w, nc) === ((46.0, 45.0, -71.0, -72.0, cols)))
  }

  test("Image import round-trip (packed ARGB doubles, PNG)") {
    val dir = Files.createTempDirectory("img").toString
    // packed values per ImportImage.java:386-390: alpha forced opaque
    val px = (for (r <- 0 until 4; c <- 0 until 5) yield
      (r.toLong, c.toLong,
        ((255 << 24) | (r * 40 << 16) | (c * 30 << 8) | (r + c)).toDouble))
      .toDF("r", "c", "v")
    RasterIO.writeImagePng(px, 4, 5, s"$dir/g.png")
    val got = collect(RasterIO.readImageRaster(spark, s"$dir/g.png"))
    assert(got === px.collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("TAS .vtr vector round-trip (points + polyline)") {
    val dir = Files.createTempDirectory("vtr").toString
    val feats = Seq(
      (0L, 1.5, "POINT", Seq(100.0), Seq(50.0)),
      (1L, 2.0, "POLYLINE", Seq(100.5, 101.0, 102.25),
        Seq(50.5, 51.0, 50.25)),
      (2L, -3.0, "POINT", Seq(105.0), Seq(55.0))
    ).toDF("fid", "value", "kind", "xs", "ys")
    RasterIO.writeTasVector(feats, s"$dir/g.vtr")
    val got = RasterIO.readTasVector(spark, s"$dir/g.vtr")
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getString(2),
        x.getSeq[Double](3), x.getSeq[Double](4))).sortBy(_._1)
    assert(got.map(t => (t._1, t._2, t._3)) ===
      Array((0L, 1.5, "POINT"), (1L, 2.0, "POLYLINE"),
        (2L, -3.0, "POINT")))
    // float offsets from (west, south): exact for these values
    assert(got(1)._4 === Seq(100.5, 101.0, 102.25))
    assert(got(1)._5 === Seq(50.5, 51.0, 50.25))
  }

  test("ArcGrid .flt round-trip") {
    val dir = Files.createTempDirectory("flt").toString
    RasterIO.writeArcGridFloat(grid, rows, cols, 0, 0, 1, -9999,
      s"$dir/g.flt")
    assert(collect(RasterIO.readArcGridFloat(spark, s"$dir/g.flt"))
      === want)
  }

  test("SAGA .sgrd/.sdat round-trip (bottom-up rows)") {
    val dir = Files.createTempDirectory("sgrd").toString
    RasterIO.writeSagaGrid(grid, rows, cols, 0, 0, 1, -99999,
      s"$dir/g.sgrd")
    assert(collect(RasterIO.readSagaGrid(spark, s"$dir/g.sgrd"))
      === want)
  }

  test("SRTM .hgt round-trip (integer grid)") {
    val dir = Files.createTempDirectory("hgt").toString
    val g = (for (r <- 0 until 5; c <- 0 until 5 if !(r == 1 && c == 1))
      yield (r.toLong, c.toLong, (r * 100 + c).toDouble))
    RasterIO.writeSrtmHgt(g.toDF("r", "c", "v"), 5, s"$dir/n00e000.hgt")
    assert(collect(RasterIO.readSrtmHgt(spark, s"$dir/n00e000.hgt"))
      === g.map(t => (t._1, t._2) -> t._3).toMap)
  }

  test("Surfer ASCII .grd round-trip (bottom-up rows)") {
    val dir = Files.createTempDirectory("grd").toString
    RasterIO.writeSurferAscii(grid, rows, cols, 0, 9, 0, 7,
      s"$dir/g.grd")
    assert(collect(RasterIO.readSurferAscii(spark, s"$dir/g.grd"))
      === want)
  }

  test("GRASS ASCII round-trip") {
    val dir = Files.createTempDirectory("grass").toString
    RasterIO.writeGrassAscii(grid, rows, cols, 7, 0, 9, 0, -9999,
      s"$dir/g.asc")
    assert(collect(RasterIO.readGrassAscii(spark, s"$dir/g.asc"))
      === want)
  }

  test("IDRISI .rst/.rdc round-trip") {
    val dir = Files.createTempDirectory("rst").toString
    RasterIO.writeIdrisi(grid, rows, cols, -9999, s"$dir/g.rst")
    assert(collect(RasterIO.readIdrisi(spark, s"$dir/g.rst")) === want)
  }

  test("multiband BIL/BIP/BSQ round-trips agree") {
    val dir = Files.createTempDirectory("mb").toString
    val mb = (for (b <- 0 until 3; r <- 0 until 4; c <- 0 until 5)
      yield (b.toLong, r.toLong, c.toLong,
        (b * 100 + r * 10 + c).toDouble)).toDF("band", "r", "c", "v")
    for (layout <- Seq("BIL", "BIP", "BSQ")) {
      RasterIO.writeMultiband(mb, 4, 5, 3, layout, -9999,
        s"$dir/g_$layout.bin")
      val back = RasterIO.readMultiband(spark, s"$dir/g_$layout.bin",
        4, 5, 3, layout).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)) ->
          x.getDouble(3)).toMap
      assert(back.size === 60, layout)
      assert(back((2L, 3L, 4L)) === 234.0, layout)
    }
  }

  test("LAS 1.2 format-0 round-trip with bit-packed flags") {
    val dir = Files.createTempDirectory("las").toString
    val pts = Seq(
      (1.25, 2.5, 3.75, 100, 1, 2, 2),
      (-4.5, 5.125, -6.0, 65535, 3, 3, 9),
      (0.0, 0.0, 0.001, 0, 7, 7, 31))
    LasIO.writeLas(pts, s"$dir/p.las")
    val back = LasIO.readLas(spark, s"$dir/p.las")
      .orderBy("x").collect()
    assert(back.length === 3)
    val sorted = pts.sortBy(_._1)
    sorted.zip(back).foreach { case ((x, y, z, i, rn, nr, cl), row) =>
      assert(math.abs(row.getDouble(0) - x) < 1e-9)
      assert(math.abs(row.getDouble(1) - y) < 1e-9)
      assert(math.abs(row.getDouble(2) - z) < 1e-9)
      assert(row.getLong(3) === i.toLong)
      assert(row.getLong(4) === rn.toLong)
      assert(row.getLong(5) === nr.toLong)
      assert(row.getLong(6) === cl.toLong)
      assert(row.getLong(7) === 0L) // scan angle
      assert(row.getLong(8) === 0L) // edge flag
      assert(row.getLong(9) === 0L) // withheld
    }
  }

  test("LAS 1.2 edge/withheld bits + signed scan angle round-trip") {
    val dir = Files.createTempDirectory("lasf").toString
    val pts = Seq(
      (1.0, 1.0, 5.0, 10, 1, 1, 2, -30, true, false),
      (2.0, 2.0, 6.0, 20, 2, 3, 1, 30, false, true),
      (3.0, 3.0, 7.0, 30, 1, 2, 31, 0, true, true))
    LasIO.writeLasFull(pts, s"$dir/p.las")
    val back = LasIO.readLas(spark, s"$dir/p.las")
      .orderBy("x").collect()
    pts.zip(back).foreach {
      case ((_, _, _, _, _, _, cl, sa, edge, wh), row) =>
        assert(row.getLong(6) === cl.toLong)
        assert(row.getLong(7) === sa.toLong)
        assert(row.getLong(8) === (if (edge) 1L else 0L))
        assert(row.getLong(9) === (if (wh) 1L else 0L))
    }
  }

  test("GeoTIFF strip round-trip (multi-strip + georef tags)") {
    val dir = Files.createTempDirectory("tif").toString
    val p = s"$dir/g.tif"
    GeoTiffIO.writeGeoTiff(grid, rows, cols, originX = -180.0,
      originY = 85.0, scaleX = 0.5, scaleY = 0.5, noData = -9999,
      path = p, rowsPerStrip = 2) // 4 strips for 7 rows
    val back = GeoTiffIO.readGeoTiff(spark, p, noData = -9999)
    assert(collect(back) === want)
    val (ox, oy, sx, sy) = GeoTiffIO.readGeoref(p)
    assert(ox === -180.0 && oy === 85.0 && sx === 0.5 && sy === 0.5)
  }

  test("GeoTIFF round-trip drops NaN NoData cells by default") {
    val dir = Files.createTempDirectory("tif").toString
    val p = s"$dir/g.tif"
    GeoTiffIO.writeGeoTiff(grid, rows, cols, originX = 0.0,
      originY = 0.0, scaleX = 1.0, scaleY = 1.0, noData = Double.NaN,
      path = p)
    assert(collect(GeoTiffIO.readGeoTiff(spark, p)) === want)
  }

  test("GML export emits one featureMember per feature") {
    val dir = Files.createTempDirectory("gml").toString
    val feats = Seq(
      (1L, Seq(0.0, 1.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0, 1.0)),
      (2L, Seq(5.0, 6.0, 5.5), Seq(5.0, 5.0, 6.0)))
      .toDF("fid", "xs", "ys")
    RasterIO.writeGml(feats, s"$dir/f.gml")
    val xml = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/f.gml")), "UTF-8")
    assert(xml.split("featureMember>").length >= 4)
    assert(xml.contains("""fid="1""""))
    assert(xml.contains("<gml:posList>0.0 0.0 1.0 0.0 1.0 1.0 0.0 1.0 0.0 0.0</gml:posList>"))
  }
}

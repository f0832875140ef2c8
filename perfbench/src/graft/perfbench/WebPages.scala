package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Geo
import graft.expr.WebFunctions.{html_extract_text, html_wrap}
import graft.operators.{Derived, SpatialJoins, TextOps}
import graft.pipeline.Snapshots

/** Seeded page and gazetteer synthesis (pure functions of the seed). */
object WebGen {
  val Places = 4096
  /** 10 % of places take 80 % of mentions (FIXTURES.md §2 skew). */
  val HotPlaces = Places / 10
  val HotShare = 0.8
  private val vocab = ("river harbour market valley bridge station " +
    "morning council garden winter report museum forest street " +
    "village summer school island ferry mountain coast railway " +
    "archive festival northern southern eastern western history " +
    "weather travel local public annual opening season visitors " +
    "district central modern ancient quiet busy small large old new " +
    "road hill lake").split(' ')

  /** The places' extent (lon, lat degrees). The zone layer is clipped
    * to it, so the ray-cast per mention, not the broadcast of zones no
    * mention can reach, is what grows with the page count. */
  val LonMin = -10.0
  val LonMax = 30.0
  val LatMin = 35.0
  val LatMax = 60.0

  def placeName(k: Int): String = s"Placetown$k"
  /** (lon, lat) of place k: uniform over the extent. */
  def place(seed: Long, k: Int): (Double, Double) =
    (LonMin + (LonMax - LonMin) * Rng.unit(seed, 11, k),
      LatMin + (LatMax - LatMin) * Rng.unit(seed, 12, k))

  def mentionCount(seed: Long, i: Long): Int =
    3 + java.lang.Math.floorMod(Rng.long(seed, 13, i), 5L).toInt

  def mentionPlace(seed: Long, i: Long, j: Int): Int =
    if (Rng.unit(seed, 14, i * 8 + j) < HotShare)
      (Rng.unit(seed, 15, i * 8 + j) * HotPlaces).toInt
    else HotPlaces + (Rng.unit(seed, 15, i * 8 + j) * (Places - HotPlaces)).toInt

  /** Whitespace-normal page text of ~230 words with `mentionCount`
    * gazetteer names, one per equal slot of the word sequence. */
  def text(seed: Long, i: Long): String = {
    val n = 200 + java.lang.Math.floorMod(Rng.long(seed, 16, i), 60L).toInt
    val words = Array.tabulate(n) { k =>
      vocab(java.lang.Math.floorMod(Rng.long(seed, 17, i * 512 + k),
        vocab.length.toLong).toInt)
    }
    val m = mentionCount(seed, i)
    val slot = n / m
    for (j <- 0 until m) {
      val at = j * slot +
        java.lang.Math.floorMod(Rng.long(seed, 18, i * 8 + j), slot.toLong).toInt
      words(at) = placeName(mentionPlace(seed, i, j))
    }
    words.mkString(" ")
  }

  def url(i: Long): String = s"https://host${i % 97}.example/p$i"
}

/**
 * `web_pages`: the north-star page -> geo-entity -> zone path. Pages
 * (url, warc_ts, html, text, lang) are synthesised with the engine's
 * `html_wrap`; each repetition extracts the text, joins its tokens with
 * the gazetteer, point-in-polygon joins the mentions against the dense
 * zone layer, writes a snapshot bucketed by zone, calls the write again
 * on the sealed snapshot (resume), reads it back and counts per zone.
 */
final class WebPages(spark: SparkSession, t: Tracer, seed: Long,
                     pageCount: Int, zoneVerts: Int, work: Path)
    extends Workload(spark, t, seed) {
  import spark.implicits._

  val name = "web_pages"
  val ZoneRes = 5
  val ZonesPerCell = 2
  val SnapshotParts = 8
  val SampleUrls = 48
  val warmupReps = 3
  def items: Long = pageCount
  val ops = Seq("extract", "gazetteer_join", "pip_join", "write_snapshot",
    "resume", "read_snapshot")
  val operators = Seq("pip_join")

  private var pages: DataFrame = _
  private var zones: DataFrame = _
  private var gaz: DataFrame = _
  /** Sample page url -> expected (place_id, zone_id) hits, sorted. */
  private var expected: Map[String, Seq[(Int, Long)]] = Map.empty
  /** Gazetteer mentions over all pages: every mention is one token. */
  private var mentionTotal = 0L
  /** Rings of the zones the sample points fall in (kernel legs). */
  var sampleRings: Seq[(Array[Double], Array[Double])] = Nil
  var samplePoints: Array[(Double, Double)] = Array.empty
  /** A seeded sample of the pages' html bytes (kernel legs). */
  var sampleHtml: Array[Array[Byte]] = Array.empty

  // per-rep results kept for the checks and the per-layer numbers
  private var extracted: DataFrame = _
  private var mentions: DataFrame = _
  private var hits: DataFrame = _
  private var metas: Seq[Snapshots.PartMeta] = Nil
  private var resumed: Seq[Snapshots.PartMeta] = Nil
  private var zoneCounts: Array[Row] = Array.empty
  private val layer = scala.collection.mutable.Map.empty[(Int, String), Double]

  private def root: String = work.resolve("snapshots").toString

  def setup(): Unit = {
    val s = seed
    gaz = (0 until WebGen.Places).map { k =>
      val (x, y) = WebGen.place(s, k); (WebGen.placeName(k), k, x, y)
    }.toDF("name", "place_id", "x", "y").localCheckpoint(true)
    pages = spark.range(pageCount).map { i =>
      (i, WebGen.url(i), 1767225600L + i * 7, WebGen.text(s, i),
        Seq("en", "de", "fr", "es", "pt")((i % 5).toInt))
    }.toDF("id", "url", "ts", "text", "lang")
      .select(col("url"), timestamp_seconds(col("ts")).as("warc_ts"),
        html_wrap(col("id"), col("text")).as("html"), col("text"),
        col("lang"))
      .localCheckpoint(true)
    zones = Derived.scaledZones(spark, ZoneRes, ZonesPerCell, zoneVerts)
      .where(col("max_x") >= WebGen.LonMin && col("min_x") <= WebGen.LonMax &&
        col("max_y") >= WebGen.LatMin && col("min_y") <= WebGen.LatMax)
      .localCheckpoint(true)
    mentionTotal = (0L until pageCount).map(WebGen.mentionCount(s, _).toLong).sum
    buildExpectations()
  }

  /** Brute force over ALL zones for a seeded page sample: bbox
    * pretest over every zone's bbox, then the exact `Geo.pipContains`
    * on the zones whose bbox holds the point. */
  private def buildExpectations(): Unit = {
    val idx = (0 until SampleUrls).map(j =>
      java.lang.Math.floorMod(Rng.long(seed, 19, j), pageCount.toLong))
      .distinct
    val bboxes = zones.select("zone_id", "min_x", "max_x", "min_y", "max_y")
      .as[(Long, Double, Double, Double, Double)].collect()
    val mentions = idx.map { i =>
      i -> (0 until WebGen.mentionCount(seed, i)).map { j =>
        val k = WebGen.mentionPlace(seed, i, j); (k, WebGen.place(seed, k))
      }
    }
    val cand = mentions.flatMap(_._2).map(_._2).distinct.map { case (x, y) =>
      (x, y) -> bboxes.filter(b => x >= b._2 && x <= b._3 && y >= b._4 &&
        y <= b._5).map(_._1).toSeq
    }.toMap
    val ids = cand.values.flatten.toSeq.distinct
    val rings = zones.where(col("zone_id").isin(ids: _*))
      .select("zone_id", "xs", "ys", "parts")
      .as[(Long, Array[Double], Array[Double], Array[Int])].collect()
      .map(z => z._1 -> z).toMap
    expected = mentions.map { case (i, ms) =>
      WebGen.url(i) -> ms.flatMap { case (k, (x, y)) =>
        cand((x, y)).filter { z =>
          val r = rings(z); Geo.pipContains(x, y, r._2, r._3, r._4)
        }.map(z => (k, z))
      }.sorted
    }.toMap
    sampleRings = rings.values.toSeq.sortBy(_._1).map(z => (z._2, z._3))
    samplePoints = cand.keys.toArray.sorted
    sampleHtml = pages.where(col("url").isin(expected.keys.toSeq: _*))
      .select("html").as[Array[Byte]].collect()
  }

  def teardown(): Unit =
    Seq(gaz, pages, zones).foreach(f => if (f != null) f.unpersist(true))

  def run(r: Int): Unit = {
    val x = t.build("extract") {
      pages.select(col("url"), col("text"),
        html_extract_text(col("html")).as("xtext"))
    }
    extracted = t.action("extract")(x.localCheckpoint(true))
    val m = t.build("gazetteer_join") {
      extracted.select(col("url"),
          explode(TextOps.tokens(col("xtext"))).as("tok"))
        .join(broadcast(gaz), col("tok") === col("name"))
        .select(col("url"), col("place_id"), col("x"), col("y"))
    }
    mentions = t.action("gazetteer_join")(m.localCheckpoint(true))
    val joined = t.build("pip_join") {
      SpatialJoins.pipJoin(mentions, zones, res = ZoneRes)
    }
    hits = t.action("pip_join")(joined.localCheckpoint(true))
    metas = t.call("write_snapshot") {
      Snapshots.writeSnapshot(hits, root, "zone_hits", r, "zone_id",
        SnapshotParts)
    }
    resumed = t.call("resume") {
      Snapshots.writeSnapshot(hits, root, "zone_hits", r, "zone_id",
        SnapshotParts)
    }
    val back = t.build("read_snapshot") {
      Snapshots.readSnapshot(spark, root, "zone_hits", r)
    }
    zoneCounts = t.action("read_snapshot") {
      back.groupBy("zone_id").count().collect()
    }
  }

  def check(r: Int, traced: Boolean): Seq[String] = {
    val nHits = hits.count()
    val extractOk = checkOp("extract") {
      val row = extracted.agg(count(lit(1)),
        sum(when(sha2(col("xtext"), 256) === sha2(col("text"), 256), 0)
          .otherwise(1))).head()
      row.getLong(0) == pageCount && row.getLong(1) == 0L
    }
    val pipOk = checkOp("pip_join") {
      val got = hits.where(col("url").isin(expected.keys.toSeq: _*))
        .select("url", "place_id", "zone_id")
        .as[(String, Int, Long)].collect()
        .groupBy(_._1).map { case (u, rs) =>
          u -> rs.map(x => (x._2, x._3)).toSeq.sorted }
      expected.forall { case (u, want) => got.getOrElse(u, Nil) == want }
    }
    val writeOk = checkOp("write_snapshot") {
      metas.map(_.rows).sum == nHits && metas.size == SnapshotParts
    }
    val resumeOk = checkOp("resume") {
      resumed.isEmpty && Snapshots.isSealed(root, "zone_hits", r)
    }
    val readOk = checkOp("read_snapshot") {
      zoneCounts.map(_.getLong(1)).sum == nHits
    }
    val gazOk = checkOp("gazetteer_join")(mentions.count() == mentionTotal)
    if (traced) recordLayer(r, nHits)
    Seq(extractOk, gazOk, pipOk, writeOk, resumeOk, readOk).flatten
  }

  private def recordLayer(r: Int, nHits: Long): Unit = {
    t.drain()
    val spans = t.repSpans(r)
    def rows(call: String): Long = SqlMetrics.pairRows(spark,
      SqlMetrics.execIds(t, spans.filter(_.name.startsWith(call))))
    // The exact predicate runs inside the cell equi-join's condition,
    // so Spark reports no count of the (point, zone) pairs it tested;
    // the candidates are the mention rows the join received.
    layer((r, "candidates_per_hit")) =
      rows("gazetteer_join").toDouble / math.max(rows("pip_join"), 1L)
    val snapDir = work.resolve("snapshots").resolve("zone_hits")
      .resolve(r.toString)
    val files = Files.walk(snapDir).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).count()
    layer((r, "files_written")) = files.toDouble
    layer((r, "write_bytes_per_row")) =
      metas.map(_.bytes).sum.toDouble / math.max(nHits, 1L)
  }

  override def release(r: Int): Unit = {
    Seq(extracted, mentions, hits).foreach(f => if (f != null) f.unpersist(true))
    extracted = null; mentions = null; hits = null
    deleteTree(work.resolve("snapshots"))
  }

  def layerMetrics(reps: Seq[Int]): Seq[Metric] = {
    def span(r: Int, n: String): Double =
      t.repSpans(r).filter(_.name == n).map(_.seconds).sum
    Seq(
      Metric("operators.pip_join.candidates_per_hit",
        perRep(reps)(r => layer((r, "candidates_per_hit"))), "ratio"),
      Metric("pipeline.write_snapshot_s",
        perRep(reps)(span(_, "write_snapshot")), "s"),
      Metric("pipeline.write_bytes_per_row",
        perRep(reps)(r => layer((r, "write_bytes_per_row"))), "B"),
      Metric("pipeline.files_written",
        perRep(reps)(r => layer((r, "files_written"))), "count"),
      Metric("pipeline.read_snapshot_s", perRep(reps)(r =>
        span(r, "read_snapshot") + span(r, "read_snapshot.action")), "s"),
      Metric("pipeline.resume_s", perRep(reps)(span(_, "resume")), "s"))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}

package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SpatialJoins

/** Seeded point clouds with `Derived.customerPoints`' hot cluster:
  * points with id % 11 < 3 (exactly 3 of every 11, as there) fall in a
  * 0.01 x 0.01 degree box at (12.34, 45.67). The others are stratified
  * over lon [-lonMax, lonMax), lat [-latMax, latMax): one seeded point
  * in each cell of a grid with one cell per point, so no seed leaves a
  * large empty region. A seeded hot share, or a probe whose
  * neighbourhood is cut by an empty region or the grid's edge, would
  * change the kNN round count, and the rep time with it, from seed to
  * seed. */
object PointGen {
  def point(seed: Long, stream: Long, n: Long, i: Long, lonMax: Double,
            latMax: Double): (Double, Double) = {
    val u = Rng.unit(seed, stream, 2 * i)
    val w = Rng.unit(seed, stream, 2 * i + 1)
    if (i % 11 < 3) (12.34 + 0.01 * u, 45.67 + 0.01 * w)
    else {
      val q = i / 11 * 8 + (i % 11 - 3)
      val cold = n / 11 * 8 + math.max(0L, n % 11 - 3)
      val cols = math.ceil(math.sqrt(cold * lonMax / latMax)).toLong
      val rows = (cold + cols - 1) / cols
      (-lonMax + 2 * lonMax * ((q % cols) + u) / cols,
        -latMax + 2 * latMax * ((q / cols) + w) / rows)
    }
  }

  /** Probe i of n; probes stay clear of the build cloud's edges and
    * of the antimeridian. */
  def probe(seed: Long, n: Long, i: Long): (Double, Double) =
    point(seed, 31, n, i, 170.0, 60.0)

  def build(seed: Long, n: Long, i: Long): (Double, Double) =
    point(seed, 41, n, i, 180.0, 85.0)
}

/**
 * `point_joins`: `knnJoin` (k = 5) and `distanceJoin` of a probe cloud
 * against a build cloud, both with the hot cluster. The build side is
 * kept above `SpatialJoins.broadcastKnnMaxBuildRows`, so kNN takes the
 * iterative-deepening arm.
 */
final class PointJoins(spark: SparkSession, t: Tracer, seed: Long,
                       probeCount: Int, buildCount: Int)
    extends Workload(spark, t, seed) {
  import spark.implicits._

  val name = "point_joins"
  val K = 5
  val Radius = 0.002
  val Sample = 24
  val warmupReps = 3
  def items: Long = probeCount
  val ops = Seq("knn_join", "distance_join")
  val operators = ops

  private var probes: DataFrame = _
  private var build: DataFrame = _
  private var bx: Array[Double] = Array.empty
  private var by: Array[Double] = Array.empty
  private var sample: Seq[Long] = Nil
  private var knnRows: Array[(Long, Long, Long, Double)] = Array.empty
  private var withinCounts: Map[Long, Long] = Map.empty
  private val candidates = scala.collection.mutable.Map.empty[Int, Double]

  require(buildCount > SpatialJoins.broadcastKnnMaxBuildRows,
    "point_joins measures the iterative-deepening kNN arm")

  /** Probe and build points (for the cell-assignment kernel leg). */
  def points: Array[(Double, Double)] =
    (0 until probeCount).map(i => PointGen.probe(seed, probeCount, i))
      .toArray ++ bx.indices.map(i => (bx(i), by(i)))

  def setup(): Unit = {
    val (s, n, m) = (seed, probeCount.toLong, buildCount.toLong)
    probes = spark.range(n).map { i =>
      val (x, y) = PointGen.probe(s, n, i); (i, x, y)
    }.toDF("pid", "x", "y").localCheckpoint(true)
    build = spark.range(m).map { i =>
      val (x, y) = PointGen.build(s, m, i); (i, x, y)
    }.toDF("bid", "bx", "by").localCheckpoint(true)
    val pts = (0L until m).map(i => PointGen.build(s, m, i))
    bx = pts.map(_._1).toArray
    by = pts.map(_._2).toArray
    sample = (0 until Sample).map(j =>
      java.lang.Math.floorMod(Rng.long(seed, 32, j), probeCount.toLong))
      .distinct
  }

  def teardown(): Unit =
    Seq(probes, build).foreach(f => if (f != null) f.unpersist(true))

  def run(r: Int): Unit = {
    val knn = t.build("knn_join") {
      SpatialJoins.knnJoin(probes, build, K, probeId = "pid",
        buildId = "bid", px = "x", py = "y", bx = "bx", by = "by")
    }
    knnRows = t.action("knn_join") {
      knn.select("pid", "bid", "rnk", "dist2")
        .as[(Long, Long, Long, Double)].collect()
    }
    val dj = t.build("distance_join") {
      SpatialJoins.distanceJoin(probes, build, Radius, lx = "x", ly = "y",
        rx = "bx", ry = "by")
    }
    withinCounts = t.action("distance_join") {
      dj.groupBy("pid").count().as[(Long, Long)].collect().toMap
    }
  }

  def check(r: Int, traced: Boolean): Seq[String] = {
    val byProbe = knnRows.groupBy(_._1)
    val knnOk = checkOp("knn_join") {
      knnRows.length == probeCount.toLong * K && sample.forall { p =>
        val (x, y) = PointGen.probe(seed, probeCount, p)
        val want = nearest(x, y)
        val got = byProbe.getOrElse(p, Array.empty).sortBy(_._3)
          .map(g => (g._4, g._2)).toSeq
        got == want
      }
    }
    val distOk = checkOp("distance_join") {
      sample.forall { p =>
        val (x, y) = PointGen.probe(seed, probeCount, p)
        val want = bx.indices.count { i =>
          val dx = x - bx(i); val dy = y - by(i)
          dx * dx + dy * dy <= Radius * Radius
        }
        withinCounts.getOrElse(p, 0L) == want
      }
    }
    if (traced) {
      t.drain()
      val knn = t.repSpans(r).filter(_.name.startsWith("knn_join"))
      candidates(r) =
        SqlMetrics.pairRows(spark, SqlMetrics.execIds(t, knn)).toDouble /
          math.max(knnRows.length, 1)
    }
    Seq(knnOk, distOk).flatten
  }

  /** Brute-force top-K build points by (dist2, id). */
  private def nearest(x: Double, y: Double): Seq[(Double, Long)] = {
    val best = scala.collection.mutable.TreeSet.empty[(Double, Long)]
    var i = 0
    while (i < bx.length) {
      val dx = x - bx(i); val dy = y - by(i)
      val e = (dx * dx + dy * dy, i.toLong)
      if (best.size < K) best += e
      else if (Ordering[(Double, Long)].lt(e, best.last)) {
        best -= best.last; best += e
      }
      i += 1
    }
    best.toSeq
  }

  override def release(r: Int): Unit = {
    knnRows = Array.empty; withinCounts = Map.empty
  }

  def layerMetrics(reps: Seq[Int]): Seq[Metric] = Seq(
    Metric("operators.knn_join.candidates_per_output",
      perRep(reps)(candidates), "ratio"))
}

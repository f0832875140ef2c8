package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Terrain

/** Seeded synthetic DEM: a tilted plane plus sinusoidal relief plus
  * hashed noise. Where the relief is steeper than the tilt it closes
  * real depressions for `fillDepressions` to fill; elsewhere the tilt
  * carries flowpaths across the whole grid. The relief is fixed and
  * the noise is seeded and tiny: every DEM is new data with the same
  * depressions and spill points, which keeps the fill's round count,
  * and so its job count, the same from one DEM to the next (a noise
  * of 0.05 moved it between 23 and 32 jobs). */
object DemGen {
  def value(seed: Long, cols: Int, i: Long): Double = {
    val r = (i / cols).toDouble
    val c = (i % cols).toDouble
    0.08 * r + 0.05 * c +
      0.5 * math.sin(r / 3.7) * math.cos(c / 4.3) +
      0.002 * Rng.unit(seed, 22, i)
  }
}

/**
 * `dem_hydro`: raster hydrology on a fresh DEM every repetition,
 * `fillDepressions` -> `d8Pointer` -> `flowAccumD8` -> `dinfAccum` ->
 * `watershed`, every output collected. The grid stays below
 * `Terrain.localFixpointMaxRows`, so the one-task arms run. A fresh
 * DEM per repetition keeps the per-DEM memo from serving a repetition
 * from the one before; within a repetition the D8 pointer is shared
 * through the memo as in production.
 */
final class DemHydro(spark: SparkSession, t: Tracer, seed: Long,
                     side: Int) extends Workload(spark, t, seed) {
  import spark.implicits._

  val name = "dem_hydro"
  val warmupReps = 2
  def items: Long = side.toLong * side
  val ops = Seq("fill", "d8", "flow_accum", "dinf_accum", "watershed")
  val operators = ops

  private var dem: DataFrame = _
  private var v: Array[Double] = Array.empty
  private var out = Map.empty[String, Array[(Long, Long, Double)]]
  private var grid: DataFrame = _
  private val residual = scala.collection.mutable.Map.empty[Int, Double]

  require(items < Terrain.localFixpointMaxRows,
    "dem_hydro measures the one-task arms")

  def setup(): Unit = ()
  def teardown(): Unit = ()

  private def demSeed(r: Int): Long = Rng.long(seed, 23, r.toLong)

  override def prepare(r: Int): Unit = {
    val s = demSeed(r)
    val n = side
    v = Array.tabulate(n * n)(i => DemGen.value(s, n, i))
    dem = spark.range(n.toLong * n).map { i =>
      (i / n, i % n, DemGen.value(s, n, i))
    }.toDF("r", "c", "v").localCheckpoint(true)
  }

  def run(r: Int): Unit = {
    def cells(df: DataFrame, c: String): Array[(Long, Long, Double)] =
      df.select(col("r"), col("c"), col(c).cast("double"))
        .as[(Long, Long, Double)].collect()
    val filled = t.build("fill")(Terrain.fillDepressions(dem, side, side))
    val f = t.action("fill")(cells(filled, "filled"))
    grid = filled.select(col("r"), col("c"), col("filled").as("v"))
    val d8 = t.build("d8")(Terrain.d8Pointer(grid))
    val p = t.action("d8")(cells(d8, "ptr"))
    val fa = t.build("flow_accum")(Terrain.flowAccumD8(grid))
    val a = t.action("flow_accum")(cells(fa, "n_upslope"))
    val di = t.build("dinf_accum")(Terrain.dinfAccum(grid))
    val d = t.action("dinf_accum")(cells(di, "acc"))
    val ws = t.build("watershed")(Terrain.watershed(grid, side))
    val w = t.action("watershed")(cells(ws, "sink_id"))
    out = Map("fill" -> f, "d8" -> p, "flow_accum" -> a, "dinf_accum" -> d,
      "watershed" -> w)
  }

  def check(r: Int, traced: Boolean): Seq[String] = {
    val n = side
    def grid(name: String): Array[Double] = {
      val g = Array.fill(n * n)(Double.NaN)
      out(name).foreach { case (rr, cc, x) => g((rr * n + cc).toInt) = x }
      g
    }
    val rows = out.map { case (k, a) => k -> a.length }
    val ptr = grid("d8")
    def sink(i: Int): Boolean = ptr(i) == 0.0
    val fails = Seq(
      // a memo hit across repetitions would run no fill job at all
      checkOp("fill") {
        t.drain()
        val jobs = t.jobs(r, "fill")
        if (jobs <= 0) warn(s"fill ran $jobs jobs: memo served a stale DEM")
        val f = grid("fill")
        jobs > 0 && rows("fill") == n * n &&
          f.indices.forall(i => f(i) >= v(i))
      },
      checkOp("d8") {
        rows("d8") == n * n && ptr.forall(p =>
          p == 0.0 || (0 until 8).exists(k => p == (1 << k).toDouble))
      },
      // D8 accumulation is conserved: every cell drains to one sink
      checkOp("flow_accum") {
        val a = grid("flow_accum")
        rows("flow_accum") == n * n &&
          a.indices.filter(sink).map(a(_)).sum == n.toDouble * n
      },
      checkOp("dinf_accum") {
        rows("dinf_accum") == n * n && grid("dinf_accum").forall(_ >= 1.0)
      },
      checkOp("watershed") {
        val w = grid("watershed")
        rows("watershed") == n * n && w.forall(s => sink(s.toInt))
      }).flatten
    if (traced) residual(r) = massResidual(grid("dinf_accum"))
    fails
  }

  /** Dinf outlet inflow minus loaded cells: the accumulation summed
    * over cells without an outgoing Dinf edge, minus the cell count.
    * Zero when the fixed-round iteration has converged. */
  private def massResidual(acc: Array[Double]): Double = {
    val n = side
    val src = Terrain.dinfEdges(grid).select(col("r"), col("c")).distinct()
      .as[(Long, Long)].collect().map { case (rr, cc) => (rr * n + cc).toInt }
      .toSet
    acc.indices.filterNot(src.contains).map(acc(_)).sum - n.toDouble * n
  }

  override def release(r: Int): Unit = {
    if (dem != null) dem.unpersist(true)
    dem = null; grid = null; out = Map.empty
  }

  def layerMetrics(reps: Seq[Int]): Seq[Metric] = Seq(
    Metric("operators.dinf_accum.mass_residual",
      perRep(reps)(residual), "cells"))
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import FixpointArms.both

/** The DAG folds are exact however long the flowpaths: on a strip whose
  * longest flowpath is 69 steps, both arms equal a driver-side Jacobi
  * run until stationary and conserve mass. A cycle fails both arms of
  * the folds and of the pointer chase. */
class LongFlowpathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 3 x 70 strip rising with r and c: every flowpath ends along row 0
  // at the single outlet (0, 0), so the longest D8 and Dinf path has
  // 69 steps
  private val nR = 3L
  private val nC = 70L
  private lazy val strip =
    (for (r <- 0L until nR; c <- 0L until nC) yield (r, c, 0.08 * r + 0.05 * c))
      .toDF("r", "c", "v")
  private def nCells = nR * nC

  private def byCell(df: DataFrame, k: Int): Map[(Long, Long), Double] =
    df.collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(k)).toMap

  /** Driver-side synchronous Jacobi of acc = 1 + Σ_{j=0..7} w·acc_src
    * over (r, c, tr, tc, w, j) edges, slots added in ascending j, run
    * until no cell changes; returns the fixpoint and the round count. */
  private def jacobi(edges: DataFrame): (Map[(Long, Long), Double], Int) = {
    val in = edges.collect().map { x =>
      ((x.getAs[Long]("tr"), x.getAs[Long]("tc")),
        x.getAs[Number]("j").intValue) ->
        ((x.getAs[Long]("r"), x.getAs[Long]("c")), x.getAs[Double]("w"))
    }.toMap
    val cells = for (r <- 0L until nR; c <- 0L until nC) yield (r, c)
    var acc = cells.map(_ -> 1.0).toMap
    var rounds = 0
    var changed = true
    while (changed) {
      rounds += 1
      assert(rounds <= nCells, "driver Jacobi not stationary")
      val next = cells.map { t =>
        t -> (0 until 8).foldLeft(1.0) { (s, j) =>
          s + in.get((t, j)).fold(0.0) { case (src, w) => w * acc(src) }
        }
      }.toMap
      changed = next != acc
      acc = next
    }
    (acc, rounds)
  }

  /** Cells with no out-edge: where all the generated flow ends. */
  private def outlets(edges: DataFrame): Seq[(Long, Long)] = {
    val src = edges.select("r", "c").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    for (r <- 0L until nR; c <- 0L until nC if !src((r, c))) yield (r, c)
  }

  private def checkAccum(edges: DataFrame, run: () => DataFrame): Unit = {
    val (fix, rounds) = jacobi(edges)
    assert(rounds > 64, s"fixture too short: stationary after $rounds rounds")
    val acc = both(() => byCell(run(), 2))
    assert(acc == fix)
    val out = outlets(edges).map(acc).sum
    assert(math.abs(out - nCells) < 1e-6, s"outlet inflow $out of $nCells cells")
  }

  test("dinf accumulation on a 69-step flowpath: exact and conserving") {
    checkAccum(Terrain.dinfEdges(strip), () => Terrain.dinfAccum(strip))
  }

  test("fd8 accumulation on a 69-step flowpath: exact and conserving") {
    checkAccum(Terrain.fd8Edges(strip, 1.0), () => Terrain.fd8Accum(strip, 1.0))
  }

  test("mdinf accumulation on a 69-step flowpath: exact and conserving") {
    // mdinfAccum is memoized: a fresh input per arm defeats the memo
    checkAccum(Terrain.mdinfEdges(strip, 1.0),
      () => Terrain.mdinfAccum(strip.localCheckpoint(), 1.0))
  }

  test("mass flux d8 with eff 1, absorp 0 delivers the whole load to the outlet") {
    val g = strip
      .withColumn("load", lit(1.0) + (col("r") * 7 + col("c")) % 5 * lit(0.25))
      .withColumn("eff", lit(1.0))
      .withColumn("absorp", lit(0.0))
    val total = g.agg(sum("load")).head().getDouble(0)
    val acc = both(() => byCell(Terrain.massFluxD8(g), 2))
    assert(math.abs(acc((0L, 0L)) - total) < 1e-9,
      s"outlet ${acc((0L, 0L))} of load $total")
  }

  test("upslope flowpath n_paths == D8 flow accumulation on a 69-step flowpath") {
    val paths = both(() => Terrain.upslopeFlowpathStats(strip).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(3)).toMap)
    // flowAccumD8 is memoized: a fresh input per arm defeats the memo
    val accum = both(() => Terrain.flowAccumD8(strip.localCheckpoint())
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap)
    assert(paths == accum)
    assert(paths((0L, 0L)) == nCells)
  }

  /** Asserts that `run` fails on both arms, naming `op` and the cycle. */
  private def failsOnBothArms(op: String)(run: () => Any): Unit = {
    val saved = Terrain.localFixpointMaxRows
    try {
      for (limit <- Seq(Long.MaxValue, 0L)) {
        Terrain.localFixpointMaxRows = limit
        val e = intercept[Exception](run())
        assert(e.getMessage.contains(s"$op: ") &&
          e.getMessage.contains("cycle"), e.getMessage)
      }
    } finally Terrain.localFixpointMaxRows = saved
  }

  test("a 2-cell cycle fails the slot fold on both arms") {
    val cells = Seq((0L, 0L), (0L, 1L)).toDF("r", "c")
    val edges = Seq((0L, 0L, 0L, 1L, 1.0, 5), (0L, 1L, 0L, 0L, 1.0, 1))
      .toDF("r", "c", "tr", "tc", "w", "j")
    failsOnBothArms("weightedAccum")(() =>
      Terrain.weightedAccum(edges, cells).collect())
  }

  test("a 2-cell cycle fails the successor fold on both arms") {
    // zero costs tie every backlink, and the window-index tie-break
    // points (0, 0) and (0, 1) at each other
    val cost = (for (r <- 0L until 2L; c <- 0L until 3L) yield (r, c, 0.0))
      .toDF("r", "c", "v")
    val sources = Seq((1L, 2L)).toDF("r", "c")
    val dests = Seq((0L, 0L)).toDF("r", "c")
    failsOnBothArms("costPathway")(() =>
      Terrain.costPathway(cost, sources, dests, 2, 3).collect())
  }

  // 3 x 3 DEM with a NaN centre: a NaN slope compares greatest, so
  // every neighbour points at the centre and the centre at its first
  // neighbour (0, 2), a 2-cycle in the D8 pointer
  private lazy val nanCentre =
    (for (r <- 0L until 3L; c <- 0L until 3L)
      yield (r, c, if (r == 1 && c == 1) Double.NaN else (r + c).toDouble))
      .toDF("r", "c", "v")

  test("a D8 pointer cycle fails the watershed chase on both arms") {
    failsOnBothArms("watershed")(() =>
      Terrain.watershed(nanCentre, 3).collect())
  }

  test("a D8 pointer cycle fails the flowpath-length chase on both arms") {
    failsOnBothArms("flowpathLength")(() =>
      Terrain.flowpathLength(nanCentre).collect())
  }
}

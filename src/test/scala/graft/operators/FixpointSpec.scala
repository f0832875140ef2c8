package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import FixpointArms.both

/** The size-adaptive fixpoints must produce BIT-IDENTICAL results on
  * both strategies: the one-task local kernel (small-relation path)
  * and the distributed rounds (the 100 TB path). Each test runs the
  * same operator with `localFixpointMaxRows` unlimited (local kernel)
  * and forced to 0 (distributed), and compares exactly. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hashGrid(nR: Long, nC: Long) =
    (for (r <- 0L until nR; c <- 0L until nC)
      yield (r, c, ((r * nC + c) * 37 % 1000).toDouble / 10.0))
      .toDF("r", "c", "v")

  test("flow accumulation: local Kahn == tiled packet rounds") {
    val g = hashGrid(20, 25)
    // flowAccumD8 is memoized: a fresh input per arm defeats the memo
    both(() => Terrain.flowAccumD8(g.localCheckpoint()).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap)
  }

  test("watershed: local chase == distributed doubling") {
    val g = hashGrid(20, 25)
    both(() => Terrain.watershed(g, 25).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap)
  }

  test("flowpath length: local chase == distributed doubling") {
    val g = hashGrid(20, 25)
    both(() => Terrain.flowpathLength(g).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("stream links: local chase == distributed doubling") {
    val g = hashGrid(20, 25)
    both(() => Terrain.streamLinkId(g, 5, 25).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap)
  }

  test("upstream channel stats: local Kahn == distributed Jacobi") {
    val g = hashGrid(20, 25)
    both(() => Terrain.upstreamChannelStats(g, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3))).toMap)
  }

  test("downslope index: local walk == distributed stepping") {
    val g = hashGrid(20, 25)
    both(() => Terrain.downslopeIndex(g, 15.0).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("fd8 accumulation: local Jacobi == distributed rounds") {
    val g = hashGrid(20, 25)
    both(() => Terrain.fd8Accum(g, 1.0).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("dinf accumulation: local Jacobi == distributed rounds") {
    val g = hashGrid(20, 25)
    both(() => Terrain.dinfAccum(g).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("kNN join: broadcast kd-tree == iterative deepening (ties incl.)") {
    // clustered + duplicate coordinates to exercise the tie-break
    val build = (0L until 400L).map { i =>
      (i, (i % 23).toDouble * 0.37 + (i % 7) * 0.01,
        (i % 19).toDouble * 0.29 + (i % 5) * 0.01)
    } ++ Seq((400L, 1.0, 1.0), (401L, 1.0, 1.0), (402L, 1.0, 1.0))
    val probe = (0L until 150L).map { i =>
      (i, (i % 17).toDouble * 0.41, (i % 13).toDouble * 0.33)
    }
    val bDf = build.toDF("bid", "bx0", "by0")
    val pDf = probe.toDF("pid", "px0", "py0")
    def run(): Map[(Long, Long), (Long, Double)] =
      SpatialJoins.knnJoin(pDf, bDf, 4, probeId = "pid",
          buildId = "bid", px = "px0", py = "py0", bx = "bx0",
          by = "by0")
        .collect()
        .map(x => (x.getLong(0), x.getLong(2)) ->
          (x.getLong(1), x.getDouble(3))).toMap
    val saved = SpatialJoins.broadcastKnnMaxBuildRows
    try {
      SpatialJoins.broadcastKnnMaxBuildRows = Long.MaxValue
      val bcast = run()
      SpatialJoins.broadcastKnnMaxBuildRows = 0L
      val iter = run()
      assert(bcast.keySet == iter.keySet)
      bcast.foreach { case (k, v) =>
        assert(v == iter(k), s"probe/rnk $k: bcast=$v iter=${iter(k)}")
      }
    } finally SpatialJoins.broadcastKnnMaxBuildRows = saved
  }

  test("connected components: local union-find == label propagation") {
    // chains, a cycle, a star, self-loop isolated nodes
    val edges = ((0L until 50L).map(i => (i * 3, i * 3 + 3)) ++
      Seq((1000L, 1001L), (1001L, 1002L), (1002L, 1000L)) ++
      (0L until 10L).map(i => (2000L, 2001L + i)) ++
      Seq((5000L, 5000L), (6000L, 6000L))).toDF("a", "b")
    def run(): Map[Long, Long] = GraphCC.label(edges).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val saved = GraphCC.localMaxEdges
    try {
      GraphCC.localMaxEdges = Long.MaxValue
      val local = run()
      GraphCC.localMaxEdges = 0L
      val dist = run()
      assert(local == dist)
    } finally GraphCC.localMaxEdges = saved
  }

  test("mass flux: local Jacobi == distributed rounds") {
    val g = hashGrid(20, 25)
      .withColumn("load", col("v") / 10.0)
      .withColumn("eff", lit(0.9))
      .withColumn("absorp", lit(0.5))
    both(() => Terrain.massFluxD8(g).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("mdinf accumulation: local Kahn == distributed rounds") {
    val g = hashGrid(20, 25)
    // mdinfAccum is memoized: a fresh input per arm defeats the memo
    both(() => Terrain.mdinfAccum(g.localCheckpoint(), 1.0).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("mass flux dinf: local Kahn == distributed rounds") {
    val g = hashGrid(20, 25)
      .withColumn("load", col("v") / 10.0)
      .withColumn("eff", lit(0.8) + (col("r") % 3) * lit(0.05))
      .withColumn("absorp", (col("c") % 4) * lit(0.01))
    both(() => Terrain.massFluxDinf(g).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("stream heads mdinf: local Kahn == distributed rounds") {
    val g = hashGrid(20, 25)
    val heads = both(() => Terrain.streamHeadsMdinf(g, caThr = 5.0)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getInt(2))
      .toMap)
    assert(heads.values.exists(_ == 1), "some stream heads")
  }

  test("upslope flowpath stats: local Kahn == distributed rounds") {
    val g = hashGrid(20, 25)
    both(() => Terrain.upslopeFlowpathStats(g).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4))).toMap)
  }

  test("cost pathway: local Kahn == distributed rounds") {
    val g = hashGrid(20, 25)
    val cost = g.select(col("r"), col("c"), (col("v") / 100.0 + 1.0).as("v"))
    val sources = g.where(col("v") >= 97.0).select("r", "c")
    val dests = g.where(col("v") <= 5.0).select("r", "c")
    val paths = both(() => Terrain.costPathway(cost, sources, dests, 20, 25)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2))
      .toMap)
    assert(paths.nonEmpty)
  }
}

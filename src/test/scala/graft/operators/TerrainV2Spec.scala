package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 terrain additions: Dinf pointer/accumulation, viewshed,
  * kriging, contour polyline assembly, stream polylines. */
class TerrainV2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hashGrid(nR: Long, nC: Long) =
    (for (r <- 0L until nR; c <- 0L until nC)
      yield (r, c, ((r * nC + c) * 37 % 1000).toDouble / 10.0))
      .toDF("r", "c", "v")

  test("dinf pointer: weights in [0,1], sum 1, targets strictly lower") {
    val g = hashGrid(20, 25)
    val z = g.collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    val p = Terrain.dinfPointer(g).collect()
    assert(p.nonEmpty)
    p.foreach { row =>
      val (r, c) = (row.getLong(0), row.getLong(1))
      val w1 = row.getDouble(5); val w2 = row.getDouble(8)
      assert(w1 >= 0 && w2 >= 0 && math.abs(w1 + w2 - 1.0) < 1e-12)
      val z0 = z((r, c))
      if (w1 > 0) assert(z((row.getLong(3), row.getLong(4))) < z0)
      if (w2 > 0) assert(z((row.getLong(6), row.getLong(7))) < z0)
    }
  }

  test("dinf accumulation matches driver-side Jacobi fixpoint") {
    val g = hashGrid(20, 25)
    val edges = Terrain.dinfEdges(g).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4)))
    val cells = g.collect().map(x => (x.getLong(0), x.getLong(1)))
    var acc = cells.map(_ -> 1.0).toMap
    var converged = false
    var it = 0
    while (!converged && it < 100) {
      val nxt = scala.collection.mutable.Map(cells.map(_ -> 1.0): _*)
      edges.foreach { case (r, c, tr, tc, w) =>
        nxt((tr, tc)) += w * acc((r, c))
      }
      converged = cells.forall(k => nxt(k) == acc(k))
      acc = nxt.toMap
      it += 1
    }
    assert(converged, s"driver Jacobi did not converge in $it rounds")
    val got = Terrain.dinfAccum(g).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    cells.foreach { k =>
      assert(math.abs(got(k) - acc(k)) < 1e-9, s"cell $k: ${got(k)} vs ${acc(k)}")
    }
  }

  test("viewshed: flat grid fully visible; wall shadows behind it") {
    val flat = (for (r <- 0L until 9L; c <- 0L until 9L)
      yield (r, c, 10.0)).toDF("r", "c", "v")
    val vflat = Terrain.viewshed(flat, 4, 4).collect()
    assert(vflat.forall(_.getLong(2) == 1L), "flat grid must be fully visible")

    // wall at c = 6 (height 100) between station (4,4) and col 8
    val wall = (for (r <- 0L until 9L; c <- 0L until 9L)
      yield (r, c, if (c == 6) 100.0 else 10.0)).toDF("r", "c", "v")
    val vw = Terrain.viewshed(wall, 4, 4).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(vw((4L, 6L)) == 1L, "the wall top itself is visible")
    assert(vw((4L, 7L)) == 0L && vw((4L, 8L)) == 0L,
      "cells straight behind the wall are shadowed")
    assert(vw((4L, 2L)) == 1L, "cells on the open side stay visible")
  }

  test("kriging: general solver matches closed form at k = 2; constant field exact") {
    val g = hashGrid(20, 25)
    val smp = g.where(col("v") >= 90)
      .select((col("r") * 25 + col("c")).as("sid"),
        col("c").cast("double").as("sx"), col("r").cast("double").as("sy"),
        col("v").as("sv")).localCheckpoint(true)
    val tgt = g.select((col("r") * 25 + col("c")).as("tid"),
      col("c").cast("double").as("tx"), col("r").cast("double").as("ty"))
    val general = Kriging.ordinaryKriging(smp, tgt, 2,
        nugget = 0.1, psill = 0.9, range = 15.0)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val nn = SpatialJoins.knnJoin(tgt, smp, 2, probeId = "tid",
      buildId = "sid", px = "tx", py = "ty", bx = "sx", by = "sy")
    val pv = nn.join(smp, Seq("sid")).groupBy("tid").agg(
      max(when(col("rnk") === 1, col("sx"))).as("sx1"),
      max(when(col("rnk") === 1, col("sy"))).as("sy1"),
      max(when(col("rnk") === 1, col("sv"))).as("sv1"),
      max(when(col("rnk") === 1, col("dist2"))).as("d21"),
      max(when(col("rnk") === 2, col("sx"))).as("sx2"),
      max(when(col("rnk") === 2, col("sy"))).as("sy2"),
      max(when(col("rnk") === 2, col("sv"))).as("sv2"),
      max(when(col("rnk") === 2, col("dist2"))).as("d22"))
    val closed = Kriging.krige2Closed(pv, 0.1, 0.9, 15.0)
      .select(col("tid"), col("est")).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    closed.foreach { case (tid, est) =>
      assert(math.abs(general(tid) - est) < 1e-8, s"tid $tid")
    }
    // constant field: weights sum to 1 -> estimate == the constant
    val csmp = smp.withColumn("sv", lit(42.5))
    val cg = Kriging.ordinaryKriging(csmp, tgt, 4,
      nugget = 0.1, psill = 0.9, range = 15.0).collect()
    cg.foreach(x => assert(math.abs(x.getDouble(1) - 42.5) < 1e-9))

    // k = 3 closed form (geo_kriging_knn's arm) matches the general
    // partial-pivot solver
    val general3 = Kriging.ordinaryKriging(smp, tgt, 3,
        nugget = 0.1, psill = 0.9, range = 15.0)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val nn3 = SpatialJoins.knnJoin(tgt, smp, 3, probeId = "tid",
      buildId = "sid", px = "tx", py = "ty", bx = "sx", by = "sy")
    val pv3 = nn3.join(smp, Seq("sid")).groupBy("tid").agg(
      max(when(col("rnk") === 1, col("sx"))).as("sx1"),
      (Seq((1, "sy"), (1, "sv"), (2, "sx"), (2, "sy"), (2, "sv"),
        (3, "sx"), (3, "sy"), (3, "sv")).map { case (i, n) =>
        max(when(col("rnk") === i, col(n))).as(s"$n$i")
      } ++ Seq(
        max(when(col("rnk") === 1, col("dist2"))).as("d21"),
        max(when(col("rnk") === 2, col("dist2"))).as("d22"),
        max(when(col("rnk") === 3, col("dist2"))).as("d23"))): _*)
    val closed3 = Kriging.krige3Closed(pv3, 0.1, 0.9, 15.0)
      .select(col("tid"), col("est")).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    closed3.foreach { case (tid, est) =>
      assert(math.abs(general3(tid) - est) < 1e-8, s"tid $tid k=3")
    }
  }

  test("contour lines: ramp grid yields one straight open line per level") {
    // v = c: iso-level 2.5 crosses between c=2 and c=3 on every row
    val ramp = (for (r <- 0L until 6L; c <- 0L until 8L)
      yield (r, c, c.toDouble)).toDF("r", "c", "v")
    val lines = ContourOps.contourLines(ramp, Seq(2.5)).collect()
    assert(lines.length == 1, s"expected 1 line, got ${lines.length}")
    val row = lines.head
    assert(row.getLong(2) == 6L, "6 nodes (one per row gap + boundary)")
    assert(row.getLong(3) == 0L, "open line")
    assert(row.getLong(4) == 5L * 1000000000L, "length 5 in nano units")
  }

  test("contour lines: closed ring around a single peak") {
    val peak = (for (r <- 0L until 5L; c <- 0L until 5L)
      yield (r, c, if (r == 2 && c == 2) 10.0 else 0.0)).toDF("r", "c", "v")
    val lines = ContourOps.contourLines(peak, Seq(5.0)).collect()
    assert(lines.length == 1)
    assert(lines.head.getLong(3) == 1L, "ring around the peak is closed")
    assert(lines.head.getLong(2) == 4L, "4 crossing nodes around the peak")
  }

  test("mdinf edges: weights positive, sum to 1 per flowing cell, " +
    "interior targets not higher") {
    val g = hashGrid(20, 25)
    val e = Terrain.mdinfEdges(g, hExp = 1.0).collect()
    assert(e.nonEmpty)
    val byCell = e.groupBy(r => (r.getLong(0), r.getLong(1)))
    byCell.foreach { case (_, rows) =>
      val tot = rows.map(_.getDouble(4)).sum
      rows.foreach(r => assert(r.getDouble(4) > 0))
      assert(math.abs(tot - 1.0) < 1e-9, s"portions sum $tot")
    }
    // mdinf accumulation conserves: sum(acc) = n + sum over edges of
    // w * acc(source) — every unit of generated flow is represented
    val acc = Terrain.mdinfAccum(g, 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    e.foreach { r =>
      val src = acc((r.getLong(0), r.getLong(1)))
      assert(src >= 1.0)
    }
  }

  test("stream polylines cover every stream cell exactly once") {
    val g = hashGrid(40, 50)
    val nStream = Terrain.extractStreams(g, 5L).count()
    val pl = Terrain.streamPolylines(g, 5L, width = 50)
    val totCells = pl.agg(sum("n_cells")).head().getLong(0)
    assert(totCells == nStream)
    // vertex arrays are consistent with the cell counts
    pl.collect().foreach { r =>
      assert(r.getSeq[Double](3).length.toLong == r.getLong(1))
    }
  }
}

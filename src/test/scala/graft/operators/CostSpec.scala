package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential oracle for the tile-parallel cost accumulation: a
  * driver-side sequential Dijkstra over the whole grid (the
  * reference-semantics re-statement, CostAccumulation.java:162-260)
  * must match the distributed result. */
class CostSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tiled cost accumulation equals global Dijkstra") {
    // 40 x 60 spans 3 x 4 tiles of 16 cells, so halos cross tiles
    val nR = 40L; val nC = 60L
    val cells = (for (r <- 0L until nR; c <- 0L until nC)
      yield (r, c, ((r * 13 + c * 7) % 17).toDouble / 8.0 + 1.0))
    val srcs = Seq((3L, 4L), (20L, 28L), (11L, 15L))
    val cost = cells.toDF("r", "c", "v")
    val sources = srcs.toDF("r", "c")
    val got = Terrain.costAccumulation(cost, sources, nR, nC)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getDouble(2), x.getLong(3))).toMap

    // sequential Dijkstra with identical arithmetic + tie-break
    val cm = cells.map(t => (t._1, t._2) -> t._3).toMap
    val best = scala.collection.mutable.Map
      .empty[(Long, Long), (Double, Long)]
    val pq = scala.collection.mutable.PriorityQueue
      .empty[(Double, Long, Long, Long)](Ordering.by(x => (-x._1, -x._4)))
    srcs.foreach { case (r, c) => pq.enqueue((0.0, r, c, r * nC + c)) }
    def better(a: (Double, Long), b: (Double, Long)) =
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    while (pq.nonEmpty) {
      val (lvl, r, c, src) = pq.dequeue()
      if (!best.contains((r, c)) || better((lvl, src), best((r, c)))) {
        best((r, c)) = (lvl, src)
        for (dr <- -1 to 1; dc <- -1 to 1 if !(dr == 0 && dc == 0)) {
          val n = (r + dr, c + dc)
          cm.get(n).foreach { nv =>
            val dist = if (dr != 0 && dc != 0) math.sqrt(2.0) else 1.0
            val nl = lvl + (cm((r, c)) + nv) / 2.0 * dist
            if (!best.contains(n) || better((nl, src), best(n)))
              pq.enqueue((nl, n._1, n._2, src))
          }
        }
      }
    }
    assert(got.size === best.size)
    best.foreach { case (k, (lvl, src)) =>
      assert(math.abs(got(k)._1 - lvl) < 1e-9, s"acc at $k")
      assert(got(k)._2 === src, s"alloc at $k")
    }
  }
}

package graft.perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

import graft.core.CellIndex
import graft.expr.{GeoEval, WebEval}

/**
 * The `expr` layer legs: direct single-thread calls of the kernels the
 * engine's expressions run, on a workload's own generated rings, pages
 * and points. Each leg runs one untimed warm-up round, then `Rounds`
 * timed rounds of about `RoundS` seconds, and reports the median rate.
 */
object Kernels {
  val Rounds = 5
  val RoundS = 0.2
  @volatile private var sink = 0L

  /** Median over the timed rounds of units/s; `pass` does one pass
    * over the input and returns the units it did. */
  private def rate(pass: () => Long): Double = {
    def round(): Double = {
      val t0 = System.nanoTime()
      var units = 0L
      while (System.nanoTime() - t0 < RoundS * 1e9) units += pass()
      units / ((System.nanoTime() - t0) / 1e9)
    }
    round()
    Stats.median(Seq.fill(Rounds)(round()))
  }

  /** Ray-cast edge tests/s of `GeoEval.pipContains`: every point
    * against every ring, one edge test per ring vertex. */
  def pipEdgeTestsPerS(rings: Seq[(Array[Double], Array[Double])],
                       pts: Array[(Double, Double)]): Double = {
    require(rings.nonEmpty && pts.nonEmpty, "pip leg needs rings and points")
    val parts = UnsafeArrayData.fromPrimitiveArray(Array(0))
    val rs = rings.map { case (xs, ys) =>
      (UnsafeArrayData.fromPrimitiveArray(xs),
        UnsafeArrayData.fromPrimitiveArray(ys))
    }.toArray
    val edges = rings.map(_._1.length.toLong).sum * pts.length
    rate { () =>
      var inside = 0L
      for ((x, y) <- pts; (xs, ys) <- rs)
        if (GeoEval.pipContains(x, y, xs, ys, parts)) inside += 1
      sink += inside
      edges
    }
  }

  /** MB/s of html input through `WebEval.extractUtf8`. */
  def extractMbPerS(html: Array[Array[Byte]]): Double = {
    require(html.nonEmpty, "extract leg needs pages")
    val bytes = html.map(_.length.toLong).sum
    rate { () =>
      html.foreach(h => sink += WebEval.extractUtf8(h).numBytes())
      bytes
    } / 1e6
  }

  /** Cell assignments/s of `CellIndex.latLngToCell` at the default
    * resolution. */
  def cellAssignPerS(pts: Array[(Double, Double)]): Double = {
    require(pts.nonEmpty, "cell leg needs points")
    rate { () =>
      var acc = 0L
      for ((x, y) <- pts) acc ^= CellIndex.latLngToCell(y, x, CellIndex.DefaultRes)
      sink += acc
      pts.length.toLong
    }
  }
}

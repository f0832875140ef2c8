package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result line and the span file. */
object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite value $d")
      d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] @unchecked => obj(kv.asInstanceOf[Seq[(String, Any)]])
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** SplitMix64: the benchmark's only random source. Every generated
  * value is a pure function of (seed, stream, index), so inputs do
  * not depend on partitioning and the output checks can recompute any
  * row outside Spark. */
object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def long(seed: Long, stream: Long, i: Long): Long =
    mix(mix(mix(seed) ^ stream) ^ i)
  /** Uniform double in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (long(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
}

/** Rows and structure read from Spark's SQL metrics of finished
  * executions. */
object SqlMetrics {
  private val joinNodes =
    Set("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")

  /** Per execution, the largest "number of output rows" of its join
    * nodes (the join that forms the pairs; any other join of the
    * execution only routes rows to it), summed over the executions. */
  def pairRows(spark: SparkSession, execIds: Iterable[Long]): Long = {
    val store = spark.sharedState.statusStore
    execIds.iterator.map { id =>
      val values = store.executionMetrics(id)
      store.planGraph(id).allNodes.iterator
        .filter(n => joinNodes.contains(n.name))
        .flatMap(_.metrics.find(_.name == "number of output rows"))
        .flatMap(m => values.get(m.accumulatorId))
        .map(_.replace(",", "").trim.toLong).maxOption.getOrElse(0L)
    }.sum
  }

  def execIds(t: Tracer, spans: Seq[Span]): Seq[Long] =
    spans.flatMap(s => t.stats(s).execIds.asScala)
}

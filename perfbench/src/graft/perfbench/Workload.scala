package graft.perfbench

import org.apache.spark.sql.SparkSession

/** A named per-layer number: (metric name, value, unit). */
final case class Metric(name: String, value: Double, unit: String)

/**
 * One benchmark workload. `setup` builds the seeded inputs (untimed);
 * each repetition is `prepare` (untimed), `run` (timed: the engine
 * calls, each wrapped in a tracer span), `check` (untimed output
 * checks) and `release` (untimed). A workload's inputs are a pure
 * function of the seed, so every run with one seed sees the same data.
 */
abstract class Workload(val spark: SparkSession, val t: Tracer,
                        val seed: Long) {
  def name: String
  /** Items one repetition processes (pages, DEM cells, probe points). */
  def items: Long
  /** Untimed warm-up repetitions before the timed ones: measured on
    * local[4] on a 4-core machine, rep times fall for this many reps while the
    * JIT compiles the workload's code paths, then level off. */
  def warmupReps: Int
  /** Operations one repetition makes: the fail_ratio denominator. */
  def ops: Seq[String]
  /** The operators of the per-layer `operators.*` family it calls. */
  def operators: Seq[String]
  def setup(): Unit
  def teardown(): Unit
  def prepare(r: Int): Unit = ()
  def run(r: Int): Unit
  /** Names of the operations whose output check failed in rep `r`. */
  def check(r: Int, traced: Boolean): Seq[String]
  def release(r: Int): Unit = ()
  /** Workload-specific per-layer numbers of the traced reps `reps`. */
  def layerMetrics(reps: Seq[Int]): Seq[Metric]

  protected def checkOp(name: String)(ok: => Boolean): Option[String] =
    try { if (ok) None else { warn(s"$name: output check failed"); Some(name) } }
    catch {
      case e: Throwable =>
        warn(s"$name: output check threw $e"); Some(name)
    }

  protected def warn(msg: String): Unit =
    System.err.println(s"[perfbench] $name: $msg")

  /** Median over `reps` of a per-rep value. */
  protected def perRep(reps: Seq[Int])(f: Int => Double): Double =
    Stats.median(reps.map(f))
}

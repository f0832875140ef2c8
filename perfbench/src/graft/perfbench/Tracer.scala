package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark counters of one job group (one span). */
final class GroupStats {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val execIds: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
}

/**
 * Attributes every job to the job group its thread carried when the
 * job started, and (when `detailed`) every finished task and its
 * metrics to the group of its stage. Counting jobs is always on: the
 * memo-isolation guard needs it in untraced runs too.
 */
final class GroupListener extends SparkListener {
  @volatile var detailed = false
  private val groups = new ConcurrentHashMap[String, GroupStats]
  private val stageGroup = new ConcurrentHashMap[Int, GroupStats]

  def stats(group: String): GroupStats =
    groups.computeIfAbsent(group, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = e.properties
    val g = if (props == null) null else props.getProperty(Tracer.GroupKey)
    if (g != null) {
      val s = stats(g)
      s.jobs.incrementAndGet()
      e.stageIds.foreach(stageGroup.put(_, s))
      Option(props.getProperty("spark.sql.execution.id"))
        .foreach(x => s.execIds.add(x.toLong))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (detailed) {
    val s = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      s.tasks.incrementAndGet()
      s.runMs.addAndGet(m.executorRunTime)
      s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** One recorded call. `kind` is "rep" (a whole repetition), "build"
  * (an engine call that returns a frame), "action" (the action the
  * benchmark runs on a call's result) or "call" (any other engine
  * call). Times are ns since the tracer started. */
final case class Span(id: Int, parent: Int, rep: Int, name: String,
                      kind: String, startNs: Long, endNs: Long,
                      group: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Wraps each call the benchmark makes into the engine in a span and
 * tags the call's Spark jobs with a job group named after the span,
 * so [[GroupListener]] can attribute jobs, tasks and task metrics to
 * it. Spans stay in memory; [[writeSpans]] writes them at the end.
 */
final class Tracer(spark: SparkSession, val listener: GroupListener) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private var nextId = 0
  private var stack: List[Int] = Nil
  val spans = ArrayBuffer.empty[Span]
  /** Repetition id stamped on new spans (negative for warm-up). */
  var rep = 0

  def span[T](name: String, kind: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val group = s"pb.$rep.$id.$name"
    val prev = sc.getLocalProperty(Tracer.GroupKey)
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setLocalProperty(Tracer.GroupKey, group)
    val s = System.nanoTime()
    try body
    finally {
      val e = System.nanoTime()
      sc.setLocalProperty(Tracer.GroupKey, prev)
      stack = stack.tail
      spans += Span(id, parent, rep, name, kind, s - t0, e - t0, group)
    }
  }

  def build[T](name: String)(body: => T): T = span(name, "build")(body)
  def action[T](name: String)(body: => T): T = span(name + ".action", "action")(body)
  def call[T](name: String)(body: => T): T = span(name, "call")(body)

  /** Delivers pending listener events; call outside timed windows. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(sc)

  def repSpans(r: Int): Seq[Span] = spans.toSeq.filter(_.rep == r)

  def stats(s: Span): GroupStats = listener.stats(s.group)

  /** Jobs of the named call (its build/call span plus its action span)
    * in repetition `r`. */
  def jobs(r: Int, name: String): Long =
    repSpans(r).filter(s => s.name == name || s.name == name + ".action")
      .map(stats(_).jobs.get).sum

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val st = stats(s)
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "rep" -> s.rep,
        "name" -> s.name, "kind" -> s.kind, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "jobs" -> st.jobs.get, "tasks" -> st.tasks.get,
        "task_ms" -> st.runMs.get,
        "shuffle_write_bytes" -> st.shuffleWriteBytes.get,
        "spill_bytes" -> st.spillBytes.get,
        "sql_executions" -> st.execIds.asScala.toSeq.sorted.mkString(" ")))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
}

package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.CacheReaper

/**
 * Runs one workload in one JVM at local[4] and prints the result as
 * the last stdout line (see perfbench/METRICS.md for every metric).
 *
 *  --trace 0: `SetupRounds` rounds of building the inputs, the
 *    workload's untimed warm-up repetitions, then repetitions for
 *    `--seconds`; prints the end-to-end metrics.
 *  --trace 1: one set-up round and the warm-up, an untraced and a
 *    traced phase of half of `--seconds` each, one untimed and one
 *    traced repetition of each other workload at probe size (so every
 *    per-layer metric is measured in every traced run), and the kernel
 *    legs; prints the per-layer metrics and writes the spans.
 */
object Main {
  val Cores = 4
  val SetupRounds = 3

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path, out: Path)

  /** One finished repetition. */
  final case class Rep(id: Int, seconds: Double, gcS: Double, reapS: Double,
                       heapMb: Double, failed: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val w = m("--workload")
    require(Set("web_pages", "dem_hydro", "point_joins").contains(w),
      s"unknown workload $w")
    Opts(w, m("--seed").toLong, m("--seconds").toInt, m("--trace") == "1",
      Paths.get(m("--work")), Paths.get(m("--out")))
  }

  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      // bounded status bookkeeping: by default the status store keeps
      // 1000 jobs, stages and executions, so the live heap grows with
      // the number of repetitions a run happens to fit
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Workload `name` at full size, or at probe size for the one
    * repetition a traced run of another workload makes of it. */
  private def workload(name: String, full: Boolean, spark: SparkSession,
                       t: Tracer, o: Opts): Workload = name match {
    case "web_pages" =>
      if (full) new WebPages(spark, t, o.seed, 12000, 4800, o.work)
      else new WebPages(spark, t, o.seed, 1000, 480, o.work)
    case "dem_hydro" =>
      new DemHydro(spark, t, o.seed, if (full) 48 else 32)
    case "point_joins" =>
      new PointJoins(spark, t, o.seed, if (full) 200 else 100, 210000)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3

  /** Old-generation occupancy after a full collection. The second
    * collection, after Spark's cleaner has had a moment to drop the
    * blocks of broadcasts the first found dead, keeps one late cleanup
    * from deciding the peak. */
  private def oldGenMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("Old Gen"))
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  private def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")

  /** One repetition: untimed prepare, timed run, untimed check, release
    * and reap. A throw fails every operation of the repetition. */
  private def repOnce(spark: SparkSession, w: Workload, t: Tracer, r: Int,
                      keep: Set[Int], traced: Boolean): Rep = {
    t.rep = r
    w.prepare(r)
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    val threw =
      try { t.span("rep", "rep")(w.run(r)); None }
      catch { case e: Throwable => Some(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds() - gc0
    val failed = threw match {
      case Some(e) =>
        log(s"${w.name} rep $r threw: $e"); e.printStackTrace()
        w.ops.size
      case None => w.check(r, traced).size
    }
    w.release(r)
    val r0 = System.nanoTime()
    CacheReaper.reapExcept(spark, keep)
    val reapS = (System.nanoTime() - r0) / 1e9
    log(f"${w.name} rep $r: $secs%.3f s, failed ops $failed")
    Rep(r, secs, gcS, reapS, oldGenMb(), failed)
  }

  /** Repetitions from id `first` until `seconds` have passed. */
  private def phase(spark: SparkSession, w: Workload, t: Tracer,
                    keep: Set[Int], seconds: Int, first: Int,
                    traced: Boolean): Seq[Rep] = {
    val start = System.nanoTime()
    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    while (reps.isEmpty || System.nanoTime() - start < seconds * 1000000000L)
      reps += repOnce(spark, w, t, first + reps.size, keep, traced)
    reps.toSeq
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `rounds` rounds of building and materialising the inputs (the
    * last round's inputs stay), then the untimed warm-up repetitions.
    * Returns the median round, the warm-up seconds, the reaper
    * keep-set and the warm-up reps. */
  private def setUp(spark: SparkSession, w: Workload, t: Tracer,
                    rounds: Int): (Double, Double, Set[Int], Seq[Rep]) = {
    val inputS = (1 to rounds).map { k =>
      if (k > 1) w.teardown()
      seconds(w.setup())
    }
    val keep = CacheReaper.snapshot(spark)
    var warm = Seq.empty[Rep]
    val warmS = seconds {
      warm = (1 to w.warmupReps).map(k =>
        repOnce(spark, w, t, -k, keep, traced = false))
    }
    log(f"${w.name} set-up: input rounds ${inputS.map(x => f"$x%.2f").mkString(" ")} s, " +
      f"warm-up $warmS%.2f s")
    (Stats.median(inputS), warmS, keep, warm)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(o.work)
    val spark = session(o)
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val t = new Tracer(spark, listener)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val w = workload(o.workload, full = true, spark, t, o)
    val line = try {
      if (o.trace) traced(spark, w, t, o) else untraced(spark, w, t, o, sessionS)
    } finally spark.stop()
    log("session stopped")
    println(line)
  }

  private def result(attempted: Long, failed: Long,
                     metrics: Seq[Metric]): String =
    Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map(m =>
        m.name -> Seq("value" -> m.value, "unit" -> m.unit))))

  private def untraced(spark: SparkSession, w: Workload, t: Tracer, o: Opts,
                       sessionS: Double): String = {
    val (inputS, warmS, keep, warm) = setUp(spark, w, t, SetupRounds)
    val reps = phase(spark, w, t, keep, o.seconds, 1, traced = false)
    val all = reps ++ warm
    val attempted = all.size.toLong * w.ops.size
    val failed = all.map(_.failed.toLong).sum
    val setupS = sessionS + inputS + warmS
    val repS = reps.map(_.seconds)
    val metrics = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("throughput", w.items * reps.size / repS.sum, "items/s"),
      Metric("rep_s_p50", Stats.median(repS), "s"),
      Metric("heap_peak_mb", reps.map(_.heapMb).max, "MB"),
      Metric("pass_ratio", 1.0 - failed.toDouble / attempted, "ratio"))
    println(s"perfbench ${w.name} seed=${o.seed} local[$Cores]: " +
      s"${reps.size} timed reps of ${w.items} items, " +
      s"$SetupRounds set-up rounds (session ${"%.3f".format(sessionS)} s)")
    metrics.foreach(m => println(f"  ${m.name}%-14s ${m.value}%.6g ${m.unit}"))
    println(f"  fail_ratio     ${failed.toDouble / attempted}%.6g ($failed of $attempted operations)")
    result(attempted, failed, metrics)
  }

  private def traced(spark: SparkSession, w: Workload, t: Tracer,
                     o: Opts): String = {
    val (_, _, keep, warm) = setUp(spark, w, t, 1)
    val half = math.max(1, o.seconds / 2)
    val plain = phase(spark, w, t, keep, half, 1, traced = false)
    t.listener.detailed = true
    val reps = phase(spark, w, t, keep, half, 1001, traced = true)
    val ids = reps.map(_.id)
    val own = operatorMetrics(w, t, ids) ++ w.layerMetrics(ids) ++
      runtimeMetrics(t, reps)
    // layers this workload does not reach: one traced repetition of
    // each other workload at probe size
    val probes = Seq("web_pages", "dem_hydro", "point_joins")
      .filter(_ != w.name).zipWithIndex.map { case (name, k) =>
        val p = workload(name, full = false, spark, t, o)
        p.setup()
        val pk = CacheReaper.snapshot(spark)
        // one untimed rep first, so the traced one is not the first run
        // of the workload's code paths in this JVM
        repOnce(spark, p, t, -2001 - k, pk, traced = false)
        val rep = repOnce(spark, p, t, 2001 + k, pk, traced = true)
        (p, rep, operatorMetrics(p, t, Seq(rep.id)) ++ p.layerMetrics(Seq(rep.id)))
      }
    val web = (w +: probes.map(_._1)).collectFirst { case x: WebPages => x }.get
    val cellPts = w match {
      case p: PointJoins => p.points
      case _ => web.samplePoints
    }
    val kernels = Seq(
      Metric("expr.pip_edge_tests_per_s",
        Kernels.pipEdgeTestsPerS(web.sampleRings, web.samplePoints), "1/s"),
      Metric("expr.extract_mb_per_s", Kernels.extractMbPerS(web.sampleHtml),
        "MB/s"),
      Metric("expr.cell_assign_per_s", Kernels.cellAssignPerS(cellPts), "1/s"))
    probes.foreach(_._1.teardown())
    val overhead = Metric("trace.overhead_share",
      Stats.median(reps.map(_.seconds)) / Stats.median(plain.map(_.seconds)) - 1,
      "ratio")
    t.writeSpans(o.out.resolve(s"${w.name}-seed${o.seed}-spans.jsonl"))
    val all = (own ++ probes.flatMap(_._3) ++ kernels :+ overhead)
      .sortBy(_.name)
    val done = plain ++ reps ++ warm ++ probes.map(_._2)
    val attempted = (plain.size + reps.size + warm.size).toLong * w.ops.size +
      probes.map(_._1.ops.size.toLong).sum
    val failed = done.map(_.failed.toLong).sum
    println(s"perfbench ${w.name} seed=${o.seed} traced: ${reps.size} traced " +
      s"reps, ${plain.size} untraced reps")
    all.foreach(m => println(f"  ${m.name}%-45s ${m.value}%.6g ${m.unit}"))
    result(attempted, failed, all)
  }

  private def spansNamed(t: Tracer, r: Int, n: String): Seq[Span] =
    t.repSpans(r).filter(_.name == n)

  /** build_s, action_s, jobs and task_s of each operator call,
    * medians over the reps. */
  private def operatorMetrics(w: Workload, t: Tracer,
                              reps: Seq[Int]): Seq[Metric] = {
    t.drain()
    def med(f: Int => Double) = Stats.median(reps.map(f))
    w.operators.flatMap { op =>
      def both(r: Int) = spansNamed(t, r, op) ++ spansNamed(t, r, op + ".action")
      Seq(
        Metric(s"operators.$op.build_s",
          med(r => spansNamed(t, r, op).map(_.seconds).sum), "s"),
        Metric(s"operators.$op.action_s",
          med(r => spansNamed(t, r, op + ".action").map(_.seconds).sum), "s"),
        Metric(s"operators.$op.jobs",
          med(r => both(r).map(t.stats(_).jobs.get).sum.toDouble), "count"),
        Metric(s"operators.$op.task_s",
          med(r => both(r).map(t.stats(_).runMs.get).sum / 1e3), "s"))
    }
  }

  /** Spark-runtime totals of the workload's own traced reps. */
  private def runtimeMetrics(t: Tracer, reps: Seq[Rep]): Seq[Metric] = {
    t.drain()
    def med(f: Rep => Double) = Stats.median(reps.map(f))
    def sum(r: Rep)(f: GroupStats => Long): Double =
      t.repSpans(r.id).map(s => f(t.stats(s))).sum.toDouble
    def taskS(r: Rep) = sum(r)(_.runMs.get) / 1e3
    Seq(
      Metric("spark.jobs", med(sum(_)(_.jobs.get)), "count"),
      Metric("spark.tasks", med(sum(_)(_.tasks.get)), "count"),
      Metric("spark.task_s", med(taskS), "s"),
      Metric("spark.shuffle_write_bytes", med(sum(_)(_.shuffleWriteBytes.get)), "B"),
      Metric("spark.spill_bytes", med(sum(_)(_.spillBytes.get)), "B"),
      Metric("spark.gc_s", med(_.gcS), "s"),
      Metric("spark.cpu_busy", med(r => taskS(r) / (r.seconds * Cores)), "ratio"),
      Metric("spark.build_share", med(r =>
        t.repSpans(r.id).filter(_.kind == "build").map(_.seconds).sum /
          r.seconds), "ratio"),
      Metric("core.reap_s", med(_.reapS), "s"))
  }
}

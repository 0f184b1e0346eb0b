package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. A round is one pass of the workload's
  * closed loop: each operation starts when the previous one has finished.
  */
trait Workload {
  /** Untimed rounds before timing starts. A fixed count, not a time, so a
    * slow host does not leave the JIT less warm.
    */
  def warmupRounds: Int

  /** Binds the generated inputs to a fresh session (part of set-up). */
  def prepare(h: Harness): Unit

  /** One round of timed operations; records samples and checks outputs. */
  def round(h: Harness): Unit

  /** Untimed output checks after the timed rounds. */
  def finish(h: Harness): Unit

  /** Per-layer measurements that only the traced run makes. */
  def traced(h: Harness): Unit
}

/** Run state shared by the workloads: the session, timed calls, samples,
  * per-layer metrics and check results.
  */
final class Harness(val spark: SparkSession, val genDir: String,
                    val workDir: String, val repoRoot: String) {
  val tracer = new Tracer
  val collector = new Collector
  private var tracing = false
  private var traceSeq = 0L
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val units = mutable.Map.empty[String, String]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val invocations = mutable.Map.empty[String, Int].withDefaultValue(0)
  var attempted = 0L
  var failed = 0L

  def trace: Boolean = tracing

  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) spark.sparkContext.addSparkListener(collector)
    else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(collector)
    }
    tracing = on
  }

  /** Runs one timed call; its Spark jobs are attributed to `call` and, when
    * tracing, it is recorded as a span. Returns (seconds, result).
    */
  def op[A](call: String)(f: => A): (Double, A) = {
    attempted += 1
    if (tracing) invocations(call) += 1
    val t0 = System.nanoTime()
    val a =
      try Collector.attributed(spark.sparkContext, call)(f)
      catch { case e: Throwable => failed += 1; throw e }
    val t1 = System.nanoTime()
    if (tracing) {
      tracer.add(tracer.code(s"call.$call"), t0, t1, -1, traceSeq)
      traceSeq += 1
    }
    ((t1 - t0) / 1e9, a)
  }

  /** Untimed work (checks, fault injection) kept apart from timed calls. */
  def untimed[A](f: => A): A =
    Collector.attributed(spark.sparkContext, "untimed")(f)

  def sample(name: String, unit: String, v: Double): Unit = {
    units(name) = unit
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  def median(name: String): Double = Stats.median(samples.getOrElse(name, Nil).toSeq)

  def metric(name: String, unit: String, v: Double): Unit = layer(name) = (v, unit)

  /** Records a check; a failed check counts its operation as failed. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
    ok
  }

  /** Spark counters of `call` per invocation, from the traced rounds. */
  def sparkMetrics(call: String): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val n = invocations(call).max(1).toDouble
    val s = collector.snapshot(call).getOrElse(new CallStats)
    val p = s"spark.$call"
    metric(s"$p.task_ms", "ms", s.taskMs / n)
    metric(s"$p.cpu_ms", "ms", s.cpuNs / 1e6 / n)
    metric(s"$p.gc_ms", "ms", s.gcMs / n)
    metric(s"$p.tasks", "count", s.tasks / n)
    metric(s"$p.stages", "count", s.stages.size / n)
    metric(s"$p.jobs", "count", s.jobs / n)
    metric(s"$p.shuffle_read_b", "B", s.shuffleReadB / n)
    metric(s"$p.shuffle_write_b", "B", s.shuffleWriteB / n)
    metric(s"$p.spill_b", "B", s.spillB / n)
    metric(s"$p.skew", "ratio", s.skew)
  }

  /** Failed and retried tasks over every traced call, and the errors Spark
    * logged during the workload.
    */
  def sparkTotals(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val all = collector.synchronized(collector.calls.values.toSeq)
    metric("spark.task_failures", "count", all.map(_.taskFailures).sum.toDouble)
    metric("spark.task_retries", "count", all.map(_.retries).sum.toDouble)
    metric("spark.logged_errors", "count", LoggedErrors.total.get.toDouble)
  }

  def resetSamples(): Unit = samples.clear()
}

object Main {

  val Cores = 4

  def session(workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(name: String, seed: Long): Workload = name match {
    case "extract_batch" => new ExtractBatch
    case "extract_incremental" => new ExtractIncremental(seed)
    case "dedup_corpus" => new DedupCorpus
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** One set-up: start a session and bind the inputs. The first set-up in
    * the JVM also counts the JVM's own start.
    */
  private def setUp(w: Workload, genDir: String, workDir: String, repo: String,
                    jvmStart: Boolean): (Harness, Double) = {
    val t0 =
      if (jvmStart) System.nanoTime() - uptimeNs()
      else System.nanoTime()
    val h = new Harness(session(workDir), genDir, workDir, repo)
    LoggedErrors.install() // after the session: Spark configures logging on start
    w.prepare(h)
    (h, (System.nanoTime() - t0) / 1e9)
  }

  private def uptimeNs(): Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L

  /** Runs one workload in this JVM and writes its raw result. */
  private def run(wName: String, genDir: String, workDir: String, repo: String,
                  seed: Long, seconds: Double, trace: Boolean, firstInJvm: Boolean,
                  resultPath: String): Unit = {
    LoggedErrors.reset()
    val w = workload(wName, seed)
    val setups = mutable.ArrayBuffer.empty[Double]
    val nSetups = if (trace) 1 else 3
    var h: Harness = null
    var fatal: Option[String] = None
    try {
      val t0 = System.nanoTime() - (if (firstInJvm) uptimeNs() else 0L)
      for (i <- 0 until nSetups) {
        if (h != null) h.spark.stop()
        val (hi, s) = setUp(w, genDir, workDir, repo, jvmStart = firstInJvm && i == 0)
        h = hi
        setups += s
      }
      // untimed rounds on the session the timed rounds use, so JIT and
      // codegen caches are warm before timing starts
      (0 until w.warmupRounds).foreach(_ => w.round(h))
      val firstRound = h.samples("round_s").head
      h.resetSamples()
      h.sample("setup.first_round_s", "s", firstRound)
      h.sample("setup.cold_start_s", "s", (System.nanoTime() - t0) / 1e9)
      // timed rounds run while one more round is expected to end nearer the
      // timed window's length than stopping now
      var measured = 0.0
      var i = 0
      def more: Boolean = i == 0 || measured + measured / i / 2 < seconds
      if (!trace) {
        while (more) {
          w.round(h)
          measured += h.samples("round_s").last
          i += 1
        }
        w.finish(h)
      } else {
        // untraced and traced rounds in the order U T T U U T ..., so a
        // drift over the run does not favour either: the traced rounds give
        // the per-call Spark counters, the pairs give the tracing overhead
        while (more || i < 4) {
          val traced = i % 4 == 1 || i % 4 == 2
          h.setTracing(traced)
          w.round(h)
          val r = h.samples("round_s").last
          h.sample(if (traced) "traced_round_s" else "untraced_round_s", "s", r)
          measured += r
          i += 1
        }
        h.setTracing(true)
        val off = h.median("untraced_round_s")
        val on = h.median("traced_round_s")
        h.metric("trace.overhead_pct", "%", (on - off) / off * 100)
        h.metric("trace.rounds", "count", i.toDouble)
        w.traced(h)
        w.finish(h)
        h.sparkTotals()
        h.tracer.write(s"$workDir/spans.tsv.gz")
        h.metric("trace.spans", "count", h.tracer.size.toDouble)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        fatal = Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    Result.write(resultPath, wName, h, setups.toSeq, fatal)
    if (h != null) h.spark.stop()
  }

  /** Args: workloads(comma-separated) genRoot workRoot repoRoot seed seconds
    * trace(0|1) resultDir. Workload w reads `genRoot/w`, works in
    * `workRoot/w` and writes `resultDir/w.json`.
    */
  def main(args: Array[String]): Unit = {
    val Array(names, genRoot, workRoot, repo, seedS, secondsS, traceS, resultDir) = args
    names.split(",").zipWithIndex.foreach { case (w, i) =>
      run(w, s"$genRoot/$w", s"$workRoot/$w", repo, seedS.toLong, secondsS.toDouble,
        traceS == "1", firstInJvm = i == 0, s"$resultDir/$w.json")
    }
  }
}

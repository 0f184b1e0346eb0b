package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark-side counters of one timed call. */
final class CallStats {
  var jobs = 0L
  val stages = mutable.Set.empty[Int]
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var taskFailures = 0L
  var retries = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Max task time over median task time, in the stage that spent the most
    * task time (where skew costs wall time); 1.0 when no stage has tasks.
    */
  def skew: Double = {
    val heavy = stageTaskMs.values.filter(_.nonEmpty).maxByOption(_.sum)
    heavy.map { ts =>
      val sorted = ts.sorted
      val med = Stats.median(sorted.map(_.toDouble).toSeq)
      if (med <= 0) sorted.last.toDouble.max(1.0) else sorted.last / med
    }.getOrElse(1.0)
  }
}

/** A public `SparkListener` that attributes jobs, stages and tasks to the
  * harness's current call. The harness names the call in the
  * `perfbench.call` local property before it runs; every job the call
  * starts carries that property.
  */
final class Collector extends SparkListener {
  private val stageCall = mutable.Map.empty[Int, String]
  val calls = mutable.LinkedHashMap.empty[String, CallStats]

  private def stats(call: String): CallStats =
    calls.getOrElseUpdate(call, new CallStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val call = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Collector.CallKey))).getOrElse("unattributed")
    stats(call).jobs += 1
    e.stageIds.foreach(id => stageCall.getOrElseUpdate(id, call))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stats(stageCall.getOrElse(id, "unattributed")).stages += id
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageCall.getOrElse(e.stageId, "unattributed"))
    s.tasks += 1
    if (e.reason != Success) s.taskFailures += 1
    if (e.taskInfo != null && e.taskInfo.attemptNumber > 0) s.retries += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  def snapshot(call: String): Option[CallStats] = synchronized(calls.get(call))
}

object Collector {
  val CallKey = "perfbench.call"

  /** Runs `f` with its Spark jobs attributed to `call`. */
  def attributed[A](sc: SparkContext, call: String)(f: => A): A = {
    sc.setLocalProperty(CallKey, call)
    LoggedErrors.currentCall = call
    try f finally {
      sc.setLocalProperty(CallKey, null)
      LoggedErrors.currentCall = "between_calls"
    }
  }
}

/** Counts ERROR (and worse) log events, per call, so errors Spark logs
  * without failing the job are visible in the report.
  */
object LoggedErrors {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  @volatile var currentCall = "setup"
  val total = new AtomicLong
  val byCall = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]
  val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]

  private lazy val installed: Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
          total.incrementAndGet()
          byCall.computeIfAbsent(currentCall, _ => new AtomicLong).incrementAndGet()
          if (samples.size < 5)
            samples.add(s"[$currentCall] ${e.getLoggerName}: " +
              String.valueOf(e.getMessage.getFormattedMessage).take(200))
        }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
  }

  def install(): Unit = installed

  def reset(): Unit = { total.set(0); byCall.clear(); samples.clear() }
}

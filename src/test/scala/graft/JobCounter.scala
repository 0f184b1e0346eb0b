package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs of one call, for the specs' job budgets:
  * `counted(f)` returns `f`'s value and the jobs started while it ran. The
  * listener bus is drained on both sides, so no event of an earlier call
  * lands in the count and none of this call's is missed.
  */
final class JobCounter(spark: SparkSession) {
  private val jobs = new AtomicInteger
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
  })

  def apply[T](f: => T): (T, Int) = {
    ListenerBusDrain(spark.sparkContext)
    jobs.set(0)
    val v = f
    ListenerBusDrain(spark.sparkContext)
    (v, jobs.get)
  }
}

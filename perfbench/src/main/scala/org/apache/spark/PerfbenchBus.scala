package org.apache.spark

/** Lets the benchmark harness wait until every event of a finished call has
  * reached its listener. The listener bus is asynchronous and its drain is
  * package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

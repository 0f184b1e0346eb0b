package org.apache.spark

/** Lets a spec wait until every event of a finished call has reached its
  * listeners: the listener bus is asynchronous and its drain is
  * package-private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

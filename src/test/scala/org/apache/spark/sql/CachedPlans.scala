package org.apache.spark.sql

/** The number of plans in a session's cache (`persist`ed and not yet
  * unpersisted): Spark keeps the count in the classic session's shared
  * state, which the API session type does not expose.
  */
object CachedPlans {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}

package org.apache.spark.sql

/** Package-private Spark hooks the benchmark reads: draining the
  * asynchronous listener bus (so per-pass counters are complete before
  * they are read) and the session's cached-plan count. */
object PerfbenchShims {
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}

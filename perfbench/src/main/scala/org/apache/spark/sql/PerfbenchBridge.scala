package org.apache.spark.sql

/** The two Spark internals the traced run reads. Both are
  * package-private to Spark, hence this bridge. */
object PerfbenchBridge {
  /** Blocks until every listener event posted so far has been delivered,
    * so a span's counters are complete before they are read. */
  def drain(spark: SparkSession, timeoutMs: Long = 30000L): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** CacheManager entries still held (an operator that returns without
    * releasing what it persisted leaves some behind). */
  def cachedEntries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}

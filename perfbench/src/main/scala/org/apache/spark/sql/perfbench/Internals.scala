package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Tracer access to state Spark keeps package-private. */
object Internals {
  /** Block until every posted listener event has been delivered, so the
    * events of one query are attributed before the next one starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Plans held in the session's cache manager. */
  def cachedPlans(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}

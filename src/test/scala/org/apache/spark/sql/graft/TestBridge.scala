package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** TEST-ONLY bridge into `private[sql]` surface: listener-bus and
  * cache-manager probes for specs that assert job counts and cache
  * state. */
object TestBridge {
  /** Block until every listener event posted so far has been handled
    * — QueryExecutionListeners run on that bus, so afterwards each
    * finished query's listener callbacks have returned. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Whether `df`'s cache entry exists and holds every partition. */
  def cacheLoaded(df: DataFrame): Boolean =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
}

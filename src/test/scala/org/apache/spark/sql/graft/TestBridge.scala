package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** TEST-ONLY bridge into `private[sql]` surface: build a DataFrame
  * whose logical plan IS a LocalRelation of pre-built InternalRows —
  * lets plan-dispatch tests (GraphSpec's broadcast cap) construct a
  * multi-million-row LocalRelation without paying a per-row encoder
  * pass through `Seq.toDF`.
  */
object TestBridge {
  def ofLocalRelation(spark: SparkSession, schema: StructType,
                      rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

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

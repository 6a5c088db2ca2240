package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Registers graft's native expressions ([[Registration.all]]) in the
  * session function registry so plain SQL can call them
  * (`SELECT dot_f(a.embedding, b.embedding) ...`). Same namespace
  * rationale as [[ColumnBridge]]: the registry lives behind
  * `private[sql]` session state in Spark 4.
  */
object FunctionBridge {

  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    Registration.all.foreach(f => registry.createOrReplaceTempFunction(f.name, f.build, "scala_udf"))
  }
}

package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet reads for file-count-sized metadata (the
  * zone-map manifests of `graft.core.Warehouse`). No public API reads
  * parquet without a Spark job: `spark.read.parquet` infers its schema
  * with one and collects with another. These reads use Spark's own
  * footer-schema and row decoding (INT96 timestamps, decimals,
  * strings, datetime rebase) on the driver instead, so a result equals
  * `spark.read.parquet` of the same files, schema and rows. The
  * parquet internals they call are `private[sql]`-adjacent, hence this
  * bridge namespace (the [[FunctionBridge]] rationale).
  */
object ParquetBridge {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** A DataFrame whose logical plan IS a LocalRelation of `rows`: the
    * optimizer folds projections and filters over it on the driver
    * (`ConvertToLocalRelation`), so collecting them runs no job. */
  def ofLocalRelation(spark: SparkSession, schema: StructType,
                      rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark),
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The schema `spark.read.parquet(file)` infers, read from `file`'s
    * footer on the driver: the Spark schema its writer stored, else the
    * converted parquet schema, made nullable like every file source's. */
  def footerSchema(spark: SparkSession, file: java.io.File): StructType = {
    val s = classic(spark)
    val path = new Path(file.toURI)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, s.sessionState.newHadoopConf()))
    val meta = try r.getFooter finally r.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, meta),
      new ParquetToSparkSchemaConverter(s.sessionState.conf)).asNullable
  }

  /** Every row of the parquet `files`, read on the driver into a
    * LocalRelation under the first file's [[footerSchema]] — the one
    * schema `spark.read.parquet` would read them all with. A file that
    * vanished throws `FileNotFoundException`. */
  def readLocal(spark: SparkSession, files: Seq[java.io.File]): DataFrame = {
    require(files.nonEmpty, "readLocal needs at least one parquet file")
    val s = classic(spark)
    val schema = footerSchema(spark, files.head)
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(s, schema,
      new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      s.sessionState.newHadoopConf())
    // the reader reuses its row object: copy each one out
    val toUnsafe = UnsafeProjection.create(schema)
    val rows = files.flatMap { f =>
      val len = f.length()
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(new Path(f.toURI)),
          0L, len, Array.empty[String], f.lastModified(), len))
        .map(toUnsafe(_).copy()).toVector
    }
    ofLocalRelation(spark, schema, rows)
  }
}

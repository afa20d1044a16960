package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Package-placed bridge to the `private[parquet]` footer helpers of
  * Spark's parquet source, in the same idiom as
  * [[org.apache.spark.sql.GraftSqlBridge]]: nothing is modified, only
  * called. [[graft.sources.ParquetRead]] uses it to take a directory's
  * schema from its footers on the driver instead of through the
  * one-job `mergeSchemasInParallel`.
  */
object GraftParquetBridge {

  /** The Spark schema of `files`, merged in order; None when `files`
    * is empty. Each footer converts through
    * `ParquetFileFormat.readSchema`, so the Spark-schema footer key and
    * the session's type mapping (`nanosAsLong`, NTZ inference, INT96,
    * binary-as-string) are Spark's own; the merge honours the session's
    * case sensitivity, as schema inference does. */
  def schemaOf(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    ParquetFileFormat.readParquetFootersInParallel(
        session.sessionState.newHadoopConf(), files, conf.ignoreCorruptFiles)
      .flatMap(f => ParquetFileFormat.readSchema(Seq(f), spark))
      .reduceOption(_.merge(_, conf.caseSensitiveAnalysis))
  }
}

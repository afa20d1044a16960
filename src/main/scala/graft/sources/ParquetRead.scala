package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions.{col, max}

/** The one reader of every parquet directory graft owns: fixtures,
  * index tables, incremental and sketch state, pipeline outputs.
  *
  * `spark.read.parquet(dir)` infers the schema through
  * `mergeSchemasInParallel`, which runs one Spark job per read even for
  * a single footer. Here the schema comes from the footers on the
  * driver and the read is `spark.read.schema(s).parquet(dir)`: no job
  * before the caller's own actions. A table's row count comes from its
  * footers the same way ([[rowCount]]), and so does an integral
  * column's maximum ([[columnMax]]). The footer conversion and merge
  * rules stay Spark's ([[GraftParquetBridge]]), and the file choice is
  * schema inference's: the first data file by path, or every data file
  * when `merge`. Partition columns are still discovered from the
  * directory names and appended last.
  *
  * No schema is cached: a footer read is cheap (~1 ms for a local
  * file, opened through the session's Hadoop conf), and a cache would
  * need invalidation on every index append. Not for a streaming file
  * sink's output (`_spark_metadata/`), whose committed files are its
  * log's, not the listing's.
  */
object ParquetRead {
  import scala.jdk.CollectionConverters._

  /** Spark's hidden-path rule (`HadoopFSUtils.shouldFilterOutPathName`
    * plus the file index's data-path check): `_`- and `.`-prefixed
    * names are not data, except partition directories (`_x=1`), and
    * neither is an in-flight `._COPYING_` upload. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The data files under `dir`, recursively through partition
    * directories, sorted by path; empty when `dir` is missing or holds
    * none (e.g. only `_temporary/` left by a crashed first write). A
    * file path lists as itself. "A table exists" means this is
    * non-empty. */
  def dataFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    val top = try Some(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => None }
    top.toSeq.flatMap(leaves).sortBy(_.getPath.toString)
  }

  /** `dir` with the schema of its first data file. */
  def apply(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, dataFiles(spark, dir), merge = false)

  /** `dir` with the schema of `files` (its [[dataFiles]], listed once by
    * the caller): the first one's, or all of them merged when `merge` —
    * for tables whose files may differ in columns, where one footer
    * would silently drop whichever columns the others add. With no
    * data files, Spark's own read raises its usual error
    * (`PATH_NOT_FOUND`, `UNABLE_TO_INFER_SCHEMA`). */
  def apply(spark: SparkSession, dir: String, files: Seq[FileStatus],
      merge: Boolean): DataFrame =
    GraftParquetBridge.schemaOf(spark, if (merge) files else files.take(1)) match {
      case Some(schema) => spark.read.schema(schema).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  /** `read` applied to the footer of `file`, opened with read options
    * built from the conf `file` was made with (the session's Hadoop
    * conf): its parquet settings (a `parquet.crypto.factory.class`,
    * say) apply, and no fresh `Configuration` re-parses Hadoop's default
    * resources per file, as `ParquetFileReader.open(file)`'s default
    * options do. */
  private def footer[T](file: HadoopInputFile)(read: ParquetFileReader => T): T = {
    val options = HadoopReadOptions.builder(file.getConfiguration, file.getPath).build()
    val reader = ParquetFileReader.open(file, options)
    try read(reader) finally reader.close()
  }

  /** The rows `files` hold (a [[dataFiles]] listing), summed from
    * their footers on the driver: no job. */
  def rowCount(spark: SparkSession, files: Seq[FileStatus]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map(f => footer(HadoopInputFile.fromStatus(f, conf))(_.getRecordCount)).sum
  }

  /** The largest value of the integral (INT32 or INT64) top-level
    * `column` in the parquet files at `paths`, or None when every value
    * is null. It is read from the row-group statistics on the driver: no
    * job. A file without the column, or without row groups, counts as
    * all-null; a partition column is in no footer, so it is not for
    * those. When any row group of the column has no statistics (a
    * writer that disabled them), the answer is one aggregate over
    * `paths` instead, reading the column as `long`. Pass a rewrite's
    * input as `df.inputFiles`, so the read follows its crash recovery. */
  def columnMax(spark: SparkSession, paths: Seq[String], column: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // per row group holding the column: Some(Some(max)), Some(None)
    // when its values are all null, None when it has no statistics
    val groups: Seq[Option[Option[Long]]] = paths.flatMap { p =>
      footer(HadoopInputFile.fromPath(new Path(p), conf))(
        _.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == column).map { chunk =>
            val t = chunk.getPrimitiveType.getPrimitiveTypeName
            require(t == INT32 || t == INT64, s"columnMax: $column is $t, not integral")
            val st: org.apache.parquet.column.statistics.Statistics[_] = chunk.getStatistics
            if (st.isEmpty) None
            else if (st.hasNonNullValue)
              Some(Some(st.genericGetMax.asInstanceOf[Number].longValue))
            else if (st.getNumNulls == chunk.getValueCount) Some(None)
            else None
          }))
    }
    if (groups.forall(_.isDefined)) groups.flatten.flatten.maxOption
    else {
      val row = spark.read.schema(s"`$column` long").parquet(paths: _*)
        .agg(max(col(column))).collect().head
      if (row.isNullAt(0)) None else Some(row.getLong(0))
    }
  }
}

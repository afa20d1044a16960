package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary-file corpus source — the engine's ingest path for raw image /
  * audio / document trees (reference v1 scan,
  * `/root/reference/trial-img-processor.py:59-62`).
  *
  * Spark's `binaryFile` source already gives distributed, splittable-by-
  * file scanning with `path, modificationTime, length, content` columns;
  * this wrapper standardizes the glob/recursion options and derives the
  * reference's partition-key columns from the path.
  */
object BinaryCorpus {

  /** Recursive scan keeping only the given extensions. The glob is
    * case-sensitive, so lower/UPPER variants of each extension are
    * matched (the common on-disk forms; reference compares lowercase,
    * `trial-img-processor.py:61`).
    */
  def scan(spark: SparkSession, dir: String, extensions: Seq[String]): DataFrame = {
    val glob = extensions.flatMap(e => Seq(e.toLowerCase, e.toUpperCase)).distinct
      .mkString("*.{", ",", "}")
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
  }

  /** Derive `{kode_proyek}/{minggu}/{file}` partition columns from the
    * path tail (reference layout, `test.py:172-173`).
    */
  private[graft] def withPathKeys(df: DataFrame): DataFrame = {
    val parts = split(col("path"), "/")
    df.withColumn("nama_file", element_at(parts, -1))
      .withColumn("minggu", element_at(parts, -2))
      .withColumn("kode_proyek", element_at(parts, -3))
  }

  /** Raw-bytes partitioned tree sink: writes each row's binary payload to
    * `baseDir/{p1}/{p2}/{name}` — the reference's on-disk layout
    * (`test.py:55-56,172-173`) as a distributed writer. Partition-local
    * (`foreachPartition`), creates parent dirs on demand, overwrites
    * by path (idempotent under task retry, like the reference's
    * sha-overwrite upsert). Hadoop FileSystem API, so the same code
    * targets local disk, HDFS, or object stores.
    */
  private[graft] def writeBinaryTree(df: DataFrame, baseDir: String,
      partitionCols: Seq[String], nameCol: String, contentCol: String): Unit = {
    val cols = (partitionCols :+ nameCol).map(c => col(c).cast("string")) :+ col(contentCol)
    val hadoopConf = new org.apache.hadoop.conf.Configuration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val serConf = new org.apache.spark.util.SerializableConfiguration(hadoopConf)
    val nParts = partitionCols.length
    df.select(cols: _*).foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val fs = new org.apache.hadoop.fs.Path(baseDir)
        .getFileSystem(serConf.value)
      rows.foreach { r =>
        val segs = (0 to nParts).map(r.getString)
        // fail loudly on rows that cannot form a safe relative path: a
        // null segment would silently become the literal "null" directory,
        // and '/' or '..' in a name would escape the partition tree
        segs.zipWithIndex.foreach { case (seg, i) =>
          require(seg != null && seg.nonEmpty,
            s"writeBinaryTree: null/empty path segment at position $i (row key ${segs.headOption})")
          require(!seg.contains("/") && seg != "." && seg != "..",
            s"writeBinaryTree: unsafe path segment '$seg' would escape $baseDir")
        }
        val rel = segs.mkString("/")
        val path = new org.apache.hadoop.fs.Path(baseDir, rel)
        val out = fs.create(path, true) // overwrite-by-path = idempotent
        try out.write(r.getAs[Array[Byte]](nParts + 1)) finally out.close()
      }
    }
  }
}

package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Spec fixture: lays binary rows out on disk the way the reference
  * pipeline's inputs arrive. */
object BinaryTree {

  /** Raw-bytes partitioned tree sink: writes each row's binary payload to
    * `baseDir/{p1}/{p2}/{name}` — the reference's on-disk layout
    * (`test.py:55-56,172-173`) as a distributed writer. Partition-local
    * (`foreachPartition`), creates parent dirs on demand, overwrites
    * by path (idempotent under task retry, like the reference's
    * sha-overwrite upsert). Hadoop FileSystem API, so the same code
    * targets local disk, HDFS, or object stores.
    */
  def writeBinaryTree(df: DataFrame, baseDir: String,
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

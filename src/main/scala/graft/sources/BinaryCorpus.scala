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
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout helpers — the persisted form of co-located
  * joins. Writing both sides of a recurring join bucketed by the join
  * key lets every subsequent join run with ZERO exchanges: each task
  * reads bucket i of both tables and joins locally. At 100 TB this is
  * the difference between re-shuffling the fact table on every query
  * and shuffling it once at ingest.
  */
object Bucketing {

  /** Persist `df` as a bucketed managed table, sorted within each bucket
    * by `sortCols` (none when empty), replacing any table of that name. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    ws.saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key. With equal
    * bucket counts the physical plan contains no Exchange on either
    * side (verify with `.explain` — asserted in BucketingSpec).
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      keys: Seq[String]): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), keys)
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dataset profiling — the per-column health report (row/null/distinct
  * counts, value range) that gates every ingest into a training corpus:
  * it is how schema drift, truncated loads, null floods, and exploded
  * cardinalities get caught before they poison downstream dedup keys and
  * mixture weights.
  */
object Profiling {

  /** Profile `cols` of `df` in ONE aggregation pass: per column the row
    * count, null count, distinct count, and min/max rendered as strings
    * (so mixed-type profiles stack into one long-format frame). Returns
    * `(col_name, n_rows, n_nulls, n_distinct, min_val, max_val)` sorted
    * by column name.
    *
    * Distinct counts use `count_distinct`, which Catalyst plans as one
    * Expand-based shuffle carrying a row copy per profiled column — what
    * the q83 oracle replays.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      // coalesce: sum over ZERO rows is NULL, and an empty table is the
      // ingest failure a profile gate most needs to report as 0, not null
      coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"__nulls_$c"),
      count_distinct(col(c)).as(s"__nd_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__min_$c").as("min_val"),
        col(s"__max_$c").as("max_val"))): _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spec fixture: the Misra–Gries summary as a one-row-per-counter
  * frame, the per-run state rows the specs feed
  * [[Sketches.mgStateSummary]] and [[Sketches.topKExact]]. */
object MisraGriesSketch {

  /** Misra–Gries frequent-items sketch of a column: one aggregation
    * pass with an m-counter buffer per partition (map-side merged), so
    * the shuffle moves ≤ m counters per partition however large the
    * column's vocabulary. Returns (item, weight, delta) rows —
    * true(item) ∈ [weight, weight + delta], and every item with
    * frequency > delta is guaranteed present
    * ([[graft.functions.Aggregators.MisraGries]]).
    *
    * The delta column ALWAYS survives: a flat-vocabulary merge cascade
    * can evict every counter (kept = ∅, delta > 0 — "every item's true
    * count is ≤ delta"), and a plain explode would drop that row
    * entirely, making 'sketch gave up' indistinguishable from 'empty
    * input'. That case surfaces as ONE row with null item/weight
    * carrying the delta; a truly empty input yields that row with
    * delta 0. Filter `item IS NOT NULL` for the tabular view;
    * [[topKExact]] consumes the struct directly.
    * As state, each run appends its rows tagged `run_id`
    * ([[mgStateSummary]] argues the retry); a run written by two
    * differing attempts holds up to 2(m+1) rows until compaction.
    */
  def frequentItems(df: DataFrame, c: Column, m: Int): DataFrame = {
    val mg = udaf(graft.functions.Aggregators.MisraGries(m))
    df.select(c.cast("string").as("__it")).where(col("__it").isNotNull)
      .agg(mg(col("__it")).as("s"))
      .select(explode_outer(col("s.items")).as("it"), col("s.delta").as("delta"))
      .select(col("it.item").as("item"), col("it.weight").as("weight"), col("delta"))
  }
}

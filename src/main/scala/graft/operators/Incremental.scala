package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental (skip-already-processed) processing — the reference
  * pipeline's core invariant: re-running on unchanged input produces zero
  * new rows (reference `test.py:103-107,142-146,203-204`).
  *
  * The state table holds the natural keys of everything processed so far;
  * new work = `input ANTI JOIN state` on the key columns — one exact
  * anti-join with no aggregation: a broadcast when the state side is
  * small, a sort-merge join otherwise.
  */
object Incremental {

  /** Rows of `input` whose key is absent from `state`. NULL-safe on the
    * key columns: with plain equality a null-keyed row never matches the
    * state (`NULL = NULL` is NULL), so it would be re-flagged as new on
    * EVERY run and re-appended forever — breaking the module's
    * zero-new-rows-on-unchanged-input invariant and growing state
    * unboundedly.
    *
    * The state side is NOT de-duplicated: an anti-join's result does not
    * depend on how many right-side rows match, and a `distinct()` would
    * cost a shuffle stage (and a job) on every run that has state.
    */
  def newRows(input: DataFrame, state: DataFrame, keys: Seq[String]): DataFrame = {
    val st = state.select(keys.map(col): _*)
    val cond = keys.map(k => input(k) <=> st(k)).reduce(_ && _)
    input.join(st, cond, "left_anti")
  }

  /** Append-merge state update (reference `test.py:197-201`): write the
    * newly processed keys into the state location.
    */
  def appendState(newlyProcessed: DataFrame, keys: Seq[String], stateDir: String): Unit =
    newlyProcessed.select(keys.map(col): _*).write.mode("append").parquet(stateDir)

  /** Snapshot reconciliation — classify every key across two corpus
    * snapshots as `added` / `removed` / `changed` / `unchanged`, the
    * audit primitive between crawl or curation runs ("what did this
    * refresh actually do to the corpus?"). Content identity is the
    * normalized sha-256 fingerprint ([[graft.functions.TextFunctions
    * .fingerprint]]), so a whitespace-only rewrite is `unchanged`.
    *
    * Scale shape: each side is REDUCED to (key, 64-char hash) before the
    * full-outer join — the join moves key-cardinality fingerprint pairs,
    * never document bodies, and both sides shuffle once on the key
    * (co-partitioned by the same hash, so the join itself is local).
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      keyCol: String, contentCol: String): DataFrame = {
    def prep(df: DataFrame, hashName: String) = df.select(
      col(keyCol),
      graft.functions.TextFunctions.fingerprint(col(contentCol)).as(hashName))
    prep(oldSnap, "old_hash")
      .join(prep(newSnap, "new_hash"), Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") =!= col("new_hash"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Read state, tolerating a first run with no state yet
    * (reference `test.py:109-111`). "State exists" means the dir holds
    * data files: a first [[appendState]] that died mid-write leaves only
    * `_temporary/`, which reads as empty state instead of failing every
    * later run on schema inference.
    */
  def readState(spark: SparkSession, stateDir: String, keys: Seq[String]): DataFrame = {
    val files = graft.sources.ParquetRead.dataFiles(spark, stateDir)
    if (files.nonEmpty) graft.sources.ParquetRead(spark, stateDir, files, merge = false)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(
        keys.map(k => org.apache.spark.sql.types.StructField(k, org.apache.spark.sql.types.StringType))))
  }
}

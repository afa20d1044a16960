package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.ParquetRead

/** The lifecycle state [[TokenIndex]] and [[VectorIndex]] share, kept
  * once and parameterised by the index's key column (`corpus_id` or
  * `vec_id`): the takedown ledger, its horizon-aware mask, and the
  * stored-metadata invariants of the postings table.
  *
  * Takedown ledger (VERDICT r15 item 5; horizon-aware since round 17):
  * `tombstones/` holds appended parquet rows `(key, asof_run)`. A
  * delete is a tombstone, not a rewrite: every probe anti-joins out the
  * rows of a deleted key AT OR BELOW its `asof_run` immediately, and
  * the index's next `compact` drops those rows physically and retires
  * the ledger (re-add semantics after that). Because only rows at or
  * below the horizon are masked, delete-then-append-under-a-higher-run
  * is the UPSERT path: the stale rows are masked from the very next
  * read while the re-ingested ones are live, never both, never neither.
  *
  * Scale contract: the LIVE ledger is the inter-compaction takedown
  * volume — bounded small in practice — so every consumer broadcasts
  * it. A takedown of most of the corpus should be a rebuild of the
  * survivors instead.
  */
private[graft] object IndexStore {

  /** Sentinel for a delete's `asofRun`: derive the horizon from the
    * index's current postings. */
  val DeriveAsof: Long = Long.MinValue

  private def tombstonesDir(indexDir: String) = s"$indexDir/tombstones"

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The changed-document upsert of either index as ONE call:
    * re-ingest `batch` under `runId` through `append`, masking every row
    * its ids had in runs BELOW it. The horizon is `runId - 1` —
    * explicit, not derived — so the call is idempotent under redelivery
    * even when other appends interleave, and a crash between the two
    * steps leaves only the benign delete-applied/append-missing state a
    * rerun completes. `key` and `reserved` are the index's key column
    * and its reserved posting columns; callers own run monotonicity.
    */
  def upsert(batch: DataFrame, idCol: String, key: String, reserved: Set[String],
      indexDir: String, runId: Long, metaCols: Seq[String])(append: => Unit): Unit =
    // ONE lease across both steps (withLease is reentrant), so no other
    // writer can interleave between the delete and the append
    graft.sources.Lease.withLease(batch.sparkSession, indexDir) {
      // append's metadata check runs BEFORE the delete: a refused upsert
      // must leave its ids live, not tombstoned with no new rows
      requireMetaSet(batch, metaCols, s"$indexDir/postings", reserved)
      appendTombstones(batch.select(col(idCol)), idCol, key, indexDir,
        s"$indexDir/postings", runId - 1)
      append
    }

  /** Append `ids` to the ledger under horizon `asofRun`. [[DeriveAsof]]
    * records the max `run_id` of `postingsDir` (from its footers, no
    * job — [[ParquetRead.columnMax]]), so a delete
    * covers exactly the ingests that preceded it; an index with no
    * postings records -1 (nothing to cover). Callers that own run
    * bookkeeping pass `asofRun` explicitly: a REDELIVERED
    * derive-at-delete-time delete would re-derive a higher horizon and
    * swallow an upsert appended in between. Idempotent under
    * redelivery: a retried delete appends identical rows, and every
    * consumer is a set operation. The caller holds the index's lease.
    */
  def appendTombstones(ids: DataFrame, idCol: String, key: String,
      indexDir: String, postingsDir: String, asofRun: Long): Unit = {
    val spark = ids.sparkSession
    // "postings exist" means data files: a crashed first append leaves
    // a dir holding only `_temporary/`, which is no postings
    val asof =
      if (asofRun != DeriveAsof) asofRun
      else ParquetRead.columnMax(spark,
        ParquetRead.dataFiles(spark, postingsDir).map(_.getPath.toString), "run_id")
        .getOrElse(-1L)
    ids.select(col(idCol).as(key)).distinct()
      .withColumn("asof_run", lit(asof))
      .coalesce(1).write.mode("append").parquet(tombstonesDir(indexDir))
  }

  /** The live `(key, asof_run)` ledger rows, or None when no delete was
    * ever issued (the common case — consumers then skip the anti-join,
    * so the no-takedown plans are untouched).
    *
    * One explicit-schema read: no schema inference, so no Spark job.
    * Legacy (pre-horizon) ledger files carry only the key; their rows
    * read `asof_run` as NULL and default to Long.MaxValue — "mask every
    * run", the semantics they were written under — so an old index
    * with pending takedowns keeps probing and compacting. The default
    * is per ROW: a MIXED ledger (legacy files beside post-upgrade
    * deletes) keeps both generations masking, where a NULL horizon
    * would silently unmask (`run_id <= NULL` is never true). Keys are
    * integral (`long`).
    *
    * NOT deduplicated: every consumer is a left-anti join or a physical
    * drop, both multiplicity-blind, and a distinct would buy an
    * exchange for nothing (measured as the dominant ledger cost in the
    * sf1 takedown probe). A key deleted twice with different horizons
    * carries both rows; the effective horizon is their max, the
    * union-of-coverage semantics wanted.
    */
  def tombstones(spark: SparkSession, indexDir: String,
      key: String): Option[DataFrame] =
    if (!exists(spark, tombstonesDir(indexDir))) None
    else Some(spark.read.schema(s"$key long, asof_run long")
      .parquet(tombstonesDir(indexDir))
      .select(col(key), coalesce(col("asof_run"), lit(Long.MaxValue)).as("asof_run")))

  /** Drop the rows of `df` the ledger covers: `idCol` matches a
    * tombstone AND the row's `runCol` is at or below its horizon, so an
    * upsert's re-appended (higher-run) rows survive. Always a broadcast
    * hash anti-join — equi on the id, the run bound rides as an extra
    * predicate — so the scan never shuffles; None folds through.
    */
  def dropMasked(df: DataFrame, tomb: Option[DataFrame], idCol: String,
      runCol: String = "run_id"): DataFrame =
    tomb.fold(df)(t =>
      df.join(broadcast(t.toDF("__t_id", "__t_asof")),
        df(idCol) === col("__t_id") && df(runCol) <= col("__t_asof"),
        "left_anti"))

  /** After a compaction made the takedowns physical: retire the ledger.
    * A crash before this leaves stale tombstones over already-dropped
    * rows, which the mask reads as a harmless no-op. */
  def retireTombstones(spark: SparkSession, indexDir: String): Unit = {
    val p = new Path(tombstonesDir(indexDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Metadata column names a caller may store in the postings: none may
    * shadow a reserved posting column or use the internal `__` working
    * prefix (the index's write pipeline would shadow or drop it). */
  private def requireMetaNames(names: Seq[String], reserved: Set[String]): Unit =
    names.foreach { m =>
      require(!reserved(m), s"metaCols name '$m' collides with a reserved posting column")
      require(!m.startsWith("__"),
        s"metaCols name '$m' uses the internal working-column prefix __")
    }

  /** The stored postings under the merge of every file's footer. One
    * footer's schema is whichever file sorts first, so on an index whose
    * files carry mixed schemas a one-footer read would flip the
    * metadata checks arbitrarily; the merged schema sees every column
    * any file carries. The footers are read on the driver, so the check
    * starts no job. */
  private def mergedPostings(spark: SparkSession, postingsDir: String,
      files: Seq[FileStatus]): DataFrame =
    ParquetRead(spark, postingsDir, files, merge = true)

  /** The append-side metadata invariant: `metaCols` are valid names,
    * present in `batch`, and — once postings exist — exactly the stored
    * metadata set. The set is index-level, not per batch: a batch with
    * a different set writes rows a filtered probe silently excludes
    * forever (the predicate reads NULL for the missing column). */
  def requireMetaSet(batch: DataFrame, metaCols: Seq[String],
      postingsDir: String, reserved: Set[String]): Unit = {
    requireMetaNames(metaCols, reserved)
    metaCols.foreach(m =>
      require(batch.columns.contains(m), s"metaCols column '$m' not in batch"))
    val spark = batch.sparkSession
    val files = ParquetRead.dataFiles(spark, postingsDir)
    if (files.nonEmpty) {
      val stored = mergedPostings(spark, postingsDir, files).columns.filterNot(reserved).toSet
      require(stored == metaCols.toSet,
        s"metaCols ${metaCols.toSet} must match the index's stored metadata " +
          s"columns $stored — every append carries the same metadata set")
    }
  }

  /** The one `evolveMetadata` rewrite of both indexes: every stored
    * posting gains each new column as its literal default, in the
    * index's row layout (`layout`), swapped into place by
    * [[graft.sources.Compaction.rewriteParquetDir]]. The added names
    * are validated up front; the refusal of columns already stored
    * (evolution only ADDS) runs inside the rewrite, so it sees the
    * postings after crash recovery (they may be parked whole under the
    * swap's old dir) and under the union of every file's schema. An
    * index with no postings is refused after the rewrite found none.
    * The caller holds the index's lease. */
  def evolvePostings(spark: SparkSession, postingsDir: String,
      reserved: Set[String], defaults: Seq[(String, Any)])(
      layout: DataFrame => DataFrame): Unit = {
    require(defaults.nonEmpty, "evolveMetadata: no columns to add")
    requireMetaNames(defaults.map(_._1), reserved)
    graft.sources.Compaction.rewriteParquetDir(spark, postingsDir) { input =>
      val stored = input.columns.filterNot(reserved).toSet
      defaults.foreach { case (m, _) =>
        require(!stored.contains(m),
          s"evolveMetadata: column '$m' is already stored metadata " +
            s"($stored) — evolution only ADDS columns")
      }
      layout(defaults.foldLeft(input) { case (acc, (m, v)) => acc.withColumn(m, lit(v)) })
    }
    require(ParquetRead.dataFiles(spark, postingsDir).nonEmpty,
      s"evolveMetadata: no index postings at $postingsDir")
  }
}

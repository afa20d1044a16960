package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet directories — the sink-hygiene pass
  * every long-lived ingest needs: incremental appends (the reference's
  * per-run appends, streaming microbatches, per-partition task outputs)
  * accumulate files far below the efficient scan size, and the resulting
  * footer/open overhead dominates read cost.
  *
  * [[Compaction.rewriteParquetDir]] is the one in-place rewrite, for
  * flat and partitioned directories alike: every index, sketch and
  * signature-state compaction and every metadata evolution goes through
  * it. It reads the directory under the union of its footers' schemas,
  * runs the caller's row transform (identity, keep-latest, retention, a
  * sketch fold, a backfill), writes the result to `__compact_tmp` and
  * swaps it into place under the directory's [[Lease]]. Both row
  * counts come from footers: the input's before the write, the
  * output's after it, so the transformed rows are computed once, by the
  * write. A flat directory whose data files total at most
  * [[Compaction.TargetFileBytes]] is written as one file, coalesced
  * without a shuffle; a larger one is sized to
  * ceil(bytes / [[Compaction.TargetFileBytes]]) files, with the bytes
  * scaled by the row survival ratio, through one round-robin
  * `repartition` (the only way to get even output sizes from skewed
  * inputs). A directory partitioned on disk is written with the same
  * partition columns, in the transform's own row layout.
  *
  * The swap is write-temp → rename-old-aside → rename-temp — NOT atomic.
  * That is a deliberate scope line: atomic replace is a table-format
  * commit protocol (transaction log + snapshot pointer), not a directory
  * operation. Readers mid-swap see a missing directory, never partial
  * data — and a rerun after a mid-swap crash self-heals: if the live dir
  * is absent but `__compact_old` exists, the rerun renames it back
  * before compacting.
  */
object Compaction {

  /** Output file size every compaction rewrite aims for. */
  val TargetFileBytes: Long = 128L << 20

  /** Recursive LOCAL-filesystem delete for temp/state directories the
    * engine itself created (fixture indexes, probe scratch). Null-safe
    * against `listFiles` returning null (permission/race). One shared
    * copy — query bodies, probes, and specs all need it.
    */
  def deleteLocalDir(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteLocalDir)
    f.delete(): Unit
  }

  /** Recursive local copy — scratch clones of a cached index dir, so a
    * LIFECYCLE query (delete → probe → compact) can mutate a private
    * copy per invocation while the expensive build stays cached behind
    * its fixture-fingerprint marker (q126's cadence). */
  def copyLocalDir(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty)
        .foreach(f => copyLocalDir(f, new java.io.File(dst, f.getName)))
    } else
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Crash recovery preamble: a previous run that died between
    * rename(dir, old) and rename(tmp, dir) leaves the live directory
    * absent with every byte parked under `__compact_old` — restore it
    * before proceeding so the rerun compacts instead of failing the
    * read.
    */
  private def recoverCrashedSwap(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(dir + "__compact_old")
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p),
        s"Compaction: crash recovery rename $old -> $p failed")
  }

  /** Swap `dir + "__compact_tmp"` (already written) into `dir` with a
    * checked two-rename protocol instead of delete+rename: HadoopFS
    * returns FALSE rather than throwing on many failures, and an
    * unchecked delete+rename that half-succeeds silently loses the
    * directory (data would sit only in the tmp dir while the caller
    * reports success). Keeping the original under `__compact_old` until
    * the swap lands also gives a rollback path.
    */
  private def swapTmpIntoPlace(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + "__compact_tmp")
    val old = new Path(dir + "__compact_old")
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(p, old), s"Compaction: could not move $p aside to $old")
    if (!fs.rename(tmp, p)) {
      val back = fs.rename(old, p) // roll back: restore the original dir
      throw new IllegalStateException(
        s"Compaction: rename $tmp -> $p failed" +
          (if (back) " (original restored)" else s" AND rollback failed — data is at $old"))
    }
    fs.delete(old, true)
  }

  /** Rewrite the ROWS of a parquet directory through `transform` and
    * swap the result into place under the checked two-rename protocol
    * ([[recoverCrashedSwap]] first, [[swapTmpIntoPlace]]'s
    * `__compact_old` rollback window). An identity `transform` merely
    * re-buckets fragmented files; state-table compaction
    * ([[graft.operators.Dedup.compactSignatureStateKeys]], the sketch and
    * index folds) drops rows (keep-latest, retention).
    *
    * `transform` sees the directory read under the union of every
    * footer's schema: files written across schema generations (an
    * index's metadata-carrying postings) may differ in columns, and a
    * one-footer read would drop the others' columns, permanently once
    * swapped. It runs only after crash recovery and only when the
    * directory holds data files ([[ParquetRead.dataFiles]], listed
    * once), so a caller's checks and sidecar writes belong inside it.
    *
    * A flat directory whose data files total at most
    * [[TargetFileBytes]] is written as ONE file: the transform is
    * coalesced to one partition, so no shuffle is added, and its rows
    * are computed once, by the write. No caller's transform adds rows,
    * so this is the file count the size rule below gives such a
    * directory. A larger flat directory's output file count is sized
    * from the input bytes scaled by the row survival ratio, so a
    * 90%-dropped state lands in proportionally fewer [[TargetFileBytes]]
    * files; that rule counts the transformed rows before the write, so
    * they are persisted for the count and the write to share. A
    * directory partitioned on disk (`col=value` segments in its
    * listing) is written with the same partition columns and NOT
    * repartitioned: the transform lays out its rows (repartition by the
    * partition columns for one file each, a sort prefixed by them to
    * keep row-group order) and the writer keeps that order.
    *
    * Returns (rowsBefore, rowsAfter): the row counts of the input's and
    * the written output's footers; `(0, 0)` without a write when the
    * directory holds no data files.
    *
    * Single-writer contract ENFORCED via [[Lease]] (fail-fast on a
    * concurrent writer, stale-takeover on a crashed one); reentrant, so
    * a caller already holding this dir's lease (a sketch compaction)
    * acquires nothing more, and an index compact pays only this dir's
    * own lease.
    */
  def rewriteParquetDir(spark: SparkSession, dir: String)(
      transform: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame): (Long, Long) =
      Lease.withLease(spark, dir) {
    recoverCrashedSwap(spark, dir)
    val files = ParquetRead.dataFiles(spark, dir)
    if (files.isEmpty) return (0L, 0L)
    val input = ParquetRead(spark, dir, files, merge = true)
    val rowsBefore = ParquetRead.rowCount(spark, files)
    // the partition columns: the `col=value` dirs between `dir` and a
    // data file
    val root = new Path(dir)
    val depth = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(root).depth
    val partitionCols = Iterator.iterate(files.head.getPath.getParent)(_.getParent)
      .takeWhile(_.depth > depth).map(_.getName.takeWhile(_ != '=')).toSeq.reverse
    val tmp = dir + "__compact_tmp"
    val inBytes = files.map(_.getLen).sum
    if (partitionCols.nonEmpty)
      transform(input).write.partitionBy(partitionCols: _*).mode("overwrite").parquet(tmp)
    else if (inBytes <= TargetFileBytes)
      transform(input).coalesce(1).write.mode("overwrite").parquet(tmp)
    else {
      // persist: the sizing count and the write both read the
      // transformed rows; the cache is released before the swap so no
      // live plan holds the OLD directory's file listing
      val out = transform(input).persist()
      try {
        val keepRatio = if (rowsBefore == 0) 1.0 else out.count().toDouble / rowsBefore
        val outBytes = (inBytes * keepRatio).toLong
        val wantFiles = math.max(1, math.ceil(outBytes.toDouble / TargetFileBytes).toInt)
        out.repartition(wantFiles).write.mode("overwrite").parquet(tmp)
      } finally out.unpersist(blocking = false)
    }
    val rowsAfter = ParquetRead.rowCount(spark, ParquetRead.dataFiles(spark, tmp))
    swapTmpIntoPlace(spark, dir)
    (rowsBefore, rowsAfter)
  }
}

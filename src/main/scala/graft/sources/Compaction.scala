package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet directories — the sink-hygiene pass
  * every long-lived ingest needs: incremental appends (the reference's
  * per-run appends, streaming microbatches, per-partition task outputs)
  * accumulate files far below the efficient scan size, and the resulting
  * footer/open overhead dominates read cost.
  *
  * [[Compaction.rewriteParquetDir]] is the one rewrite: it reads the
  * directory, runs the caller's row transform (identity, keep-latest,
  * retention, a sketch fold), sizes the output from the ACTUAL on-disk
  * bytes scaled by the row survival ratio — file count =
  * ceil(bytes / [[Compaction.TargetFileBytes]]), written via one
  * `repartition` (a round-robin shuffle — the only way to get even
  * output sizes from skewed inputs) — and swaps the result into place
  * under the directory's [[Lease]].
  *
  * The swap is write-temp → rename-old-aside → rename-temp — NOT atomic.
  * That is a deliberate scope line: atomic replace is a table-format
  * commit protocol (transaction log + snapshot pointer), not a directory
  * operation. Readers mid-swap see a missing directory, never partial
  * data — and a rerun after a mid-swap crash self-heals: if the live dir
  * is absent but `__compact_old` exists, the preamble renames it back
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
  private[graft] def recoverCrashedSwap(spark: SparkSession, dir: String): Unit = {
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
  private[graft] def swapTmpIntoPlace(spark: SparkSession, dir: String): Unit = {
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
    * ([[recoverCrashedSwap]] preamble, [[swapTmpIntoPlace]]'s
    * `__compact_old` rollback window). An identity `transform` merely
    * re-buckets fragmented files; state-table compaction
    * ([[graft.operators.Dedup.compactSignatureState]], the sketch and
    * index folds) drops rows (keep-latest, retention). Output file count
    * is sized from the input bytes scaled by the row survival ratio, so
    * a 90%-dropped state lands in proportionally fewer
    * [[TargetFileBytes]] files. Returns
    * (rowsBefore, rowsAfter); `(0, 0)` without a write when the
    * directory holds no data files ([[ParquetRead.dataFiles]], listed
    * once: the same listing sizes the output and feeds the schema
    * read).
    *
    * Single-writer contract ENFORCED via [[Lease]] (fail-fast on a
    * concurrent writer, stale-takeover on a crashed one); reentrant, so
    * an index compact already holding its state dir's lease pays only
    * this dir's own marker.
    */
  def rewriteParquetDir(spark: SparkSession, dir: String,
      merge: Boolean = false)(
      transform: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame): (Long, Long) =
      Lease.withLease(spark, dir) {
    recoverCrashedSwap(spark, dir)
    val files = ParquetRead.dataFiles(spark, dir)
    if (files.isEmpty) return (0L, 0L)
    // merge: tables whose files may legitimately differ in columns (an
    // index's metadata-carrying postings written across schema
    // generations) must rewrite the UNION of every footer's schema — a
    // one-footer read silently drops whichever columns the first file
    // lacks, and the swap makes that loss permanent
    val input = ParquetRead(spark, dir, files, merge)
    // persist: three actions follow (two counts + the write), all over
    // the transformed rows; the cache is released before the swap so no
    // live plan holds the OLD directory's file listing
    val out = transform(input).persist()
    val result =
      try {
        val rowsBefore = input.count()
        val rowsAfter = out.count()
        val keepRatio = if (rowsBefore == 0) 1.0 else rowsAfter.toDouble / rowsBefore
        val outBytes = (files.map(_.getLen).sum * keepRatio).toLong
        val wantFiles = math.max(1, math.ceil(outBytes.toDouble / TargetFileBytes).toInt)
        out.repartition(wantFiles)
          .write.mode("overwrite").parquet(dir + "__compact_tmp")
        (rowsBefore, rowsAfter)
      } finally out.unpersist(blocking = false)
    swapTmpIntoPlace(spark, dir)
    result
  }
}

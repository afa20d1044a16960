package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.ParquetRead

/** Persisted IVF ANN index — [[TokenIndex]]'s pattern applied to the
  * embedding column: a one-shot IVF search (the spec reference
  * `IvfReference.ivfCosineTopK`) re-trains k-means and re-assigns the
  * whole corpus on EVERY call, which is the right shape for one ad-hoc
  * search and exactly the wrong one for the production cadence (a
  * slowly-growing corpus probed by query batch after query batch —
  * retrieval, near-dup lookups, embedding decontamination).
  * Here the expensive parts are paid once: k-means trains at [[build]],
  * every corpus vector's cell assignment is PERSISTED as a posting, and
  * a probe batch touches only the centroid table (k rows, broadcast)
  * plus the postings of the probed cells.
  *
  * On-disk layout under `indexDir` (plain parquet):
  *  - `centroids/`: `(centroid_id int, centroid array<double>)` — the
  *    model, written once by [[build]]. Bounded by k.
  *  - `postings/`: `(vec_id, emb, run_id, centroid_id)`, PARTITIONED
  *    by `cell_bucket = centroid_id / ceil(k / 64)` — cells BIN-PACK
  *    into at most [[MaxBuckets]] directories instead of one per cell
  *    (the r14 one-dir-per-cell layout tripled build cost and paid
  *    tiny-file overhead on every probe at fixture cell sizes:
  *    BASELINE r14 addendum 4). Two pruning tiers recover the "reads
  *    only probed cells" contract: the probe's k-bounded bucket filter
  *    prunes at the PARTITION level (unprobed buckets' files never
  *    open), and because every append sorts within partitions by
  *    `centroid_id`, the cell filter itself reaches the scan as a
  *    pushed data filter that skips non-probed cells' ROW GROUPS via
  *    parquet min/max stats — so probe bytes stay proportional to the
  *    probed cells, while files stay at healthy sizes.
  *  - `_build_complete`: completion marker, deleted first and written
  *    last by [[build]]; [[queryTopK]] refuses to answer without it,
  *    so a crashed build is loud, never silently partial (see
  *    [[build]]'s crash contract).
  *  - `run_stats/`: one drift-accounting row per ingest run (see
  *    [[assignmentDrift]]); reset by [[build]] together with the
  *    postings — a new model anchors a new baseline — but never
  *    touched by [[compact]].
  *  - `_sq8` / `_pq` sibling markers + `pq_codebooks/`: the quantized
  *    posting formats ([[build]]'s `sq8`/`pqM`); appends and probes,
  *    manual or streamed, auto-match the format through the markers.
  *
  * Incremental growth ([[append]]): new batches assign against the
  * FROZEN centroids — the standard IVF production contract (Faiss-style:
  * train once on a representative sample, add forever; re-[[build]]
  * when drift warrants a new model). Assignment is a deterministic pure
  * projection, so a retried batch appends bit-identical rows and the
  * query-side `dropDuplicates(query, neighbor)` absorbs them — the same
  * holds for a verbatim re-ingest under a new run id. [[compact]] folds
  * the postings to the distinct vector set, horizon-tagged.
  *
  * Recall contract: an f32 index is identical to `ivfCosineTopK` with
  * the same centroids and nprobe (spec-pinned equality) — approximate
  * by cell blocking, with the guarantee that exact scalar multiples
  * always co-assign (corpus and queries share ONE cell-selection rule,
  * see [[append]] — what q110's planted oracle rests on). Quantized
  * formats (sq8/pq) keep the identical CELL structure but rank
  * candidates on their codes — measured recall in BASELINE.md's r15
  * tables; exact ranking is recovered via [[queryTopKRerank]]
  * (quantized shortlist → full-precision re-rank, the production
  * cadence q115/q117 hash-oracle).
  */
object VectorIndex {

  private[graft] def centroidsDir(indexDir: String) = s"$indexDir/centroids"
  private[graft] def postingsDir(indexDir: String) = s"$indexDir/postings"

  /** Partition-directory budget for the postings layout. 64 keeps the
    * directory/file count flat as k grows with √n (the sizing rule),
    * while a probe batch that touches c distinct cells opens at most
    * min(c, 64) directories — and inside them, row-group stats pruning
    * on the sorted `centroid_id` column does the fine-grained skip. */
  private[graft] val MaxBuckets = 64

  /** Cells per bucket for a k-cell model (≥ 1). Stable across appends
    * because k is frozen with the centroids. */
  private[graft] def bucketWidth(k: Int): Int =
    math.max(1, math.ceil(k.toDouble / MaxBuckets).toInt)

  /** The model's cell count: the k-row centroid table's footer row
    * count, read on the driver (no job). */
  private[graft] def modelK(spark: SparkSession, indexDir: String): Int =
    ParquetRead.rowCount(spark, ParquetRead.dataFiles(spark, centroidsDir(indexDir))).toInt

  /** The postings' row layout, written by every append and rewrite:
    * one task, hence one file, per cell bucket, rows sorted by
    * centroid_id within it. The bucket-prefixed sort satisfies
    * FileFormatWriter's required ordering (the partition column) so the
    * writer inserts no second sort, while the centroid_id suffix keeps
    * row groups stats-tight for the probe's cell filter. */
  private def bucketLayout(postings: DataFrame): DataFrame =
    postings.repartition(col("cell_bucket"))
      .sortWithinPartitions(col("cell_bucket"), col("centroid_id"))
  // SIBLING of centroids/ and postings/ (indexDir itself is never
  // swapped), so neither compact()'s two-rename nor a postings rewrite
  // can destroy it — the KMV __kmv_k sidecar lesson
  private def builtMarker(indexDir: String) = s"$indexDir/_build_complete"
  // the IVF-SQ8 format marker: present ⇔ postings store int8 codes
  // (struct<scale, q>) instead of the raw float embedding. A sibling
  // for the same swap-safety reason; written/removed by build, read by
  // append/queryTopK so streamed and manual appends auto-match the
  // index's format.
  private def sq8Marker(indexDir: String) = s"$indexDir/_sq8"
  // the IVF-PQ format marker: present ⇔ postings store product-
  // quantization codes (array<short>, one per subspace) and the model
  // carries a pq_codebooks/ table beside centroids/. Same sibling
  // swap-safety contract; mutually exclusive with _sq8 by build().
  private def pqMarker(indexDir: String) = s"$indexDir/_pq"
  private[graft] def pqCodebooksDir(indexDir: String) = s"$indexDir/pq_codebooks"

  /** Posting payload format, decided once at [[build]] and auto-matched
    * by every append and probe via the sibling markers. */
  private[graft] sealed trait Format
  private[graft] case object F32 extends Format
  private[graft] case object Sq8 extends Format
  private[graft] case object Pq extends Format

  private def hasMarker(spark: SparkSession, path: String): Boolean = {
    val m = new org.apache.hadoop.fs.Path(path)
    m.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(m)
  }

  private[graft] def format(spark: SparkSession, indexDir: String): Format =
    if (hasMarker(spark, pqMarker(indexDir))) Pq
    else if (hasMarker(spark, sq8Marker(indexDir))) Sq8
    else F32

  /** The persisted PQ model, loaded back into the shape the native
    * expressions pin ([[graft.plans.PqCodebooks.flatten]] re-validates).
    * Bounded: m·ncodes rows (the centroid table's footprint). */
  private[graft] def loadCodebooks(spark: SparkSession,
      indexDir: String): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val rows = ParquetRead(spark, pqCodebooksDir(indexDir))
      .select(col("sub"), col("code"), col("codeword"))
      .as[(Int, Int, Seq[Double])].collect()
    require(rows.nonEmpty, s"VectorIndex at $indexDir: empty pq_codebooks/")
    val m = rows.iterator.map(_._1).max + 1
    val ncodes = rows.iterator.map(_._2).max + 1
    val out = Array.fill(m, ncodes)(Array.empty[Double])
    rows.foreach { case (s, c, w) => out(s)(c) = w.toArray }
    out
  }

  /** Train the cell model on the corpus and index it as run 0. k-means
    * is [[Similarity.kmeansCentroids]] (deterministic hash-seeded
    * sample, bounded training set); assignment is [[append]]'s shared
    * exact cell-selection rule.
    *
    * Crash contract (r15 review): build is NOT atomic — it is
    * fail-LOUD + rerun-to-heal. The completion marker is deleted
    * before anything else changes and re-written only after the
    * corpus is fully indexed, so a crash at ANY point leaves an index
    * that [[queryTopK]] refuses with a re-run instruction, never a
    * silently partial or mis-filed one. Step order inside the window
    * matters too: old-model postings are deleted BEFORE the new
    * centroids land — the reverse order could strand postings
    * assigned under the old model filed beneath the new cells.
    * Re-running build is always safe: training is deterministic and
    * every step re-executes idempotently.
    *
    * `sq8 = true` builds an IVF-SQ8 index (the Faiss
    * `IVF…,SQ8` analog): postings store symmetric int8 codes
    * ([[VectorFunctions.quantizeInt8]]) instead of the raw embedding —
    * ~4× fewer posting bytes, the storage/shuffle lever that matters
    * at 10⁹ vectors. Cell ASSIGNMENT still runs on the full-precision
    * embedding, so the cell structure is bit-identical to the f32
    * index (spec-pinned); only candidate SCORING uses the codes —
    * cosine is scale-invariant, so codes rank without dequantization,
    * at a per-element |x| ≤ absmax/254 rounding error (measured
    * recall vs full-precision truth in BASELINE.md r15). [[append]]
    * and [[queryTopK]] auto-match the format via the `_sq8` marker.
    *
    * `pqM > 0` builds an IVF-PQ index (the Faiss `IVF…,PQm` analog;
    * mutually exclusive with sq8): postings store `pqM` short codes
    * per vector — one per subspace, against per-subspace k-means
    * codebooks ([[Similarity.pqCodebooks]], persisted under
    * `pq_codebooks/` and re-loaded by appends and probes via the
    * `_pq` marker). At dim 64 / m 8 that is ~16× fewer raw posting
    * bytes than the f64 payload — the compression tier ABOVE sq8, at
    * a recall cost measured (not guessed) in BASELINE.md's r15 PQ
    * table. Same invariants as sq8: full-precision cell assignment
    * (structure bit-identical to f32, spec-pinned), scoring through
    * the fused [[graft.plans.PqCosine]] kernel, and exact-score
    * callers re-rank the returned k against full-precision vectors.
    */
  def build(corpus: DataFrame, idCol: String, embCol: String,
      indexDir: String, k: Int, maxIter: Int = 8, sq8: Boolean = false,
      pqM: Int = 0, metaCols: Seq[String] = Nil): Unit =
      graft.sources.Lease.withLease(corpus.sparkSession, indexDir) {
    require(!(sq8 && pqM > 0), "sq8 and pq are mutually exclusive formats")
    val spark = corpus.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(builtMarker(indexDir))
    val fs = marker.getFileSystem(hconf)
    // 1. invalidate: from here until the final marker write the index
    //    is loudly incomplete
    if (fs.exists(marker)) fs.delete(marker, false)
    val cents = Similarity.kmeansCentroids(corpus, idCol, embCol, k, maxIter)
    // PQ model trains before anything is deleted (it only reads the
    // corpus); bounded driver-side Lloyd per subspace over RESIDUALS
    // from the just-trained centroids — see pqCodebooks
    val cbs = if (pqM > 0) Similarity.pqCodebooks(corpus, idCol, embCol, pqM,
      residualOf = cents) else null
    // 2. a RE-build is a new model: postings assigned under the old
    //    centroids die FIRST (before the centroid overwrite) — a crash
    //    in between leaves old centroids with no postings, which the
    //    absent marker already reports, instead of old postings
    //    mis-filed under new cells (r14 review 2 / r15 ADVICE)
    val p = new org.apache.hadoop.fs.Path(postingsDir(indexDir))
    if (fs.exists(p)) fs.delete(p, true)
    // drift history dies with the old model too: run_stats/ anchors
    // assignmentDrift at the LOWEST run id present, so letting the old
    // model's rows linger would anchor the NEW model's baseline to the
    // old run 0 and max-merge the duplicate run-0 stats across models —
    // a silently corrupt drift signal after every re-build (found by
    // the r15 rebuildIfDrifted spec; compact() still never touches
    // run_stats — posting folds keep history, model replacement resets it)
    val rs = new org.apache.hadoop.fs.Path(runStatsDir(indexDir))
    if (fs.exists(rs)) fs.delete(rs, true)
    centroidsDf(spark, cents)
      .coalesce(1).write.mode("overwrite").parquet(centroidsDir(indexDir))
    // the format markers are part of the model and flip with it (a
    // re-build may switch formats; postings are already gone, so no
    // mixed-format rows can survive). The codebook table lands before
    // its marker so a Pq verdict always finds codebooks to load.
    if (cbs != null) {
      import spark.implicits._
      (for { s <- cbs.indices; c <- cbs(s).indices }
        yield (s, c, cbs(s)(c).toSeq))
        .toDF("sub", "code", "codeword")
        .coalesce(1).write.mode("overwrite").parquet(pqCodebooksDir(indexDir))
    }
    val m8 = new org.apache.hadoop.fs.Path(sq8Marker(indexDir))
    if (sq8) { val out = fs.create(m8, true); out.close() }
    else if (fs.exists(m8)) fs.delete(m8, false)
    val mpq = new org.apache.hadoop.fs.Path(pqMarker(indexDir))
    if (cbs != null) { val out = fs.create(mpq, true); out.close() }
    else if (fs.exists(mpq)) fs.delete(mpq, false)
    append(corpus, idCol, embCol, indexDir, runId = 0L, metaCols = metaCols)
    // 3. the index is whole — declare it
    markBuilt(spark, indexDir)
  }

  /** Stamp the completion marker — the last step of [[build]], exposed
    * for callers that assemble an index from externally-trained
    * centroids + [[append]] instead of [[build]] (specs do). */
  private[graft] def markBuilt(spark: SparkSession, indexDir: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(builtMarker(indexDir))
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    try out.write("ok\n".getBytes("UTF-8")) finally out.close()
  }

  /** The centroid model as a DataFrame — shared by [[build]] and any
    * caller that wants to hand the same model to
    * the one-shot IVF search (the spec reference
    * `IvfReference.ivfCosineTopK`). */
  private[graft] def centroidsDf(spark: SparkSession,
      cents: Array[Array[Double]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("centroid_id",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false))))
    spark.createDataFrame(
      cents.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i, c.toSeq) }.toSeq.asJava, schema)
  }

  /** Assign one corpus batch against the frozen centroids and append
    * its postings under `runId` (append-only corpus, one batch per run,
    * retries absorbed — see the class note). Vectors with null/empty
    * embeddings are not indexed (they can never be a neighbor).
    *
    * Assignment is the EXACT argmax via the SAME [[cellsFor]] rule the
    * query probe uses — deliberately not the native ArgmaxCosine, whose
    * tie-break is the OPPOSITE (ties → higher index): with duplicated
    * centroids (k-means pads its pool when training rows < k) exact
    * ties are certain, and a corpus filed under the higher duplicate
    * while queries probe the lower would silently empty nprobe=1
    * results (r14 review 2). One shared rule on both sides makes the
    * parity with `ivfCosineTopK` (ties → lower id) and the
    * co-assignment guarantee exact at ANY k. Add-time pays
    * Θ(n·k·log k) once per batch — the Faiss flat-coarse-quantizer
    * contract.
    *
    * Requires a BUILT index: [[build]] once on a representative sample
    * (run 0, the drift baseline), then append later runs under ids ≥ 1;
    * re-build when [[assignmentDrift]] sustains past the trigger.
    * Redelivery: assignment is a deterministic pure projection, so a
    * retried run appends bit-identical postings and an identical stats
    * row; the probe-side (query, neighbor) dedup and the drift read's
    * per-run max absorb both. `metaCols` must match the index's: a
    * filtered probe reads the columns every append stored.
    */
  def append(batch: DataFrame, idCol: String, embCol: String,
      indexDir: String, runId: Long, metaCols: Seq[String] = Nil): Unit =
      graft.sources.Lease.withLease(batch.sparkSession, indexDir) {
    val spark = batch.sparkSession
    // metadata-in-postings (VERDICT r17 item 3): caller-chosen scalar
    // metadata columns (language, license, date, …) are DENORMALIZED
    // into every posting row, so a filtered probe's predicate reaches
    // the parquet scan as PushedFilters instead of semi-joining a
    // caller-materialized id set. Names are stored verbatim; the
    // internal posting columns are reserved, and the metadata SET is an
    // index-level invariant.
    IndexStore.requireMetaSet(batch, metaCols, postingsDir(indexDir),
      ReservedPostingCols)
    val centArr = centroidArray(spark, indexDir)
    val width = bucketWidth(modelK(spark, indexDir))
    // postings bin-pack into ≤ MaxBuckets directories (see the class
    // note's two-tier pruning story). The repartition-by-bucket before
    // the write is what bounds the FILE count: without it every write
    // task emits one file per bucket it happens to hold (tasks ×
    // buckets files — the r14 one-dir-per-cell layout produced
    // thousands of tiny files per build and tripled build cost);
    // with it, exactly one file per non-empty bucket per append. The
    // within-partition sort by centroid_id is load-bearing: it is what
    // makes the probe's cell filter prune ROW GROUPS via parquet
    // min/max stats.
    // sq8/pq indexes quantize at STORE time: assignment above ran on
    // the full-precision embedding (cell structure identical to f32),
    // only the persisted payload is codes. PQ encodes the RESIDUAL of
    // the L2-normalized vector from its assigned centroid (the Faiss
    // IVFPQ contract — codebooks trained on residuals, so the codes
    // describe intra-cell structure), which needs the centroid ARRAY:
    // one broadcast join against the k-row model table.
    val fmt = format(spark, indexDir)
    lazy val cbs = loadCodebooks(spark, indexDir)
    val assigned0 = cellsFor(
      batch.select(col(idCol).as("vec_id") +: col(embCol).as("emb") +:
        metaCols.map(col): _*),
      "emb", centArr, nprobe = 1)
    val assigned = fmt match {
      case Pq => assigned0.join(
        broadcast(ParquetRead(spark, centroidsDir(indexDir))), "centroid_id")
      case _ => assigned0
    }
    val stored = fmt match {
      case Sq8 => VectorFunctions.quantizeInt8(col("emb")).as("emb")
      case Pq => VectorFunctions.pqEncode(
        zip_with(VectorFunctions.l2Normalize(col("emb")), col("centroid"),
          (a, b) => a - b), cbs).as("emb")
      case F32 => col("emb")
    }
    assigned
      .select(Seq(col("vec_id"), stored, lit(runId).as("run_id"),
        col("centroid_id"),
        (col("centroid_id") / lit(width)).cast("int").as("cell_bucket")) ++
        metaCols.map(col): _*)
      .transform(bucketLayout)
      .write.partitionBy("cell_bucket").mode("append")
      .parquet(postingsDir(indexDir))
    // drift accounting (VERDICT r14 item 3): one stats row per run —
    // mean cosine of the run's vectors to their ASSIGNED (frozen)
    // centroids. Computed by reading the just-written postings back
    // (run_id row-group stats prune other runs' files) and paying ONE
    // cosine per row against the broadcast k-row centroid table —
    // cheaper than persisting the n·k assignment frame for a second
    // action. A retried run re-appends identical postings, so its
    // recomputed mean is identical and [[assignmentDrift]]'s per-run
    // max() read absorbs the duplicate stats row (n is "rows observed
    // at stats time", ≥ batch size under redelivery — the mean is the
    // signal, n is context).
    val centsB = broadcast(ParquetRead(spark, centroidsDir(indexDir)))
    // cosine is scale-invariant, so sq8 codes score against the
    // centroid directly — no dequantization pass. PQ scores the codes
    // through PqCosine (centroid as the full-precision side); the
    // quantization bias it adds to mean_assign_cos is FORMAT-constant —
    // run 0's baseline carries the same bias, so rel_drop stays a clean
    // drift signal.
    val assignCos = fmt match {
      case Sq8 => VectorFunctions.cosineNative(
        col("emb").getField("q").cast("array<double>"), col("centroid"))
      case Pq => VectorFunctions.pqResidualCosine(
        col("centroid"), col("emb"), col("centroid"), cbs)
      case F32 => VectorFunctions.cosineNative(col("emb"), col("centroid"))
    }
    ParquetRead(spark, postingsDir(indexDir))
      .where(col("run_id") === runId)
      .join(centsB, "centroid_id")
      .agg(count(lit(1)).as("n"),
        avg(assignCos).as("mean_assign_cos"))
      .select(lit(runId).as("run_id"), col("n"), col("mean_assign_cos"))
      // a batch with zero indexable rows must not record a (runId, 0,
      // null) row — a null mean would poison the drift read's max()
      .where(col("n") > 0)
      .coalesce(1).write.mode("append").parquet(runStatsDir(indexDir))
  }

  /** Internal posting columns [[append]]'s `metaCols` may not shadow. */
  private[graft] val ReservedPostingCols: Set[String] =
    Set("vec_id", "emb", "run_id", "centroid_id", "cell_bucket")

  private[graft] def runStatsDir(indexDir: String) = s"$indexDir/run_stats"

  /** Takedown contract: mark `idCol` values deleted in the tombstone
    * ledger [[IndexStore]] keeps for both indexes. Every probe masks
    * postings AT OR BELOW the recorded horizon (the index's current max
    * run id) immediately, and the next
    * [[compact]] physically drops those rows and retires the ledger.
    * Delete-then-[[append]]-under-a-higher-run is the UPSERT path: the
    * stale posting is masked from the very next probe while the
    * re-embedded one is live. A takedown of most of the corpus should
    * be a re-[[build]] of the survivors instead.
    * Redelivery and its one caveat: see [[TokenIndex.delete]], the
    * same ledger.
    */
  def delete(ids: DataFrame, idCol: String, indexDir: String): Unit =
    graft.sources.Lease.withLease(ids.sparkSession, indexDir) {
      IndexStore.appendTombstones(ids, idCol, "vec_id", indexDir,
        postingsDir(indexDir), IndexStore.DeriveAsof)
    }

  /** The frozen-centroid drift signal (VERDICT r14 item 3): per run,
    * the mean assignment cosine vs the baseline run — the LOWEST run
    * id present, which for a [[build]]-made index is run 0, the batch
    * the centroids were trained on (min instead of a literal 0 so a
    * hand-assembled or streamed-only index still anchors to its
    * earliest ingest instead of silently returning nothing). A corpus
    * drifting away from the build distribution assigns ever farther
    * from its cells' centers, so `mean_assign_cos` decays and
    * `rel_drop = (baseline - mean) / baseline` grows — a scalar per
    * ingest run, computed from k-bounded state, no corpus rescan.
    *
    * Re-build trigger: the measured decay curve (BASELINE.md r15 drift
    * table, synthetic shifted-mean batches) maps rel_drop to recall
    * loss — recall@10 at nprobe 2 holds ≈ 0.99 through rel_drop ≈
    * 0.05, degrades materially past ≈ 0.1 (0.89 at 0.13, 0.66 at
    * 0.31). The documented re-build point is SUSTAINED rel_drop ≳ 0.1,
    * not one noisy run. `compact` never touches `run_stats/`, so the
    * per-run history survives posting folds (which collapse run
    * PROVENANCE to the horizon but not this table).
    *
    * Columns: (run_id, n, mean_assign_cos, baseline_cos, rel_drop),
    * ordered by run_id.
    */
  def assignmentDrift(spark: SparkSession, indexDir: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(runStatsDir(indexDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir))
      throw new IllegalStateException(
        s"VectorIndex at $indexDir has no run_stats/ — the index predates " +
          "drift accounting (layout v5); re-build, or append a batch, to start it")
    val stats = ParquetRead(spark, runStatsDir(indexDir))
      .groupBy(col("run_id"))
      // redelivered runs write identical stats rows; max is the
      // bit-deterministic pick
      .agg(max(col("n")).as("n"),
        max(col("mean_assign_cos")).as("mean_assign_cos"))
    // one (baseline_run, baseline_cos) row — min_by keeps it a single
    // broadcast aggregate, no second scan
    val base = broadcast(stats.agg(
      min_by(col("mean_assign_cos"), col("run_id")).as("baseline_cos")))
    stats.crossJoin(base)
      .withColumn("rel_drop",
        (col("baseline_cos") - col("mean_assign_cos")) / col("baseline_cos"))
      .orderBy(col("run_id"))
  }

  /** One broadcast row holding every (centroid_id, centroid). */
  private[graft] def centroidArray(spark: SparkSession, indexDir: String): DataFrame =
    broadcast(ParquetRead(spark, centroidsDir(indexDir))
      .agg(collect_list(struct(col("centroid_id"), col("centroid"))).as("__cents")))

  /** ONE read of the k-row centroid table serving BOTH probe-time
    * consumers that previously each paid their own file listing +
    * schema read + job ([[centroidArray]]'s collect_list aggregate and
    * [[modelK]]'s count): rows collect once (k-bounded by
    * construction), k is their length, and the broadcast assignment
    * table rebuilds from the local rows — the probe path is
    * job-latency-bound on small state (r20 lifecycle timeline: ~60
    * jobs of 10–100 ms per takedown invocation), so every removed
    * round-trip is wall. Returns (centArr, k, local centroid rows). */
  private def centroidState(spark: SparkSession, indexDir: String)
      : (DataFrame, Int, DataFrame) = {
    val rows = ParquetRead(spark, centroidsDir(indexDir))
      .select(col("centroid_id"), col("centroid")).collect()
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("centroid_id",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false))))
    val local = spark.createDataFrame(rows.toSeq.asJava, schema)
    (broadcast(local.agg(collect_list(struct(col("centroid_id"),
        col("centroid"))).as("__cents"))),
      rows.length, local)
  }

  /** The ONE cell-selection rule, shared by [[append]] (nprobe = 1) and
    * [[queryTopK]]: top-nprobe cells by (cosine desc, centroid_id asc),
    * via NEGATION + native struct ordering rather than ivfCosineTopK's
    * lambda comparator — `array_sort`'s interpreted per-comparison
    * lambda over k structs per row was the sf10 decade probe's blow-up
    * (40k queries × 3125 cells read 4455 cpu-s, ~275× at 10× data).
    * The negation trick is safe HERE because VectorIndex owns its
    * schema: centroid_id is OUR Int (ivfCosineTopK's caller-supplied
    * id may be a string). (-cd asc, id asc) ≡ (cd desc, id asc),
    * identical tie-breaks. Null/empty embeddings drop (they can never
    * be assigned or be a neighbor).
    */
  private[graft] def cellsFor(df: DataFrame, embCol: String, centArr: DataFrame,
      nprobe: Int): DataFrame = {
    val base = df.where(col(embCol).isNotNull && size(col(embCol)) > 0)
    // the n·k cosine assignment is THE expensive projection on this
    // path, and a batch arriving as one parquet file (the common
    // single-file ingest; the sf1 fixture) planned it onto ONE core —
    // measured 7.0 s vs 1.3 s for the same 20k×312 append (r15
    // breakdown probe). Spread narrow inputs to the session's
    // parallelism BEFORE the projection; the shuffle moves only
    // (id, emb) rows and is noise next to the serialized compute.
    val target = base.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (base.rdd.getNumPartitions < target) base.repartition(target) else base
    spread.crossJoin(centArr)
      .withColumn("__ranked", slice(sort_array(
        transform(col("__cents"), c =>
          struct(
            (-VectorFunctions.cosineNative(col(embCol), c.getField("centroid"))).as("ncd"),
            c.getField("centroid_id").as("centroid_id")))), 1, nprobe))
      .drop("__cents")
      .withColumn("__rc", explode(col("__ranked")))
      // assign_cos rides along for free (same struct): append's drift
      // accounting aggregates it, queryTopK ignores it
      .withColumn("centroid_id", col("__rc.centroid_id"))
      .withColumn("__assign_cos", -col("__rc.ncd"))
      .drop("__ranked", "__rc")
  }

  /** Top-k cosine neighbors for each query, FROM the index: queries
    * assign to their `nprobe` best cells (the same slice-sort rule as
    * `ivfCosineTopK` — cosine desc, centroid_id asc), the probed cells'
    * postings join back by cell id, and the exact cosine re-rank runs
    * on that candidate-sized set through the native TopK. The corpus
    * never re-assigns, never re-trains, never shuffles at full width —
    * the one exchange is the ≤ k·|queries| TopK bound.
    *
    * On an sq8 index ([[build]]'s `sq8 = true`) the re-rank scores the
    * int8 codes (scale-invariant cosine; per-element rounding error ≤
    * absmax/254), so returned `cosine` values carry quantization noise
    * — callers needing exact scores re-rank the returned k candidates
    * against their full-precision source of truth.
    *
    * The `nprobe = 2` default suits CLUSTERED corpora (the r15 recall
    * curves: recall@10 ≥ 0.99 there) and can silently under-recall a
    * DIFFUSE one (same curves: nprobe 16+ needed). When a recall
    * target matters, measure instead of guessing — [[calibrateNprobe]]
    * picks the dial from a query sample.
    */
  def queryTopK(spark: SparkSession, queries: DataFrame, queryId: String,
      queryEmb: String, indexDir: String, k: Int, nprobe: Int = 2): DataFrame =
    queryTopKImpl(spark, queries, queryId, queryEmb, indexDir, k, nprobe,
      metaPredicate = None)

  /** FILTERED ANN (VERDICT r16 item 4, r17 item 3): [[queryTopK]]
    * restricted to postings that satisfy `predicate` — the
    * metadata-predicate retrieval production actually runs (language,
    * license, date window, …). The restriction applies to the CANDIDATE
    * SET, before top-k selection, so k survivors come back whenever the
    * probed cells hold k allowed vectors. Post-filtering an unfiltered
    * top-k is NOT equivalent and is the bug users write themselves — a
    * disallowed strong neighbor evicts allowed ones from the k list
    * before the filter runs, and rows silently go missing
    * (VectorIndexSpec pins the difference).
    *
    * The predicate is a `Column` over the stored posting columns:
    * `vec_id` and the metadata the index carries ([[append]]'s
    * `metaCols`). It applies on the postings scan, so a plain
    * comparison lands in parquet as `PushedFilters` — the `bm25Indexed`
    * `In(tok, …)` discipline — and disallowed postings never leave the
    * scan. A join-shaped filter is `col("vec_id").isin(ids)`, which
    * Catalyst plans as a broadcast left-semi join on the cell-pruned
    * postings. Recall contract is unchanged from queryTopK: exact over
    * the probed cells — a highly selective predicate thins them, so
    * calibrate with [[calibrateNprobe]] over this probe when recall matters.
    */
  def queryTopKFiltered(spark: SparkSession, queries: DataFrame,
      queryId: String, queryEmb: String, indexDir: String, k: Int,
      predicate: org.apache.spark.sql.Column, nprobe: Int): DataFrame =
    queryTopKImpl(spark, queries, queryId, queryEmb, indexDir, k, nprobe,
      metaPredicate = Some(predicate))

  private def queryTopKImpl(spark: SparkSession, queries: DataFrame,
      queryId: String, queryEmb: String, indexDir: String, k: Int,
      nprobe: Int,
      metaPredicate: Option[org.apache.spark.sql.Column]): DataFrame = {
    // refuse an index whose build never completed: a crash mid-build
    // (after the centroid overwrite, during the initial corpus append)
    // would otherwise answer from a silently partial index
    val marker = new org.apache.hadoop.fs.Path(builtMarker(indexDir))
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker))
      throw new IllegalStateException(
        s"VectorIndex at $indexDir is incomplete (no ${marker.getName}): " +
          "a build crashed or never ran — re-run build() to heal")
    // one centroid-table read serves the assignment broadcast AND the
    // bucket-width k (was: two reads, two jobs — see centroidState)
    val (centArr, kModel, centLocal) = centroidState(spark, indexDir)
    val qa = cellsFor(
      queries.select(col(queryId).as("query_id"), col(queryEmb).as("__qe")),
      "__qe", centArr, nprobe)
      .drop("__assign_cos") // drift accounting is append's business
      .localCheckpoint(true) // feeds the cell collect AND the pair join
    // STATIC two-tier pruning: the probed cell set is k-bounded
    // (distinct cells ≤ k regardless of batch size), so collect it and
    // plant literal filters — the bucket filter lands in
    // PartitionFilters (unprobed buckets' files never open, at
    // planning time, no reliance on runtime DPP firing) and the cell
    // filter is PUSHED into the parquet scan, where the append-time
    // within-partition sort makes it a row-group stats skip of the
    // probed buckets' unprobed cells.
    val cells = qa.select(col("centroid_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val width = bucketWidth(kModel)
    val buckets = cells.map(_ / width).distinct
    // quantized indexes score on the codes themselves — cosine is
    // scale-invariant so sq8's per-vector scale never loads (the cast
    // to double is a codegen projection fused into the cosine stage),
    // and pq codes stream through PqCosine's fused lookup+dot pass
    val fmt = format(spark, indexDir)
    val ce = fmt match {
      case Sq8 => col("emb").getField("q").cast("array<double>")
      case _ => col("emb")
    }
    // residual-PQ scoring reconstructs against the posting's CENTROID
    // (y = centroid + codeword per coordinate), so pq candidates carry
    // their centroid array via one broadcast join against the k-row
    // model table — k-bounded, never a second postings scan
    val scoreOf: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column = fmt match {
      case Pq =>
        val cbs = loadCodebooks(spark, indexDir)
        (q, c) => VectorFunctions.pqResidualCosine(q, c, col("__cent"), cbs)
      case _ => (q, c) => VectorFunctions.cosineNative(q, c)
    }
    // the predicate (queryTopKFiltered) applies directly on the scan,
    // BEFORE the projection drops the metadata columns, so simple
    // comparisons reach parquet as PushedFilters, compound ones still
    // run scan-side and an id-set IN subquery plans as a left-semi join
    // under the cell filters; the unfiltered plan is bit-unchanged
    // (None folds through)
    val scan = ParquetRead(spark, postingsDir(indexDir))
    val postingsLive = metaPredicate.fold(scan)(p => scan.where(p))
      .where(col("cell_bucket").isin(buckets: _*) &&
        col("centroid_id").isin(cells: _*))
      .select(col("centroid_id"), col("vec_id").as("neighbor_id"),
        col("run_id").as("__run"), ce.as("__ce"))
    // takedowns mask out here (IndexStore.dropMasked: a horizon-aware
    // broadcast anti-join), so the postings scan still never shuffles
    // and the no-takedown plan is bit-unchanged
    val postings0 = IndexStore.dropMasked(postingsLive,
        IndexStore.tombstones(spark, indexDir, "vec_id"), "neighbor_id", "__run")
      .drop("__run")
    val postings = fmt match {
      case Pq => postings0.join(
        broadcast(centLocal // the same centroid read, no third scan
          .select(col("centroid_id"), col("centroid").as("__cent"))),
        "centroid_id")
      case _ => postings0
    }
    // cosine FIRST (map-side, whole-stage codegen — both embedding
    // arrays die in this projection), THEN the retry-hygiene dedup on
    // the narrow (query, neighbor, cosine) rows: deduping before the
    // cosine would shuffle every candidate pair carrying BOTH
    // embedding arrays — measured ~36 GB at the sf10 decade probe,
    // the dominant cost of the first cut. Duplicate pairs exist ONLY
    // from redelivered postings (one cell per vector, distinct probed
    // cells), so the dedup rows are bit-identical and keeping any one
    // is deterministic.
    Similarity.rankTopK(
      postings.join(broadcast(qa), "centroid_id")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine", scoreOf(col("__qe"), col("__ce")))
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
        .dropDuplicates("query_id", "neighbor_id"),
      k)
  }

  /** Drift trigger of [[rebuildIfDrifted]] (the BASELINE r15 decay
    * curve's documented trigger: sustained ≳ 0.1, not one noisy run). */
  val DriftThreshold = 0.1
  val DriftSustain = 2

  /** Close the drift loop: re-[[build]] when the decay signal is
    * SUSTAINED — the last [[DriftSustain]] ingest runs ALL read
    * `rel_drop >=` [[DriftThreshold]]. Returns true when a
    * re-build ran. The caller supplies the full CURRENT corpus — the
    * index's folded postings are the old model's assignments, not a
    * substitute for the raw vectors — and the re-build preserves the
    * index's format (sq8/pq re-train their quantizers on the new
    * distribution too, which is the point of re-building). A re-build
    * RESETS the drift history: the new model's run 0 is the new
    * baseline ([[build]] clears `run_stats/` with the postings —
    * mixing models' stats would silently corrupt the signal).
    *
    * Cheap when it doesn't fire: one read of the k-bounded run_stats
    * table. Callers on a schedule (e.g. after each streamed ingest)
    * pay the full train+index cost only at the measured decay point.
    */
  private[graft] def rebuildIfDrifted(corpus: DataFrame, idCol: String, embCol: String,
      indexDir: String, k: Int, maxIter: Int): Boolean = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val last = assignmentDrift(spark, indexDir)
      .orderBy(col("run_id").desc).limit(DriftSustain)
      .select(col("rel_drop")).as[Double].collect()
    // fewer post-baseline runs than DriftSustain cannot satisfy the
    // sustained condition (the baseline row itself reads 0.0)
    val fire = last.length >= DriftSustain && last.forall(_ >= DriftThreshold)
    if (fire) {
      val fmt = format(spark, indexDir)
      fmt match {
        case Pq => build(corpus, idCol, embCol, indexDir, k, maxIter,
          pqM = loadCodebooks(spark, indexDir).length)
        case Sq8 => build(corpus, idCol, embCol, indexDir, k, maxIter, sq8 = true)
        case F32 => build(corpus, idCol, embCol, indexDir, k, maxIter)
      }
    }
    fire
  }

  /** The quantized-index production cadence as one call: fetch a
    * `shortlist`-sized candidate set from the index (quantized scores
    * — sq8 or residual-pq), then re-rank EXACTLY against the
    * full-precision `corpus` embeddings and return the true top-k of
    * the shortlist. This is how PQ recall is recovered in practice
    * (Faiss's refine step): the r15 probe measures pq16's direct
    * recall@10 at 0.70 but its top-50 shortlist CONTAINS the true
    * top-10 at 0.999 — so shortlist+rerank ≈ f32 recall at ~10× fewer
    * index bytes, with the full-precision vectors touched only for
    * |queries|·shortlist candidate rows.
    *
    * Scale shape: the corpus is NEVER shuffled — candidate ids
    * broadcast against the corpus scan (one broadcast hash join), the
    * candidate-sized remainder joins narrowly, and the exact cosine +
    * TopK run on |queries|·shortlist rows. The broadcast bounds the
    * contract: probe BATCHES, not full-corpus self-joins (the same
    * bounded-batch contract queryTopK's k-bounded cell collect rides);
    * for corpus-scale all-pairs work use the dedup family instead.
    * Works identically on f32 indexes (then it is just queryTopK with
    * a wider net — useful when nprobe misses are the concern).
    */
  def queryTopKRerank(spark: SparkSession, queries: DataFrame, queryId: String,
      queryEmb: String, indexDir: String, corpus: DataFrame, corpusId: String,
      corpusEmb: String, k: Int, shortlist: Int = 0, nprobe: Int = 8): DataFrame =
    rerankImpl(queries, queryId, queryEmb, corpus, corpusId, corpusEmb, k,
      shortlistOf(spark, queries, queryId, queryEmb, indexDir, k, shortlist,
        nprobe, metaPredicate = None))

  /** [[queryTopKRerank]] under a predicate over the stored posting
    * columns (the quantized-index sibling of [[queryTopKFiltered]],
    * same predicate contract): the restriction applies INSIDE the
    * shortlist probe, not after it — post-filtering a shortlist
    * forfeits the exhaustiveness guarantee ([[maxProbeCandidates]]
    * bounds the probed candidate set, and the FILTERED candidates are a
    * subset of it, so a `shortlist >= maxProbeCandidates(nprobe)` keeps
    * the filtered rerank provably exact over the probed cells). The
    * exact re-rank then scores already-allowed candidates only. A
    * join-shaped filter is `col("vec_id").isin(ids)`, planned as a
    * broadcast left-semi join.
    */
  def queryTopKRerankFiltered(spark: SparkSession, queries: DataFrame,
      queryId: String, queryEmb: String, indexDir: String, corpus: DataFrame,
      corpusId: String, corpusEmb: String, k: Int,
      predicate: org.apache.spark.sql.Column, shortlist: Int,
      nprobe: Int): DataFrame =
    rerankImpl(queries, queryId, queryEmb, corpus, corpusId, corpusEmb, k,
      shortlistOf(spark, queries, queryId, queryEmb, indexDir, k, shortlist,
        nprobe, metaPredicate = Some(predicate)))

  private def shortlistOf(spark: SparkSession, queries: DataFrame,
      queryId: String, queryEmb: String, indexDir: String, k: Int,
      shortlist: Int, nprobe: Int,
      metaPredicate: Option[org.apache.spark.sql.Column]): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 5 * k
    require(sl >= k, s"shortlist $sl must be at least k $k")
    // the shortlist is consumed exactly once (the broadcast below), so
    // no checkpoint: the quantized probe plans straight into the
    // broadcast exchange
    queryTopKImpl(spark, queries, queryId, queryEmb, indexDir, sl, nprobe,
        metaPredicate)
      .select(col("query_id"), col("neighbor_id"))
  }

  private def rerankImpl(queries: DataFrame, queryId: String, queryEmb: String,
      corpus: DataFrame, corpusId: String, corpusEmb: String, k: Int,
      cand: DataFrame): DataFrame = {
    val qSide = queries.select(col(queryId).as("query_id"), col(queryEmb).as("__qe"))
    // the corpus SCAN is the streaming side of every join: candidate
    // (query, neighbor) pairs broadcast onto it (plan-pinned in
    // VectorIndexSpec — no SortMergeJoin/ShuffledHashJoin anywhere, so
    // the corpus never shuffles and the first exchange in the plan is
    // the candidate-sized TopK one)
    Similarity.rankTopK(
      corpus.select(col(corpusId).as("neighbor_id"), col(corpusEmb).as("__ce"))
        .join(broadcast(cand), "neighbor_id")
        .join(broadcast(qSide), "query_id")
        .withColumn("cosine",
          VectorFunctions.cosineNative(col("__qe"), col("__ce")))
        .select(col("query_id"), col("neighbor_id"), col("cosine")),
      k)
  }

  /** Upper bound on the candidate-set size ANY single query can see at
    * `nprobe`: the summed posting counts of the `nprobe` most-populated
    * cells (distinct vec_ids — retried appends don't inflate it). A
    * [[queryTopKRerank]] `shortlist >= maxProbeCandidates(nprobe)` makes
    * the shortlist provably exhaustive — the rerank is then EXACT over
    * the probed cells at any corpus size, which is the guarantee
    * planted-retrieval oracles need (quantized scores alone promise no
    * rank floor; r15 ADVICE). Cost: one column-pruned postings
    * aggregate, k-bounded output.
    */
  def maxProbeCandidates(spark: SparkSession, indexDir: String,
      nprobe: Int): Long = {
    require(nprobe >= 1, "nprobe must be at least 1")
    val top = ParquetRead(spark, postingsDir(indexDir))
      .groupBy(col("centroid_id"))
      .agg(count_distinct(col("vec_id")).as("n"))
      .orderBy(col("n").desc).limit(nprobe)
      .agg(sum(col("n"))).collect().head
    if (top.isNullAt(0)) 0L else top.getLong(0)
  }

  /** Recall@k target of [[calibrateNprobe]]. */
  val TargetRecall = 0.95

  /** Pick the smallest `nprobe` meeting [[TargetRecall]] on a SAMPLE of
    * the real query workload — the operational answer to "what nprobe
    * do I run?", which the r15 recall curves show is REGIME-dependent
    * (clustered corpora saturate at nprobe 2; diffuse ones need 16+).
    * Ground truth is the index itself probed exhaustively
    * (nprobe = k ≡ brute force over the indexed corpus — exact by the
    * spec-pinned probing-every-cell-equals-brute-force property), so
    * calibration needs NO external corpus access and works on
    * quantized (sq8/pq) indexes too (truth and candidates then share
    * the quantization, which is what the runtime will actually serve —
    * on PQ pair it with [[queryTopKRerank]] when exact-score recall is
    * the target, since calibration measures the quantized ranking).
    *
    * Cost: |sample| · (one exhaustive probe + one probe per candidate
    * nprobe) — run it on 100-1000 sampled queries, not the full batch.
    * Returns (chosen nprobe, recall@k per candidate); falls back to
    * the largest candidate when none meets the target (callers should
    * treat that as "re-examine k or the clustering", not silently
    * accept it).
    *
    * The probe is the one the runtime serves: [[queryTopK]], or, given
    * a `predicate`, [[queryTopKFiltered]] with the workload's predicate
    * (VERDICT r17 item 5, same predicate contract). The unfiltered
    * calibration is
    * structurally wrong for a filtered workload — a selective predicate
    * thins every probed cell, so the nprobe that hits the recall target
    * unfiltered can silently under-recall filtered (the documented
    * caveat on [[queryTopKFiltered]], measured instead of advisory).
    * Ground truth is then the FILTERED probe at nprobe = k-model
    * (exhaustive ≡ brute force over the allowed vectors), so the recall
    * contract is against exactly the answer set the runtime serves.
    */
  private[graft] def calibrateNprobe(spark: SparkSession, sampleQueries: DataFrame,
      queryId: String, queryEmb: String, indexDir: String, k: Int,
      predicate: Option[org.apache.spark.sql.Column],
      candidates: Seq[Int]): (Int, Map[Int, Double]) = {
    def probe(q: DataFrame, np: Int) = predicate.fold(
      queryTopK(spark, q, queryId, queryEmb, indexDir, k, np))(
      queryTopKFiltered(spark, q, queryId, queryEmb, indexDir, k, _, np))
    require(candidates.nonEmpty && candidates == candidates.sorted,
      "candidates must be ascending")
    val kModel = modelK(spark, indexDir)
    val truth = probe(sampleQueries, kModel)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true)
    val nTruth = truth.count().toDouble
    require(nTruth > 0, "calibrateNprobe: sample produced no neighbors")
    val recalls = candidates.map { np =>
      val hits = probe(sampleQueries, np)
        .select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi").count()
      np -> hits / nTruth
    }.toMap
    val chosen = candidates.find(np => recalls(np) >= TargetRecall)
      .getOrElse(candidates.last)
    (chosen, recalls)
  }

  /** Fold the postings to the distinct vector set, in place,
    * horizon-tagged (retries and verbatim re-ingests collapse), through
    * [[graft.sources.Compaction.rewriteParquetDir]]: its crash recovery,
    * checked two-rename swap and single-writer lease. The postings are
    * partitioned by cell bucket on disk, so the rewrite keeps that
    * partitioning, and the fold lays its rows out as [[append]] does
    * ([[bucketLayout]]) so the probe path's partition and row-group
    * pruning survive. Returns (rowsBefore, rowsAfter); `(0, 0)` when
    * the directory holds no data files.
    */
  def compact(spark: SparkSession, indexDir: String): (Long, Long) =
      graft.sources.Lease.withLease(spark, indexDir) {
    val tomb = IndexStore.tombstones(spark, indexDir, "vec_id")
    val result = graft.sources.Compaction.rewriteParquetDir(spark,
        postingsDir(indexDir)) { input =>
      val horizon = graft.sources.ParquetRead.columnMax(spark,
        input.inputFiles.toSeq, "run_id").getOrElse(0L)
      // tombstoned rows drop PHYSICALLY here (probes only mask them);
      // the ledger itself retires after the swap lands. The drop runs
      // BEFORE the distinct (which erases run provenance), so an
      // upsert's re-appended higher-run posting survives while the
      // stale one goes
      val live = IndexStore.dropMasked(input, tomb, "vec_id")
      // metadata columns (append's metaCols — anything non-reserved)
      // survive the fold verbatim: they are part of the posting row
      val metaCols = input.columns.filterNot(ReservedPostingCols).toSeq
      live.select((Seq("centroid_id", "vec_id", "emb", "cell_bucket") ++
          metaCols).map(col): _*)
        .distinct()
        .select(Seq(col("vec_id"), col("emb"), lit(horizon).as("run_id"),
          col("centroid_id"), col("cell_bucket")) ++ metaCols.map(col): _*)
        .transform(bucketLayout)
    }
    // the takedowns are now physical — retire the ledger
    IndexStore.retireTombstones(spark, indexDir)
    result
  }

  /** Evolve the index's stored metadata SET by adding columns with
    * backfill defaults (VERDICT r18 item 3; mirrors
    * [[TokenIndex.evolveMetadata]] — see its contract notes): the one
    * postings rewrite of [[IndexStore.evolvePostings]], laid out as
    * [[append]] lays postings out, under the index dir's writer lease.
    */
  def evolveMetadata(spark: SparkSession, indexDir: String,
      defaults: Seq[(String, Any)]): Unit =
      graft.sources.Lease.withLease(spark, indexDir) {
    IndexStore.evolvePostings(spark, postingsDir(indexDir), ReservedPostingCols,
      defaults)(bucketLayout)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.ParquetRead

/** KMV (k-minimum-values) distinct-count sketches — the mergeable
  * estimator for the corpus-merge questions HLL cannot answer: HLL gives
  * |A∪B| but not |A∩B|, while two KMV sketches combine into union AND
  * intersection estimates ("how many NEW distinct tokens does this crawl
  * snapshot add?" is the curation question this exists for).
  *
  * The sketch is just the k smallest hash values of the distinct items —
  * plain DATA, deterministic for a given input, which is what makes the
  * whole estimate DuckDB-replayable (q87) where HLL's register file is
  * not. Hashing is a sha-256 prefix read as a 60-bit integer: uniform,
  * stable across engines (DuckDB has sha256 but not xxhash64), and
  * collision-safe far beyond sketch resolution.
  *
  * Scale shape: one exchange for the distinct, then the k-smallest is a
  * TopK-style bounded sort (LIMIT k after ORDER BY pushes a per-partition
  * heap bound below the final merge) — the sketch never exceeds k rows
  * however large the corpus.
  */
object Sketches {

  /** 60-bit uniform hash from the sha-256 hex prefix (15 hex chars).
    * `conv` returns the value as a string; the cast finishes the trip.
    * All builtin codegen'd expressions — replayable in DuckDB 1.0.0 as
    * `CAST(('0x' || substr(sha256(x), 1, 15)) AS BIGINT)`.
    */
  def sha60(c: Column): Column =
    conv(substring(sha2(c.cast("string"), 256), 1, 15), 16, 10).cast("long")

  /** The KMV sketch of a column: the k smallest sha60 values of its
    * distinct items, ascending. At most k rows come back. NULL inputs
    * are excluded (count-distinct semantics) — sha2(NULL) is NULL, which
    * would survive distinct(), sort FIRST ascending, and occupy the
    * sketch's smallest slot, crashing typed `.as[Long]` consumers and
    * biasing the estimator upward.
    * As incremental state, each run appends its sketch tagged `run_id`;
    * [[kmvStateSketch]] says why a redelivered run is a no-op.
    */
  def kmvSketch(df: DataFrame, c: Column, k: Int): DataFrame =
    df.where(c.isNotNull).select(sha60(c).as("h")).distinct()
      .orderBy(col("h")).limit(k)

  /** Distinct-count estimate from a full sketch: (k−1) / (kth-min / M)
    * where M = 2^60 is the hash range — the classic KMV estimator
    * (Bar-Yossef et al.). If the sketch holds fewer than k values the
    * input had fewer than k distincts and the count is EXACT.
    */
  def kmvEstimate(sketch: Array[Long], k: Int): Double = {
    if (sketch.length < k) sketch.length.toDouble
    else (k - 1).toDouble * Sketches.M / sketch(k - 1)
  }

  /** Union and intersection estimates from two sketches (Beyer et al.):
    * combine to the k smallest of the union of both sketches; the union
    * estimate is KMV on that combined sketch, and the intersection
    * scales it by the Jaccard estimate = |both sketches ∩ combined| / k.
    */
  def kmvUnionIntersection(a: Array[Long], b: Array[Long], k: Int): (Double, Double) = {
    val combined = (a ++ b).distinct.sorted.take(k)
    val union = kmvEstimate(combined, k)
    val inBoth = combined.count(h => a.contains(h) && b.contains(h))
    val jaccard = inBoth.toDouble / combined.length
    (union, union * jaccard)
  }

  val M: Double = math.pow(2.0, 60)

  // ---------------------------------------------- incremental KMV state

  /** Read the merged KMV sketch off an append-only state table (rows
    * `(h, run_id)`, one [[kmvSketch]] per run, e.g. appended per batch
    * by [[graft.streaming.StreamOps.availableNow]]): the k
    * smallest DISTINCT hashes across runs. KMV merging is pure set
    * semantics, so this is the state family's only member whose
    * redelivery story needs no run tag at all — duplicated rows are
    * absorbed by `distinct()`, and [[kmvSketch]] is itself
    * deterministic so a retried batch appends identical rows anyway.
    * The tag exists for PROVENANCE reads: `maxRunId` reconstructs the
    * sketch as of any earlier run, which is what makes "how many NEW
    * distinct items did run r add" answerable without rescanning
    * history ([[kmvEstimate]] after minus before). k-bounded driver
    * collect, like the batch sketch.
    */
  def kmvStateSketch(states: DataFrame, k: Int,
      maxRunId: Long = Long.MaxValue): Array[Long] = {
    if (maxRunId != Long.MaxValue) {
      // provenance reads stay EXACT after compaction as long as they
      // don't reach behind it: folds carry the HORIZON run id (the
      // max run folded, see compactKmvState), so the <= filter
      // includes them exactly when it should. What cannot be answered
      // is maxRunId OLDER than the oldest surviving tag — that
      // history was folded away — and silently returning a partial
      // sketch would corrupt every newness subtraction, so refuse
      // loudly. One sketch-sized min() pass; callers doing several
      // provenance reads over a derived (uncached) state plan should
      // snapshot it first.
      val oldest = states.agg(min(col("run_id"))).collect().head
      require(oldest.isNullAt(0) || oldest.getLong(0) <= maxRunId,
        s"kmvStateSketch: provenance read maxRunId=$maxRunId reaches behind the " +
          s"oldest surviving run tag ${oldest.getLong(0)} — compaction folded that " +
          "history (folds carry the horizon run id). Compact at the retention " +
          "horizon, AFTER newness questions are answered.")
    }
    states.where(col("run_id") <= maxRunId)
      .select(col("h")).distinct().orderBy(col("h")).limit(k)
      .collect().map(_.getLong(0))
  }

  /** [[kmvStateSketch]] over a state directory — the front door that can
    * also enforce the COMPACTION-k contract: once [[compactKmvState]]
    * truncated the state to k' hashes, a read with k > k' would come
    * back with fewer than k values, which [[kmvEstimate]] reports as an
    * EXACT count — a silent undercount (r13 ADVICE). The compaction
    * writes its k to a SIBLING `__kmv_k` sidecar (see [[kmvKPath]] —
    * outside the swapped directory so no compaction crash can lose the
    * bound); this overload refuses loudly when the read k exceeds it.
    * Callers reading a bare DataFrame must uphold the contract
    * themselves: never read with a k larger than any k a prior
    * compaction used.
    */
  private[graft] def kmvStateSketch(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, k: Int, maxRunId: Long): Array[Long] = {
    readKmvCompactK(spark, stateDir).foreach { ck =>
      require(k <= ck,
        s"kmvStateSketch: read k=$k exceeds the compaction k=$ck recorded in " +
          s"$stateDir$KmvKSidecar — the state was truncated to $ck hashes, so a " +
          s"$k-sketch read would be silently partial and kmvEstimate would report " +
          "it as an exact count. Read with k <= the smallest k any compaction used.")
    }
    kmvStateSketch(ParquetRead(spark, stateDir), k, maxRunId)
  }

  private[graft] val KmvKSidecar = "__kmv_k"

  /** The sidecar is a SIBLING of the state directory
    * (`<stateDir>__kmv_k`), deliberately outside it: compaction swaps
    * the directory itself (write-tmp → rename-aside → rename-in), so a
    * sidecar INSIDE it would be destroyed by every swap and a crash
    * between the swap and the rewrite would permanently lose the min-k
    * bound — silently re-opening the exact undercount hole the guard
    * closes. A sibling survives the swap untouched.
    */
  private def kmvKPath(stateDir: String) =
    new org.apache.hadoop.fs.Path(stateDir.stripSuffix("/") + KmvKSidecar)

  /** The smallest k any [[compactKmvState]] run recorded for `stateDir`,
    * if the sidecar exists. */
  private[graft] def readKmvCompactK(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[Int] = {
    def readInt(p: org.apache.hadoop.fs.Path): Option[Int] = {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
        finally in.close()
      }
    }
    // legacy fallback: the first r14 cut wrote the sidecar INSIDE the
    // state dir ("_kmv_compact_k") — read it if the sibling is absent
    // so a state compacted by that code keeps its bound (the next
    // compaction migrates it to the sibling)
    readInt(kmvKPath(stateDir)).orElse(
      readInt(new org.apache.hadoop.fs.Path(stateDir, "_kmv_compact_k")))
  }

  private def writeKmvCompactK(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, k: Int): Unit = {
    val p = kmvKPath(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$k\n".getBytes("UTF-8")) finally out.close()
  }

  /** Compact an append-only KMV state directory to the k smallest
    * distinct hashes, in place. LOSSLESS for the union sketch
    * FOREVER, not just today: future runs only add competing hashes,
    * so the k-th minimum only moves down and a hash outside the
    * current top-k can never re-enter a merged sketch. Folded rows
    * are tagged with the HORIZON — the largest run id folded — so
    * provenance reads at or after the horizon stay exact after
    * compaction (the folded rows belong in every `run <= maxRunId`
    * sketch with maxRunId ≥ horizon), and reads reaching BEHIND it
    * refuse loudly in [[kmvStateSketch]] instead of silently
    * answering with a partial sketch. Compact at the retention
    * horizon. Same quiesced single-writer contract as the other
    * state compactions.
    */
  private[graft] def compactKmvState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, k: Int): (Long, Long) =
      graft.sources.Lease.withLease(spark, stateDir) {
    // the bound decision runs inside the rewrite: after its crash
    // recovery (a mid-swap crash leaves the live dir empty, its data
    // parked aside, and deciding the sidecar from that empty listing
    // would skip the bound update while the rewrite restores-and-
    // truncates the data anyway — the silent-undercount hole, r14
    // review 2), only when there is data, and under the lease held
    // around the whole call, so a refused writer changes nothing
    graft.sources.Compaction.rewriteParquetDir(spark, stateDir) { df =>
      // the binding bound across compactions is the SMALLEST k ever
      // used (a later, larger-k compaction cannot restore hashes an
      // earlier one dropped). The sidecar is a SIBLING file (see
      // kmvKPath) so the directory swap cannot destroy it. Recorded
      // BEFORE truncating: a crash mid-rewrite then leaves a bound at
      // least as tight as the data (reads refuse more than strictly
      // necessary — the safe direction), never a truncated state with
      // no bound
      writeKmvCompactK(spark, stateDir,
        readKmvCompactK(spark, stateDir).fold(k)(math.min(_, k)))
      val h = graft.sources.ParquetRead.columnMax(spark, df.inputFiles.toSeq, "run_id")
        .getOrElse(0L)
      df.select(col("h")).distinct().orderBy(col("h")).limit(k)
        .withColumn("run_id", lit(h))
    }
  }

  // ------------------------------------------------------- HLL state
  // Mergeable per-key distinct STATE — the incremental accounting
  // pattern at 100 TB: a nightly job sketches ONLY its delta, the
  // state table unions per key (register-max, associative and
  // commutative), and "distinct users all-time / this quarter" is an
  // estimate over state — history is NEVER rescanned. This is the
  // engine's incremental-by-rerun contract (reference `test.py:99-111`:
  // keep state, process only the delta) applied to distinct counting,
  // where the raw keyset state would be unbounded but the sketch is
  // ~2^HllLgK bytes per key forever. Built on Spark's Datasketches
  // builtins (`hll_sketch_agg`/`hll_union_agg`), the same registers
  // `Relational.descendantCounts` propagates. Re-accumulating an
  // already-seen batch is a NO-OP on the estimate (max of maxes), so
  // at-least-once delivery upstream cannot inflate counts.

  /** HLL register exponent of every state sketch: 2^12 bytes per key
    * per run, error ~1.04/√2^12 ≈ 1.6%. */
  val HllLgK = 12

  /** Sketch one batch into per-key HLL state: (keys..., hll_state).
    * NULL values are excluded (count-distinct semantics). As state, a
    * run that dies after its append re-runs and appends its delta AGAIN;
    * the read's register max makes that a no-op (the q96 property).
    */
  def hllDistinctState(df: DataFrame, keyCols: Seq[String], valueCol: Column): DataFrame =
    df.where(valueCol.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(valueCol, lit(HllLgK)).as("hll_state"))

  /** Merge state tables (state ∪ delta, or any number unioned before
    * one call): per-key register max. Keys present in only one side
    * pass through — the union IS the full-outer merge. ONE shuffle on
    * the key, rows are sketch-sized not data-sized. Merge-order
    * ROBUST, not bit-deterministic: the Datasketches union gadget
    * keeps or drops its HIP estimator depending on the modes of the
    * sketches it absorbs, so estimates can move ~0.3% with merge
    * order (and vs a one-shot sketch) — always inside the error
    * bound (SketchesSpec measures both). Read HLL state through
    * error-bound checks, never via estimate equality.
    */
  def hllMergeStates(keyCols: Seq[String], states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "hllMergeStates: need at least one state table")
    states.reduce(_.unionByName(_))
      .groupBy(keyCols.map(col): _*)
      .agg(hll_union_agg(col("hll_state"), lit(false)).as("hll_state"))
  }

  /** Read the estimate off a state table (adds `distinct_est`; state
    * column retained so the frame can keep accumulating).
    */
  def hllEstimate(state: DataFrame): DataFrame =
    state.withColumn("distinct_est", hll_sketch_estimate(col("hll_state")))

  /** Compact an append-only HLL state directory to ONE merged sketch
    * row per key, in place (checked two-rename swap + crash recovery,
    * [[graft.sources.Compaction.rewriteParquetDir]]). Append-only state
    * grows one sketch-row per key per run forever; the merged row is
    * the same register state the read path would compute, so estimates
    * are unchanged up to the documented merge-order jitter (read via
    * error bounds, never estimate equality). Returns
    * (rowsBefore, rowsAfter). Single-writer contract: do not run while
    * a stream is mid-append.
    */
  private[graft] def compactHllState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, keyCols: Seq[String]): (Long, Long) =
    graft.sources.Compaction.rewriteParquetDir(spark, stateDir)(
      df => hllMergeStates(keyCols, df))

  // --------------------------------------------------- heavy hitters

  /** EXACT top-k most frequent items in two passes — the 100 TB shape
    * for "top tokens/domains/users" over a heavy-tailed vocabulary:
    * pass 1 sketches candidates in bounded memory (no full-vocab
    * shuffle), pass 2 recounts ONLY the ≤ m candidate items exactly
    * (the long tail is filtered at the scan, so the count shuffle
    * carries ≤ m rows per partition). Compare the naive
    * `groupBy(item).count().orderBy(...).limit(k)`: its exchange moves
    * every distinct item per partition — vocabulary-sized, which for
    * web-scale token streams is 10⁸–10⁹ rows of shuffle this form
    * never pays.
    *
    * Exactness is VERIFIED, not assumed: the result is complete iff
    * the k-th exact count exceeds the sketch's decrement total Δ
    * (any untracked item has true count ≤ Δ). If the guarantee does
    * not bind — vocabulary too flat for `m` — this THROWS rather than
    * silently returning a possibly-wrong top-k; raise `m` (Δ shrinks
    * as ~n/(m+1)). The candidate collect is bounded by m, like KMV's
    * k-row sketch.
    */
  def topKExact(df: DataFrame, c: Column, k: Int, m: Int): DataFrame = {
    require(k <= m, s"topKExact: k=$k must be <= m=$m")
    // read the sketch STRUCT, not the exploded form: a flat-vocabulary
    // merge cascade can evict every counter, and the exploded form
    // would drop that row entirely — losing delta, the very number
    // that says the result would be untrustworthy
    val mg = udaf(graft.functions.Aggregators.MisraGries(m))
    val skRow = df.select(c.cast("string").as("__it")).where(col("__it").isNotNull)
      .agg(mg(col("__it")).as("s"))
      .select(col("s.items.item").as("items"), col("s.delta").as("delta"))
      .collect().head
    val candidates = skRow.getSeq[String](0)
    val delta = skRow.getLong(1)
    val spark0 = df.sparkSession
    if (candidates.isEmpty) {
      require(delta == 0L,
        s"topKExact: the sketch evicted every counter (error bound $delta) — " +
          s"vocabulary too flat for m=$m. Raise m.")
      import spark0.implicits._
      return Seq.empty[(String, Long)].toDF("item", "n")
    }
    val items = df.select(c.cast("string").as("item"))
      .where(col("item").isInCollection(candidates))
      .groupBy(col("item")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("item").asc)
      .limit(k).collect()
    if (items.length == k) {
      val kth = items.last.getLong(1)
      require(kth > delta,
        s"topKExact: k-th count $kth does not exceed the sketch's error bound " +
          s"$delta — an untracked item could outrank it. Raise m (= $m).")
    } else {
      // fewer than k candidates: only legitimate when the sketch is
      // EXACT (delta 0 ⇒ nothing was ever evicted ⇒ the candidates are
      // the entire vocabulary). Otherwise untracked items (true count
      // ≤ delta) might belong in the top-k — refuse, don't under-rank.
      require(delta == 0L,
        s"topKExact: only ${items.length} of k=$k candidates survived the " +
          s"sketch (error bound $delta) — vocabulary too flat for m=$m. Raise m.")
    }
    val spark = df.sparkSession
    import spark.implicits._
    items.map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("item", "n")
  }

  // ------------------------------------------- streaming MG state

  /** Merge an append-only Misra–Gries state table (the layout the
    * spec fixture `MisraGriesSketch.frequentItems` appends as state: one
    * row set per run, tagged `run_id`) down to one summary — the MG
    * contract over ALL runs: for every output row, true(item) ∈
    * [weight, weight + delta]; any item absent from the summary has
    * true count ≤ delta (delta = Σ per-run Δ, since
    * each run's summary bounds its own batch exactly).
    *
    * Unlike the HLL register max, raw MG counters are NOT
    * re-aggregation-safe — summing a duplicated delta twice would
    * inflate weights. Redelivery safety comes from the run key
    * instead: an at-least-once retried AvailableNow batch re-appends
    * rows under the SAME `run_id` (the batch's file set is pinned in
    * the checkpoint WAL before execution), and level 1 — max per
    * (run_id, item) — collapses duplicates, including a
    * partially-written first attempt. When the retry's rows are
    * IDENTICAL (deterministic re-run; the case StreamingSpec pins)
    * the read is bit-equal. Because the MG merge is order-sensitive
    * (truncation at the (m+1)-th weight), a multi-partition retry can
    * legally emit a DIFFERENT valid summary for the same batch; the
    * max-dedupe then stays within the MG contract instead of
    * bit-equal: each attempt independently satisfies
    * wᵢ(item) ≤ true ≤ wᵢ(item) + Δᵢ, so max wᵢ ≤ true ≤
    * max wᵢ + max Δᵢ, and an item absent from every attempt has
    * true ≤ min Δᵢ ≤ the run's max-Δ contribution.
    *
    * State stays plain data rows (item, weight, delta, run_id), ≤ m+1
    * rows per run, readable by any engine. The summary keeps the
    * per-run rows' shape: `item IS NULL` carries delta when no
    * counter survived; delta repeats on every row. The item collect is
    * bounded by m × runs ([[compactMgState]] folds runs to one).
    */
  def mgStateSummary(states: DataFrame): DataFrame = {
    val perRun = states.groupBy(col("run_id"), col("item"))
      .agg(max(col("weight")).as("weight"), max(col("delta")).as("delta"))
    val totalDelta = perRun.groupBy(col("run_id"))
      .agg(max(col("delta")).as("run_delta"))
      .agg(coalesce(sum(col("run_delta")), lit(0L)).as("delta"))
    perRun.where(col("item").isNotNull)
      .groupBy(col("item")).agg(sum(col("weight")).as("weight"))
      .agg(collect_list(struct(col("item"), col("weight"))).as("its"))
      .crossJoin(totalDelta)
      .select(explode_outer(col("its")).as("it"), col("delta"))
      .select(col("it.item").as("item"), col("it.weight").as("weight"), col("delta"))
  }

  /** Compact an append-only MG state directory to ONE merged summary
    * run (`run_id = -1`), in place — same two-rename swap and crash
    * recovery as [[compactHllState]]. The fold is [[mgStateSummary]]
    * itself, so reads before and after compaction are IDENTICAL (exact
    * weights, summed delta). Single-writer contract, and stricter than
    * HLL's: run only with the stream quiesced AND its appends durable —
    * a batch retried AFTER its rows were folded into `-1` would no
    * longer dedupe by `run_id` and would double-count.
    */
  private[graft] def compactMgState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): (Long, Long) =
    graft.sources.Compaction.rewriteParquetDir(spark, stateDir)(
      df => mgStateSummary(df).withColumn("run_id", lit(-1L)))

  // ------------------------------------- incremental quantile state

  /** Per-key integer-bucket histogram of a batch — the third member of
    * the incremental-state family (distinct = HLL q96, heavy hitters =
    * MG q97, quantiles = this), and the only EXACT one: over an
    * integer-valued metric (the engine's milli-unit house style — score
    * millis, latency micros, size bytes) the histogram is a lossless
    * sufficient statistic, so incremental quantiles equal a full rescan
    * BIT-FOR-BIT, no sketch error to bound. State is `(key…, bucket,
    * cnt)` — distinct-bucket-sized however many rows the batch has
    * (a bounded metric domain ⇒ bounded state forever; for unbounded
    * or fractional metrics the CALLER quantizes, same contract as
    * q59/q80's integer scores). Null buckets are excluded (a row with
    * no metric contributes to no quantile). As incremental state, each
    * run appends its rows tagged `run_id`; [[histStateQuantiles]] argues
    * why a redelivered run is a no-op.
    */
  def histDeltaState(df: DataFrame, keyCols: Seq[String], bucket: Column): DataFrame =
    df.select((keyCols.map(col) :+ bucket.cast("long").as("bucket")): _*)
      .where(col("bucket").isNotNull)
      .groupBy((keyCols.map(col) :+ col("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Merge an append-only histogram state (rows from [[histDeltaState]]
    * tagged `run_id`, one row set per run) and
    * read nearest-rank quantiles per key: value(q) = min bucket whose
    * cumulative count reaches `max(1, ceil(q·N))`. Counts, like MG
    * weights, would inflate under at-least-once redelivery — the same
    * `run_id` + per-(run, key, bucket) max dedupe makes a retried
    * batch a no-op and the read bit-deterministic — and HERE that
    * holds unconditionally, unlike the MG stream: the delta is an
    * exact order-insensitive groupBy count, so any retry of the same
    * WAL-pinned file set emits IDENTICAL rows. One exchange on the
    * key for the cumulative window; the q-explosion happens on the
    * already-reduced bucket rows.
    */
  def histStateQuantiles(states: DataFrame, keyCols: Seq[String],
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"histStateQuantiles: quantiles must be in (0, 1], got $qs")
    val byKey = Window.partitionBy(keyCols.map(col): _*)
    val cum = histStateMerged(states, keyCols)
      .withColumn("cum", sum(col("cnt")).over(byKey.orderBy(col("bucket"))))
      .withColumn("total", sum(col("cnt")).over(byKey))
    // guarded ceil (graft.functions.Guards: the shared
    // epsilon-before-ceil rule): q·N in doubles can overshoot a
    // mathematically-integer rank boundary, and an unguarded (or
    // wrongly-sized) guard shifts the rank — both regimes are
    // spec-pinned below and documented at the helper
    cum.withColumn("q", explode(array(qs.map(lit): _*)))
      .withColumn("rank", greatest(
        graft.functions.Guards.guardedCeil(col("q") * col("total")), lit(1L)))
      .where(col("cum") >= col("rank"))
      .groupBy((keyCols.map(col) :+ col("q")): _*)
      .agg(min(col("bucket")).as("value"))
  }

  /** The read path's merge, shared by [[histStateQuantiles]] and
    * [[compactHistState]] BY CONSTRUCTION (not copy-paste) so the
    * "compaction preserves reads bit-for-bit" invariant cannot drift:
    * dedupe redelivered rows per (run, key, bucket) by max, then sum
    * across runs.
    */
  private def histStateMerged(states: DataFrame, keyCols: Seq[String]): DataFrame =
    states
      .groupBy((col("run_id") +: keyCols.map(col) :+ col("bucket")): _*)
      .agg(max(col("cnt")).as("cnt"))
      .groupBy((keyCols.map(col) :+ col("bucket")): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Compact an append-only histogram state directory to one summed
    * run (`run_id = -1`), in place. The fold IS the read path's merge,
    * so quantiles are bit-identical before and after. Same quiesced +
    * durable single-writer contract as [[compactMgState]].
    */
  private[graft] def compactHistState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, keyCols: Seq[String]): (Long, Long) =
    graft.sources.Compaction.rewriteParquetDir(spark, stateDir)(
      df => histStateMerged(df, keyCols).withColumn("run_id", lit(-1L)))

  // ------------------------------------- approx FLOAT quantiles (KLL state)
  //
  // The fifth state-family member, covering the metric the exact
  // histogram family deliberately does not: ARBITRARY doubles
  // (latencies, scores, losses) with no integer-bucket contract. Per
  // run, per key, one serialized KLL sketch row (~O(k·log(n/k)) bytes
  // at any stream length); merged reads answer any quantile with
  // normalized rank error ≈ 1.33% at k = KllK = 200 — actual
  // retained stream values, not interpolations. Like the HLL member
  // (and unlike the exact histogram), reads are error-BOUNDED, not
  // bit-deterministic: KLL compaction is update/merge-order-sensitive,
  // so read state through bound checks, never estimate equality.
  //
  // Redelivery: sketch bytes for a retried batch can differ (order-
  // sensitivity), so rows tag the WAL-pinned run id and reads keep ONE
  // deterministic representative per (run, keys) — byte-lexicographic
  // max, the MG-stream contract: every attempt summarizes the same
  // batch, so any single representative keeps the error bound; keeping
  // BOTH would double-count the batch. getN over the kept
  // representatives is exact and deterministic.

  /** The KLL accuracy parameter every state writer sketches with. */
  val KllK = 200

  /** Sketch one batch into per-key KLL state: (keys..., kll_state).
    * NULL/NaN values are excluded (a NaN poisons every quantile). As
    * state, each run appends its rows tagged `run_id` (redelivery: the
    * note above; reads are error-bounded, unlike [[histDeltaState]]). */
  def kllDeltaState(df: DataFrame, keyCols: Seq[String], valueCol: Column): DataFrame = {
    val agg = udaf(graft.functions.Aggregators.KllDoubles(KllK))
    df.where(valueCol.isNotNull && !isnan(valueCol))
      .groupBy(keyCols.map(col): _*)
      .agg(agg(valueCol.cast("double")).as("kll_state"))
  }

  /** The read/compaction merge, shared BY CONSTRUCTION (the hist
    * family's discipline): dedupe redelivered rows per (run, keys) by
    * byte-lexicographic max, then merge sketches across runs. */
  private def kllStateMerged(states: DataFrame, keyCols: Seq[String]): DataFrame = {
    val mergeAgg = udaf(graft.functions.Aggregators.KllMergeBytes(KllK))
    states
      .groupBy((col("run_id") +: keyCols.map(col)): _*)
      .agg(max(col("kll_state")).as("kll_state"))
      .groupBy(keyCols.map(col): _*)
      .agg(mergeAgg(col("kll_state")).as("kll_state"))
  }

  /** Merge an append-only KLL state (rows from [[kllDeltaState]] tagged
    * `run_id`) and read quantiles per key: one row per (keys..., q)
    * with the estimate `value` and the EXACT observed count `n` (KLL's
    * n is a plain counter — deterministic, unlike the value estimates).
    * The per-sketch extraction is a scalar UDF by necessity (the sketch
    * is an opaque byte image) — it runs on key-count-sized rows, never
    * data-sized ones.
    */
  def kllStateQuantiles(states: DataFrame, keyCols: Seq[String],
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      s"kllStateQuantiles: quantiles must be in [0, 1], got $qs")
    val q1 = udf((bytes: Array[Byte], q: Double) => {
      val sk = org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(bytes))
      if (sk.isEmpty) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(sk.getQuantile(q,
        org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE))
    })
    val nOf = udf((bytes: Array[Byte]) =>
      org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(bytes)).getN)
    kllStateMerged(states, keyCols)
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .select((keyCols.map(col) :+ col("q") :+
        q1(col("kll_state"), col("q")).as("value") :+
        nOf(col("kll_state")).as("n")): _*)
  }

  /** Compact an append-only KLL state directory to one merged sketch
    * row per key (`run_id = -1`), in place. The fold IS the read
    * path's merge; estimates after compaction stay inside the same
    * error bound (read via bounds, never equality — the HLL family's
    * contract). Same quiesced single-writer rules.
    */
  private[graft] def compactKllState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, keyCols: Seq[String]): (Long, Long) =
    graft.sources.Compaction.rewriteParquetDir(spark, stateDir)(
      df => kllStateMerged(df, keyCols).withColumn("run_id", lit(-1L)))
}

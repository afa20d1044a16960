package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, Relational}
import graft.sources.ParquetRead

/** End-to-end training-data curation pipeline over a document corpus —
  * the composite the individual operators exist for:
  *
  *   ingest → language-ID → quality filter → exact dedup →
  *   near-dup (MinHash-LSH) removal → token accounting →
  *   partitioned output by language
  *
  * Every stage is a narrow declarative transform; the only shuffles are
  * the two dedup stages (hash groupBy + LSH band join) and the final
  * partitioned write. Filters run FIRST so the expensive dedup stages
  * see only surviving rows — at 100 TB, ordering the stages this way is
  * the difference between hashing the whole crawl and hashing the ~half
  * that passes quality gates.
  */
object CorpusPipeline {

  /** Upper bound of the quality gate's token count. */
  val MaxTokens = 100000
  /** Stopword profiles of the language annotation; the argmax breaks
    * ties towards the earlier profile. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "fr" -> Seq("le", "la", "et"),
    "de" -> Seq("der", "und", "das"),
    "es" -> Seq("el", "los", "de"))
  /** Predicted languages the quality gate keeps. */
  val KeepLangs: Set[String] = LangProfiles.map(_._1).toSet
  /** MinHash geometry of near-dup, within a batch and against the
    * signature store: 3-word shingles, 32 hashes in 4 bands × 8 rows —
    * a steep S-curve sized for the high threshold, so moderate-similarity
    * pairs rarely collide and the candidate join stays small on
    * near-dup-light corpora. */
  val NearDupShingleSize = 3
  val NearDupNumHashes = 32
  val NearDupBands = 4

  final case class Config(
      minTokens: Int = 10,
      minTypeTokenRatio: Double = 0.1,
      nearDupThreshold: Double = 0.9,
      snapshotGate: Boolean = false)
        // true = eager localCheckpoint of the EXACT-DEDUP survivors
        // (minus __toks) inside dedup(). The near-dup pair DAG has ~5
        // lazy consumers of the exact-deduped frame and each re-derives
        // the annotate needle-scan projection AND the exact-dedup
        // sha2/exchange/window subtree; pinning once past that stage is
        // the measured win at report-to-mid scale (q93: 3.35 → 2.54 s;
        // q44 numbers in PLANS.md). Keep FALSE for observed pipelines
        // (an eager action completes the Observation promise from a
        // metrics-less run — curateObserved forces it off) and for
        // corpora too large to pin as executor RDD blocks.

  /** Annotate with language + quality signals (stacked projections, no
    * shuffle). `predicted_lang` reads the document's needle counts
    * through ONE reference: predicate pushdown substitutes projection
    * aliases into a filter it moves below them ([[qualityFilter]]'s),
    * whatever their cost, so score columns referenced once per
    * comparison of the argmax would each become a `graft_count_all`
    * scan. The counts are bound once, as the argument of a one-element
    * `transform`, and the per-language sums and the argmax read that
    * binding, so the gate's plan scans each document once in the filter
    * and once in the projection above it.
    */
  def annotate(docs: DataFrame, idCol: String, textCol: String, cfg: Config): DataFrame =
    docs
      .withColumn("__toks", TF.tokens(col(textCol)))
      .withColumn("n_tokens", size(col("__toks")))
      .withColumn("ttr", TF.typeTokenRatio(col(textCol)))
      // ONE native multi-needle scan over each document for every
      // profile word (graft_count_all); null text falls through the
      // argmax to the last language
      .withColumn("predicted_lang", element_at(transform(
        array(TF.stopwordCounts(col(textCol), LangProfiles)),
        TF.stopwordArgmax(_, LangProfiles)), 1))

  /** Quality + language gate. */
  def qualityFilter(annotated: DataFrame, cfg: Config): DataFrame =
    annotated.filter(
      col("n_tokens").between(cfg.minTokens, MaxTokens) &&
        col("ttr") >= cfg.minTypeTokenRatio &&
        col("predicted_lang").isInCollection(KeepLangs))

  /** Exact dedup (keep lowest id per content hash), then drop near-dups:
    * from every MinHash-LSH verified pair, the higher id is removed
    * (pair-local — one anti-join, no iteration; compose
    * [[graft.operators.Dedup.keepOnePerCluster]] over the pairs for
    * transitive per-cluster semantics).
    */
  def dedup(df: DataFrame, idCol: String, textCol: String, cfg: Config): DataFrame = {
    val exact0 = Dedup.exactContentGroups(df, idCol, textCol)
      .filter(col(idCol) === col("canonical_id"))
      .drop("canonical_id", "dup_count")
    // snapshotGate pins HERE, post exact-dedup: the near-dup DAG below
    // has ~5 lazy consumers of `exact` (banding self-join sides, verify
    // joins, the final anti-join), and each would otherwise re-run the
    // whole upstream — annotate projection, gates, sha2 fingerprint,
    // full-text exchange and keep-min window. One eager snapshot of the
    // (smaller) exact survivors makes all of that a single pass; blocks
    // release via ContextCleaner when the result is GC'd.
    val exact = if (cfg.snapshotGate) exact0.localCheckpoint() else exact0
    val toDrop = Dedup.minHashNearDuplicates(
      exact, idCol, textCol,
      shingleSize = NearDupShingleSize, numHashes = NearDupNumHashes,
      bands = NearDupBands, threshold = cfg.nearDupThreshold)
      .select(col("id_b").as(idCol)).distinct()
    exact.join(toDrop, Seq(idCol), "left_anti")
  }

  /** Full pipeline: annotate → quality gate → dedup; returns the curated
    * corpus with accounting columns. The cheap projection gate runs
    * before the shuffling dedup so the expensive passes see only
    * surviving rows. Release stages compose around it from their own
    * operators: [[graft.functions.TextFunctions.cleanText]] on the input,
    * a [[graft.functions.TextFunctions.linearScoreMilli]] filter,
    * [[removeDuplicateSpans]] and [[sampleToTokenBudget]] on the output.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String, cfg: Config = Config()): DataFrame = {
    val gated = qualityFilter(annotate(docs, idCol, textCol, cfg), cfg)
    // snapshotGate pins inside dedup(), after the exact stage; __toks is
    // dropped first so the snapshot doesn't carry the token arrays (only
    // the gate reads them)
    dedup(if (cfg.snapshotGate) gated.drop("__toks") else gated, idCol, textCol, cfg)
      .drop("__toks")
  }

  /** [[curate]] with free funnel accounting: `Observation` metrics are
    * collected ON the existing job (accumulator-backed, zero extra
    * passes, zero extra shuffles), so a 100 TB run reports its ingest
    * and ship counts without re-scanning anything — unlike a
    * `count()`-based funnel, which would re-execute the pipeline per
    * stage. Returns (curated, ingestObs, shipObs); read
    * `obs.get("n_docs"/"n_tokens")` after the caller's terminal action.
    */
  def curateObserved(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): (DataFrame, Observation, Observation) = {
    val ingest = new Observation("corpus_ingest")
    val ship = new Observation("corpus_ship")
    val observedIn = docs.observe(ingest,
      count(lit(1)).as("n_docs"),
      sum(TF.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    // single-job form: an eager internal action would complete the
    // ingest observation's promise from a metrics-less checkpoint run —
    // the eager snapshotGate is forced off
    val curated = curate(observedIn, idCol, textCol,
      cfg.copy(snapshotGate = false))
    val observedOut = curated.observe(ship,
      count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    (observedOut, ingest, ship)
  }

  /** Partitioned corpus release with a certifying manifest: write the
    * curated corpus partitioned by `partCol` (the layout trainers consume
    * — per-language/per-source file trees), then compute the manifest
    * FROM THE WRITTEN FILES, not from the input plan, so it certifies
    * what actually landed on disk (a lost partition or a failed task
    * shows up as a count/signature mismatch, not a silent gap). Manifest
    * rows are `(partCol, n_docs, n_tokens, content_sig)` where
    * `content_sig` is the bit-XOR of per-ROW xxhash64 over ALL columns —
    * order- and partitioning-invariant, so two releases of the same
    * corpus match bit-for-bit however they were shuffled. XOR cancels
    * duplicate rows pairwise, so the signature assumes rows are unique
    * (an id column makes them so — the corpus invariant); hashing the
    * whole row rather than just the text is what keeps two DIFFERENT
    * duplicate-pairs from certifying as equal. The manifest is also
    * written inside the release as `_manifest` (JSONL): the underscore
    * prefix keeps Spark's file discovery from reading it back as data.
    *
    * The returned manifest is an eager snapshot (localCheckpoint): it
    * certifies THIS write, and later actions on it can never silently
    * re-read a directory that has since been overwritten.
    */
  private[graft] def writeRelease(df: DataFrame, dir: String, partCol: String,
      textCol: String): DataFrame = {
    df.write.mode("overwrite").partitionBy(partCol).parquet(dir)
    val back = ParquetRead(df.sparkSession, dir)
    val manifest = back
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        bit_xor(xxhash64(back.columns.toSeq.map(col): _*)).as("content_sig"))
      .localCheckpoint(true)
    graft.sources.JsonlCorpus.write(manifest, s"$dir/_manifest", partitions = 1)
    manifest
  }

  /** Per-document mean token surprisal −ln p(tok) under the corpus's own
    * unigram LM — the SQL-expressible analog of CCNet's KenLM perplexity
    * filter: high mean surprisal flags rare-token soup / gibberish, low
    * flags boilerplate; curation keeps the middle band. Returns
    * `(idCol, mean_surprisal, n_tokens)`.
    *
    * Two exchanges, both of narrow exploded (doc, token) pairs: the tf
    * groupBy (q73's single-exchange unigram table) and the re-aggregation
    * per doc after the tok join. At 100 TB the production form reads tf
    * from its written table instead of recomputing it in-plan.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), explode(TF.tokens(col(textCol))).as("tok"))
    val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = tf.agg(sum(col("c")).as("total"))
    toks.join(tf, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(avg(-log(col("c").cast("double") / col("total"))).as("mean_surprisal"),
        count(lit(1)).cast("long").as("n_tokens"))
  }

  /** Temperature-scaled mixture weights (the T5/multilingual-LM sampling
    * rule): `w_s ∝ toks_s^alpha`, normalized. `alpha = 1` reproduces the
    * natural share; `alpha → 0` approaches uniform — in between, small
    * sources are upweighted without letting any source dominate. Returns
    * one row per stratum: `(stratumCol, toks, natural_share, weight)` —
    * the weight table a token-budget sampler consumes. One exchange
    * (map-side-combined token sums per stratum); the normalizer is a
    * 1-row aggregate broadcast-crossed back.
    */
  def mixtureWeights(docs: DataFrame, stratumCol: String, textCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, "temperature alpha must be in (0, 1]")
    val bySource = docs
      .select(col(stratumCol), TF.tokenCount(col(textCol)).cast("long").as("__n"))
      .groupBy(col(stratumCol)).agg(sum(col("__n")).as("toks"))
    val norm = bySource.agg(
      sum(col("toks")).as("__total"),
      sum(pow(col("toks").cast("double"), alpha)).as("__z"))
    bySource.crossJoin(broadcast(norm))
      .select(col(stratumCol), col("toks"),
        (col("toks").cast("double") / col("__total")).as("natural_share"),
        (pow(col("toks").cast("double"), alpha) / col("__z")).as("weight"))
  }

  /** Deterministic weighted sampling WITHOUT replacement (the
    * Efraimidis–Spirakis exponential race): keep the k rows with the
    * smallest `−ln(u)/w`, where `u` is a salted-sha-60 uniform in (0,1)
    * and `w` the row's weight — inclusion probability tracks weight (a
    * 10k-token doc is ~10× likelier than a 1k-token doc), yet the draw
    * is a pure function of (id, salt): partition-invariant, rerun-
    * reproducible, and externally replayable, the same determinism
    * contract as [[deterministicSplit]]/[[samplePerStratum]] (which this
    * generalizes — constant weights reduce to the uniform sampler).
    * Selection is `orderBy(key, id).limit(k)`, which Spark plans as
    * `TakeOrderedAndProject`: each partition keeps its k smallest keys
    * and only those reach the single merge, however large the corpus.
    * Non-positive weights are excluded (they'd divide by zero or invert
    * the race).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame =
    weightedSample(df, idCol, weightCol, k, WeightedSampleSalt)

  /** Salt of [[weightedSample]]'s draw. */
  val WeightedSampleSalt = "wsample"

  /** [[weightedSample]] drawn under `salt`: another salt, another draw. */
  private[graft] def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, salt: String): DataFrame = {
    val u = (graft.operators.Sketches.sha60(
      concat(col(idCol).cast("string"), lit(salt))).cast("double") + 1.0) /
      graft.operators.Sketches.M
    df.filter(col(weightCol) > 0)
      .withColumn("__key", -log(u) / col(weightCol))
      .orderBy(col("__key").asc, col(idCol).asc).limit(k)
      .drop("__key")
  }

  /** Adaptive per-stratum quality filtering: keep rows whose score is at
    * or above their OWN stratum's p-th discrete percentile (p = num/den),
    * rather than one corpus-global cutoff — the standard guard against a
    * fixed threshold gutting a stylistically-different source (code vs
    * prose vs forum text score on different scales). Appends the
    * stratum's cutoff as `thr` and filters.
    *
    * The cutoff is selected by integer rank (target row `ceil(p*n)` =
    * `(n*num + den - 1) div den`, the q50 percentile_disc construction —
    * the k-th smallest value of a multiset is deterministic even when
    * row_number breaks score ties arbitrarily, and integer milli-scores
    * compare exactly, so no float interpolation can drift at the
    * keep/drop boundary). One shuffle, of ONLY the (id, stratum, score)
    * stream — document text never moves.
    */
  def adaptiveQualityFilter(scored: DataFrame, scoreCol: String,
      stratumCol: String, num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num < den, "percentile must be in (0,1)")
    val w = Window.partitionBy(col(stratumCol)).orderBy(col(scoreCol))
    val wn = Window.partitionBy(col(stratumCol))
    scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wn))
      .withColumn("thr",
        max(when(col("__rn") === expr(s"(__n * $num + ${den - 1}) div $den"),
          col(scoreCol))).over(wn))
      .filter(col(scoreCol) >= col("thr"))
      .drop("__rn", "__n")
  }

  /** Deterministic uniform sample of `k` rows per stratum (the "give me
    * 500 random docs per language for eval" op): rank by the sha-256 of
    * the id salted with "sample" — uniform AND reproducible (partition-count- and
    * rerun-invariant, the [[deterministicSplit]] property) — and keep the
    * k smallest per stratum ([[graft.operators.Relational.topKPerGroup]]).
    * Spark plans that window as `WindowGroupLimit` Partial below the
    * exchange, which bounds every stratum to k rows per partition BEFORE
    * the shuffle: it moves ≤ k·strata·partitions rows however large the
    * corpus, for k below `spark.sql.optimizer.windowGroupLimitThreshold`
    * (1000).
    */
  def samplePerStratum(df: DataFrame, idCol: String, stratumCol: String,
      k: Int): DataFrame =
    Relational.topKPerGroup(
      df.withColumn("__h", sha2(concat(col(idCol).cast("string"), lit("sample")), 256)),
      Seq(col(stratumCol)),
      Seq(col("__h").asc, col(idCol).asc), k, "__rn")
      .drop("__h", "__rn")

  /** Deterministic training-mix interleave: assign every row a global
    * `slot` such that ordering by it cycles round-robin across strata
    * (source, language, …) — the training-order shaping step that stops a
    * data loader from seeing an hour of one crawl followed by an hour of
    * another. Within each stratum, rows are ranked by the sha-256 of the
    * id salted with "mix" (deterministic shuffle: partition-count- and rerun-invariant,
    * same property as [[deterministicSplit]]); the global slot is then
    * pure per-row arithmetic, `(rank-1) * n_strata + stratum_index` —
    * unique by construction, NO global sort or single-partition window
    * over the data. Shuffles: one exchange on the stratum for the
    * per-stratum rank; the stratum→index map is a tiny broadcast
    * (strata cardinality is small by definition — languages, sources).
    * Uneven strata leave slot gaps once the smaller strata exhaust;
    * gaps preserve the cycling property and order-by-slot is all a
    * writer needs.
    */
  def roundRobinInterleave(df: DataFrame, idCol: String, stratumCol: String): DataFrame = {
    val strata = df.select(col(stratumCol)).distinct()
    // single-partition window over the DISTINCT strata only — a handful
    // of rows however large the corpus
    val w = Window.orderBy(col(stratumCol))
    val idx = strata
      .withColumn("__sidx", row_number().over(w).cast("long") - 1)
      .withColumn("__k", count(lit(1)).over(
        Window.partitionBy(lit(1))).cast("long"))
    val rankW = Window.partitionBy(col(stratumCol))
      .orderBy(col("__h"), col(idCol))
    df.withColumn("__h", sha2(concat(col(idCol).cast("string"), lit("mix")), 256))
      .withColumn("rank_in_stratum", row_number().over(rankW).cast("long"))
      .join(broadcast(idx), Seq(stratumCol))
      .withColumn("slot",
        (col("rank_in_stratum") - lit(1L)) * col("__k") + col("__sidx"))
      .drop("__h", "__sidx", "__k")
  }

  /** Cross-document duplicate-SPAN removal — the span-level dedup pass of
    * training-data curation. Document-level near-dup keeps one copy of a
    * page; this pass removes the boilerplate paragraphs and quoted
    * passages that recur INSIDE otherwise-distinct documents. A span is
    * any `n`-token window whose gram occurs in more than one document;
    * every token covered by such a window is dropped, per-doc order
    * preserved.
    *
    * Distributed shape (the n-gram/MapReduce standard — suffix-array span
    * dedup is inherently single-node): one narrow pass computes hashed
    * positional n-grams (`graft_shingles`, O(tokens), codegen); one
    * shuffle aggregates per-gram distinct-document counts (partial aggs
    * map-side); the duplicated-gram set joins back by hash equi-join
    * (candidates only); a final grouped pass masks and reassembles.
    * Masking is positional (covered-by-any-window), so overlapping
    * duplicate windows compose; per-token mask cost is O(|dup windows in
    * the doc|), bounded by doc length.
    *
    * Note the gram stream is CONSUMED TWICE (dup-gram aggregation and the
    * join-back), and there is no exchange boundary between them for Spark
    * to reuse — the text is scanned and re-shingled once per consumer. At
    * 100 TB, persist (or checkpoint) the tokenized projection before
    * calling, or accept 2× scan; the alternative single-pass shape
    * (collect (doc,pos) lists per gram) puts a pathological hot gram's
    * entire postings list in one task, which is worse.
    *
    * Returns (idCol, kept_units, n_kept, n_removed).
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = docs.select(col(idCol), TF.tokens(col(textCol)).as("w"))
    val grams = toks.select(col(idCol),
      posexplode(call_function("graft_shingles", col("w"), lit(n), lit(false))))
      .toDF(idCol, "pos", "gh")
    // "occurs in >1 distinct document" ⇔ min(doc) ≠ max(doc): same
    // predicate as count_distinct(doc) > 1 (same-doc repeats give
    // min = max; null docs drop out of both forms), but min/max are
    // plain map-side-combinable partials — the aggregation state is one
    // entry per GRAM (~|vocab|) instead of count_distinct's one entry
    // per (gram, doc) PAIR (~|corpus|), the difference between a hash
    // table that fits in memory at 100 TB and one that spills
    val dupGrams = grams.groupBy(col("gh"))
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("gh"))
    val dupStarts = grams.join(dupGrams, "gh")
      .groupBy(col(idCol)).agg(collect_set(col("pos")).as("dup_starts"))
    // per-token mask: native sorted-starts two-pointer sweep
    // (plans/SpanMask, O(tokens + windows·log windows)) — the HOF
    // `exists` form it replaced is O(tokens × windows) per doc and was
    // the engine's #1 CPU sink at sf1 (VERDICT r12); SpanMaskSpec pins
    // the two forms equivalent on randomized overlap cases.
    val kept = call_function("graft_span_mask", col("w"), col("ds"), lit(n))
    toks.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol), col("w"),
        coalesce(col("dup_starts"), array().cast("array<int>")).as("ds"))
      .select(col(idCol), kept.as("kept_units"), col("w"))
      .select(col(idCol), col("kept_units"),
        size(col("kept_units")).cast("long").as("n_kept"),
        (size(col("w")) - size(col("kept_units"))).cast("long").as("n_removed"))
  }

  /** Token-budget mixture sampling ("data mixing"): from each stratum
    * (source, language, quality band, …) keep the hash-ordered prefix of
    * documents whose cumulative token count fits `budgetPerStratum` — the
    * deterministic form of "take N tokens per source". Selection order is
    * sha-256 of (id, "graft"), so the sample is a pure function of the
    * corpus snapshot: any engine reproduces it row-for-row, and
    * re-partitioning or re-running cannot swap rows. Token accounting is
    * INTEGER end-to-end (cumulative sum of token counts), no float
    * fractions. A document whose tokens alone exceed the budget is never
    * selected.
    *
    * Cost shape: one narrow projection + ONE hash exchange on the
    * stratum (the running sum needs per-stratum order) — the same
    * exchange any per-stratum quota needs; no joins, no second pass.
    */
  def sampleToTokenBudget(df: DataFrame, idCol: String, stratumCol: String,
      tokensCol: String, budgetPerStratum: Long): DataFrame = {
    val h = conv(substring(sha2(concat(col(idCol).cast("string"), lit("graft")), 256), 1, 8),
      16, 10).cast("long")
    val w = Window.partitionBy(col(stratumCol)).orderBy(h.asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(col(tokensCol).cast("long")).over(w))
      .filter(col("cum_tokens") <= budgetPerStratum)
  }

  /** Per-language accounting: doc + token counts (the corpus datasheet). */
  def accounting(curated: DataFrame): DataFrame =
    curated.groupBy(col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("predicted_lang"))

  /** The train/val/test weights of [[deterministicSplit]] and [[leakageSafeSplit]]. */
  val DefaultSplits: Seq[(String, Double)] = Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01)

  /** Deterministic train/val/test assignment: each row's split is a pure
    * function of (id, salt) — stable across partitioning, cluster size,
    * and re-runs, so a 100 TB corpus can be re-split identically by any
    * job that knows the salt, and no holdout row ever migrates into
    * train when the corpus is re-processed. The hash is sha-256 (not
    * xxhash) so external systems can reproduce the assignment from the
    * spec alone; one narrow projection, no shuffle.
    *
    * `splits` are (label, weight) with weights summing to ≤ 1; rows
    * hashing past the last cumulative bound get the final label.
    */
  def deterministicSplit(df: DataFrame, idCol: String, salt: String,
      splits: Seq[(String, Double)] = DefaultSplits): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 1.0 + 1e-9, "weights sum to <= 1")
    // first 8 hex chars of sha-256 → uniform int in [0, 2^32) → [0, 10000)
    val bucket = conv(substring(sha2(concat(col(idCol).cast("string"), lit(salt)), 256), 1, 8),
      16, 10).cast("long") % 10000L
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail.map(c => math.round(c * 10000).toLong)
    val label = splits.init.zip(bounds.init).foldRight(lit(splits.last._1)) {
      case (((name, _), hi), elseCol) => when(bucket < hi, lit(name)).otherwise(elseCol)
    }
    df.withColumn("split", label)
  }

  /** Leakage-safe train/val/test assignment: the split is decided at the
    * NEAR-DUP-CLUSTER level, not the document level. [[deterministicSplit]]
    * hashes ids independently, so a held-out eval document's near-copy
    * lands in train with probability ≈ the train weight — the classic
    * contamination path that silently inflates eval scores. Here the
    * near-dup PAIRS from any detector ([[graft.operators.Dedup.minHashNearDuplicates]],
    * `embeddingNearDuplicates`, semantic dedup's verified pairs) cluster
    * transitively (min-label connected components); every document keys
    * by its cluster REPRESENTATIVE — clustered docs by the min id in the
    * cluster, untouched docs by their own id — and the representative's
    * sha-256 bucket decides the split, so whole clusters move together
    * and the assignment stays a pure function of (corpus, pairs, salt):
    * partition-invariant, re-run-stable, externally replayable.
    *
    * Scale shape: the edge list is near-dup-sized (≪ corpus), components
    * cost O(E) equi-joins × O(log diameter) rounds, and the join back is
    * one LEFT equi-join on the id whose right side holds only CLUSTERED
    * docs — AQE broadcasts it at the usual few-percent duplicate rate;
    * document text never shuffles (the split is a projection over the
    * joined key).
    *
    * `pairs` carries the family's `(id_a, id_b)` columns. Returns `df` +
    * (`split_key`, `split`) over [[DefaultSplits]].
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      salt: String): DataFrame =
    leakageSafeSplit(df, idCol, pairs, salt, DefaultSplits)

  /** [[leakageSafeSplit]] over other (label, weight) `splits`. */
  private[graft] def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      salt: String, splits: Seq[(String, Double)]): DataFrame = {
    val clusters = graft.operators.Dedup.nearDupClusters(pairs)
      .select(col("id").as("__lss_id"), col("cluster_id").as("__lss_rep"))
    val keyed = df.join(clusters, col(idCol) === col("__lss_id"), "left")
      .withColumn("split_key", coalesce(col("__lss_rep"), col(idCol)))
      .drop("__lss_id", "__lss_rep")
    deterministicSplit(keyed, "split_key", salt, splits)
  }

  /** Remove text units (lines, paragraphs, tokens — any exploded array)
    * that occur in at least `minDocs` distinct documents: the
    * boilerplate-removal pass of web-corpus curation (nav bars, cookie
    * banners, license headers repeat across pages; prose does not).
    *
    * Returns (idCol, kept_units, n_kept, n_removed) with original unit
    * order preserved. Three shuffles, all equi: distinct (unit, doc)
    * pairs → per-unit document frequency; frequent-unit join back; per-doc
    * reassembly. The frequent set is the HEAD of the unit-frequency
    * distribution (boilerplate by definition repeats), so at corpus scale
    * the join side stays small and AQE broadcasts it.
    */
  def removeFrequentUnits(docs: DataFrame, idCol: String, unitsCol: Column,
      minDocs: Long): DataFrame = {
    val exploded = docs.select(col(idCol), posexplode_outer(unitsCol).as(Seq("__pos", "__unit")))
    val frequent = exploded.filter(col("__unit").isNotNull)
      .select(col("__unit"), col(idCol)).distinct()
      .groupBy(col("__unit")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__unit"), lit(true).as("__freq"))
    exploded.join(frequent, Seq("__unit"), "left")
      .groupBy(col(idCol))
      .agg(
        transform(
          array_sort(collect_list(when(col("__freq").isNull && col("__unit").isNotNull,
            struct(col("__pos"), col("__unit"))))),
          x => x.getField("__unit")).as("kept_units"),
        count(when(col("__freq").isNull && col("__unit").isNotNull, 1)).as("n_kept"),
        count(col("__freq")).as("n_removed"))
  }

  /** Overlapping fixed-window token chunking — the document→chunk
    * fan-out under RAG indexing and long-document training prep: each
    * document becomes `1 + ceil(max(n_tokens - chunkTokens, 0) / step)`
    * chunks of up to `chunkTokens` whitespace tokens, consecutive chunks
    * sharing `overlapTokens` tokens (`step = chunkTokens -
    * overlapTokens`). The final chunk is the (possibly short) remainder
    * — every token lands in at least one chunk, and no chunk start is
    * ever past the end of the document.
    *
    * Scale shape: tokenize once into a materialized array column, then
    * a single generator (posexplode over the start offsets) and
    * partition-local `slice` projections — no shuffle, no UDF, and the
    * chunk arithmetic is integer-exact so external systems (and the
    * DuckDB oracle) reproduce chunk boundaries identically. Emits
    * (idCol, chunk_idx, n_chunk_tokens, chunk_text).
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens > 0")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      "0 <= overlapTokens < chunkTokens")
    val step = chunkTokens - overlapTokens
    val over = greatest(col("n_toks") - chunkTokens, lit(0))
    val nChunks = lit(1) + floor((over + lit(step - 1)) / lit(step)).cast("long")
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), TF.tokens(col(textCol)).as("toks"))
      .withColumn("n_toks", size(col("toks")))
      .select(col(idCol), col("toks"),
        posexplode(sequence(lit(0L), nChunks - 1)).as(Seq("chunk_idx", "chunk_no")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("toks"), col("chunk_idx").cast("int") * step + 1, lit(chunkTokens)).as("chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** Pack documents into fixed token-budget training sequences:
    * next-fit-decreasing within each hash partition. Returns
    * (seq_id, idCol, n_tokens) with every input doc in exactly one
    * sequence and every multi-doc sequence within budget (a single doc
    * longer than the budget gets its own sequence — truncation is the
    * tokenizer's decision, not the packer's).
    *
    * Scale shape: one shuffle (deterministic hash repartition by id), a
    * partition-local sort by (tokens desc, id), then a STREAMING single
    * pass — only the current bin's fill is held in memory, never the
    * partition. Packing quality is partition-local (no global optimum),
    * which is the right trade at 100 TB: bin fill loss vs. sorted
    * next-fit is a few percent, a global pack is a cluster-wide sort.
    * seq_ids are deterministic for a given (input, numPartitions).
    */
  def packSequences(docs: DataFrame, idCol: String, nTokensCol: String,
      budget: Long, numPartitions: Int = 0): DataFrame = {
    require(budget > 0, "budget > 0")
    // the typed mapPartitions packer carries ids as primitive longs; a
    // non-integral id column would cast to null row by row and fail deep
    // inside the encoder — reject it at the API boundary instead (hash
    // string/UUID ids to a surrogate long upstream, or extend here)
    val idType = docs.schema(idCol).dataType
    require(Seq("long", "int", "short", "byte").contains(idType.typeName),
      s"packSequences: idCol '$idCol' must be integral, got ${idType.sql} — " +
        "map string/UUID ids to a surrogate long first")
    val spark = docs.sparkSession
    import spark.implicits._
    val p = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val packed = docs
      .select(col(idCol).cast("long").as("id"), col(nTokensCol).cast("long").as("n"))
      .repartition(p, pmod(xxhash64(col("id")), lit(p)))
      .sortWithinPartitions(col("n").desc, col("id"))
      .as[(Long, Long)]
      .mapPartitions { rows =>
        val part = org.apache.spark.TaskContext.getPartitionId().toLong
        var bin = 0L
        var fill = 0L
        var empty = true
        rows.map { case (id, n) =>
          if (!empty && fill + n > budget) { bin += 1L; fill = 0L }
          empty = false
          fill += n
          ((part << 32) | bin, id, n)
        }
      }
    packed.toDF("seq_id", idCol, "n_tokens")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate / exact nearest-neighbor search over an embedding column.
  *
  * Scale shape: the query set is small and broadcast; the corpus streams.
  * Brute force is the exactness baseline (one broadcast-nested-loop pass,
  * no shuffle of the corpus); the LSH variant prunes the corpus to
  * signature-bucket collisions first so the per-query work drops from
  * O(corpus) to O(bucket), which is the 100 TB path.
  */
object Similarity {

  /** Base seed of [[lshCosineTopK]]'s random hyperplanes. */
  val LshSeed = 42L
  /** [[kmeansCentroids]] stops early once no centroid moves more than this. */
  val KmeansTol = 1e-6
  /** [[pqCodebooks]]' Lloyd rounds per subspace and training-sample size. */
  val PqMaxIter = 10
  val PqTrainRows: Int = 1 << 14
  /** Codes per [[pqCodebooks]] subspace. */
  val PqCodes = 256
  /** Training-sample cap of [[kmeansCentroids]]: larger corpora train on a
    * hash-cut sample of about this many rows. */
  val KmeansMaxTrainRows: Int = 1 << 21

  /** Rank a scored candidate set down to k per query: the custom TopK
    * operator bounds each input partition to k rows per query BEFORE the
    * exchange (TopKPartialExec), so the shuffle moves ≤ k·|queries| rows
    * per partition instead of every scored row — the window form's
    * one-reducer-per-query straggler is the single worst scaling hazard
    * in this file. The rank column is recovered with a window AFTER the
    * bound: its input is already ≤ k rows per query and already hash
    * partitioned by query_id by TopKFinalExec, so no third exchange.
    */
  def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val order = Seq(col("cosine").desc, col("neighbor_id").asc)
    val bounded = Relational.topKPerGroupNative(scored, Seq(col("query_id")), order, k)
    val w = Window.partitionBy(col("query_id")).orderBy(order: _*)
    bounded.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Exact top-k cosine neighbors for each query vector.
    *
    * `queries` must be small (it is broadcast). Corpus rows never shuffle
    * at full width: the cross product is a BroadcastNestedLoopJoin and the
    * per-query top-k is heap-bounded per partition before its exchange.
    */
  def bruteForceCosineTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusEmb: String,
      queries: DataFrame,
      queryId: String,
      queryEmb: String,
      k: Int,
      roundTo: Option[Int] = None): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryEmb).as("__qe")))
    val raw = VectorFunctions.cosineNative(col("__qe"), col("__ce"))
    // roundTo ranks over the ROUNDED similarity — for consumers whose
    // downstream comparison (e.g. a SQL oracle) orders by a rounded
    // score, where rounding AFTER ranking could disagree on rank ties
    val score = roundTo.fold(raw)(d => round(raw, d))
    val scored = corpus.select(col(corpusId).as("neighbor_id"), col(corpusEmb).as("__ce"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", score)
    rankTopK(scored, k)
  }

  /** LSH-bucketed approximate top-k: random-hyperplane signatures over
    * `tables` independent hash tables of `bitsPerTable` bits each; a
    * corpus row is a candidate for a query if they collide in ANY table.
    * Candidates are exactly re-ranked by true cosine.
    *
    * Recall/cost dial: more tables → higher recall & more candidates;
    * more bits → smaller buckets. Table t's hyperplanes are seeded with
    * [[LshSeed]] + 1000·t. The corpus-side signature computation is
    * a codegen projection; the candidate join is an equi-join on
    * (table, signature) — the corpus never cross-joins the queries.
    */
  def lshCosineTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusEmb: String,
      queries: DataFrame,
      queryId: String,
      queryEmb: String,
      k: Int,
      dim: Int,
      tables: Int = 8,
      bitsPerTable: Int = 12): DataFrame = {
    def withSigs(df: DataFrame, id: String, emb: String, idOut: String, embOut: String) =
      df.select(
        col(id).as(idOut), col(emb).as(embOut),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("table"),
            VectorFunctions.hyperplaneSignature(col(emb), dim, bitsPerTable, LshSeed + 1000L * t)
              .as("sig"))): _*)).as("ts"))
        .select(col(idOut), col(embOut), col("ts.table"), col("ts.sig"))

    val cs = withSigs(corpus, corpusId, corpusEmb, "neighbor_id", "__ce")
    val qs = broadcast(withSigs(queries, queryId, queryEmb, "query_id", "__qe"))

    val candidates = cs.join(qs, Seq("table", "sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("__qe"), col("__ce"))
      .dropDuplicates("query_id", "neighbor_id")

    rankTopK(
      candidates.withColumn("cosine", VectorFunctions.cosineNative(col("__qe"), col("__ce"))), k)
  }

  /** Embedding-space benchmark decontamination — the semantic-similarity
    * counterpart of the n-gram pass ([[Dedup.decontaminate]]): flag every
    * corpus row whose embedding has cosine ≥ `threshold` to ANY benchmark
    * embedding, reporting the best-matching benchmark id. Catches the
    * paraphrased test-set leakage that exact n-gram overlap misses.
    *
    * Scale shape: the benchmark side is broadcast (benchmarks are small
    * by definition), similarities are the native codegen cosine, and the
    * per-corpus-row argmax is `max(struct(sim, id))` with map-side
    * partial aggregation — the corpus is never shuffled; the one exchange
    * carries at most one (id, best-match) row per FLAGGED corpus row.
    * Similarities are rounded to 6 decimals BEFORE the threshold and the
    * argmax so rank ties resolve identically to a SQL oracle (same
    * discipline as [[bruteForceCosineTopK]]'s callers); ties on the
    * rounded sim break to the larger benchmark id.
    */
  def embeddingDecontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      corpusId: String, corpusEmb: String,
      benchId: String, benchEmb: String,
      threshold: Double): DataFrame = {
    val b = broadcast(benchmark.select(
      col(benchId).as("__bid"), col(benchEmb).as("__be")))
    corpus.select(col(corpusId).as("__cid"), col(corpusEmb).as("__ce"))
      .crossJoin(b)
      .withColumn("sim", round(VectorFunctions.cosineNative(col("__ce"), col("__be")), 6))
      .filter(col("sim") >= threshold)
      .groupBy(col("__cid"))
      .agg(max(struct(col("sim"), col("__bid"))).as("m"))
      .select(col("__cid").as(corpusId),
        col("m.__bid").as("matched_bench_id"), col("m.sim").as("sim"))
  }

  /** Nearest-centroid id for a vector under cosine similarity, as a PURE
    * PROJECTION: the centroid list rides along as one `typedLit`, every
    * centroid is scored inside a single `transform`, and `array_max` over
    * `struct(cosine, id)` picks the winner (ties → larger id — total and
    * deterministic). No join, no shuffle: assigning a 100 TB corpus to k
    * clusters is a map-only stage.
    *
    * Resolved against an EXPLICIT session's function registry: the
    * active session can, in a multi-session app, differ from the one
    * that will analyze the returned Column, so callers pass the target
    * DataFrame's `sparkSession`.
    */
  def assignCluster(session: Option[org.apache.spark.sql.SparkSession],
      emb: Column, centroids: Seq[Seq[Double]]): Column = {
    require(centroids.nonEmpty, "assignCluster: need at least one centroid")
    // native fused argmax (plans/ArgmaxCosine): the HOF form below —
    // array_max(transform(centsLit, struct(cosine, idx))) — allocated
    // k structs + an array PER ROW, which dominated every Lloyd
    // iteration at k ≈ 100 (q94 sf1 profile). Semantics are pinned
    // equivalent case-by-case by VectorExpressionsSpec. Sessions built
    // without GraftExtensions (an external consumer's own
    // SparkSession) keep working: fall back to the pure-Column HOF
    // form — the pre-round-12 implementation — when the native
    // function is not registered, instead of failing analysis.
    val nativeAvailable =
      session.exists(graft.plans.GraftExtensions.hasFunction(_, "graft_argmax_cos"))
    if (nativeAvailable)
      call_function("graft_argmax_cos", emb, typedLit(centroids))
    else {
      // pure-Column throughout: VectorFunctions.cosine is the HOF
      // cosine (bit-identical to the native expression by spec), so
      // this branch resolves in ANY session, registry or not
      val scored = transform(typedLit(centroids), (c, ci) =>
        struct(VectorFunctions.cosine(emb, c).as("cd"), ci.as("cid")))
      array_max(scored).getField("cid")
    }
  }

  /** Spherical k-means (Lloyd's algorithm, cosine distance): returns the
    * k unit-length centroids. Deterministic seeding in ONE pass: the 4k
    * training-sample vectors with the smallest `xxhash64(id)` form a
    * candidate pool (an order-statistics pick over the bounded sample —
    * a TakeOrdered of 4k narrow rows, not a corpus sort — so reruns
    * converge to the same model), and greedy FARTHEST-POINT selection
    * over the pool (max-min cosine distance, ties to the lower pool
    * index) picks the k seeds — k-means++-quality spread without
    * k-means++'s k sequential corpus passes. Driver cost is
    * O(k²·4·dim) flops on a 4k×dim pool; keep k in the thousands, not
    * millions (at which point use a hierarchical/sampled scheme).
    *
    * Scale shape per iteration: assignment is the [[assignCluster]]
    * map-only projection; the update is ONE aggregation whose buffer is a
    * fixed dim-length array ([[graft.functions.Aggregators.VectorSum]]),
    * partial-aggregated map-side, so each round shuffles k buffers per
    * partition and collects exactly k (sum, count) rows to the driver —
    * centroid maintenance is O(k·dim) driver state, never corpus-sized.
    *
    * Training is BOUNDED: Lloyd iterates over a deterministic uniform
    * hash sample of ~[[KmeansMaxTrainRows]] vectors ([[trainingSample]] — a
    * MAP-ONLY `xxhash64(id) < cutoff` filter, never a sort of the
    * embedding stream; a corpus at or under the bound trains on
    * everything). This is what makes the operator honest at 100 TB —
    * the full corpus is scanned once to count, once to take the sample,
    * and once per DOWNSTREAM final assignment, not maxIter times, and
    * the cached training set is sample-sized, not corpus-sized.
    *
    * Determinism caveat: double-summation order across partitions is not
    * fixed, so centroid bits can wobble ~1 ulp between runs; argmax
    * assignments are stable unless a vector's top-2 centroid gap is
    * comparably tiny. Exact-duplicate (scalar-multiple) vectors have
    * IDENTICAL cosine profiles and therefore always co-assign.
    */
  /** Deterministic ~`maxTrainRows`-row uniform sample of the non-null
    * embeddings, as `(__h = xxhash64(id), __e = l2-normalized vector)`.
    *
    * Scale shape: selecting "the maxTrainRows smallest-hash rows" via
    * `ORDER BY __h LIMIT n` plans as a global sort (or a TakeOrdered
    * whose driver merge funnels partitions × n wide embedding rows) —
    * at 10^9 × 1 KB vectors that single stage shuffles a terabyte just
    * to pick a sample. Instead: ONE narrow count job fixes the corpus
    * size n, a proportional hash cutoff is derived on the driver, and
    * the sample is the MAP-ONLY filter `__h < cutoff`. No embedding
    * ever enters a sort or exchange.
    *
    * Membership is a pure per-row predicate against a cutoff that is a
    * deterministic function of n alone, so the SAME rows are selected
    * under any partitioning or row order (pinned by SimilaritySpec).
    * The kept count is Binomial(n, maxTrainRows/n) — maxTrainRows ±
    * ~√maxTrainRows — not an exact order statistic; k-means is
    * insensitive to the exact sample size, and what matters is that the
    * sample is uniform, bounded, and cheap. Corpora at or under the
    * bound are returned whole.
    */
  private[graft] def trainingSample(
      df: DataFrame,
      idCol: String,
      embCol: String,
      maxTrainRows: Int): DataFrame = {
    val present = df.where(col(embCol).isNotNull && size(col(embCol)) > 0)
    val withHash = present.select(xxhash64(col(idCol)).as("__h"),
      VectorFunctions.l2Normalize(col(embCol)).as("__e"))
    // NOT spread to the session parallelism (unlike VectorIndex
    // .cellsFor, r15): an A/B measured the spread making training
    // SLOWER (6.2 → 9.2 s at 20k×312) — per-iteration cost here is
    // DRIVER-side planning/codegen of the fresh centroid-literal
    // assignment expression plus per-job overheads, not executor
    // compute (the fused argmax assignment is tiny), so
    // extra tasks + a shuffle only add overhead.
    // narrow job: counting `present` needs the null/size predicate but
    // none of the hash/normalize projection work
    val n = present.count()
    if (n <= maxTrainRows) withHash
    else {
      val frac = maxTrainRows.toDouble / n
      // cutoff = Long.MinValue + frac * 2^64 in unsigned arithmetic;
      // piecewise because a double span in [2^63, 2^64) saturates toLong
      val span = frac * 1.8446744073709552e19
      val cutoff =
        if (span >= 9.223372036854776e18) (span - 9.223372036854776e18).toLong
        else Long.MinValue + span.toLong
      withHash.where(col("__h") < lit(cutoff))
    }
  }

  def kmeansCentroids(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      maxIter: Int = 8): Array[Array[Double]] =
    kmeansCentroids(df, idCol, embCol, k, maxIter, KmeansMaxTrainRows)

  /** [[kmeansCentroids]] with the full-corpus/sample fork explicit. */
  private[graft] def kmeansCentroids(df: DataFrame, idCol: String, embCol: String, k: Int,
      maxIter: Int, maxTrainRows: Int): Array[Array[Double]] = {
    require(k > 0, "k must be positive")
    require(maxTrainRows >= k, "maxTrainRows must be at least k")
    val spark = df.sparkSession
    import spark.implicits._
    // null and empty-array embeddings are excluded from TRAINING (a null
    // cluster id would poison the typed update agg; an empty array at
    // pool.head would set dim = 0). Callers that also ASSIGN such rows
    // must null their cluster out themselves — see semanticDeduplicate,
    // which maps them to a null cluster so the pair equi-join drops them
    val normed = trainingSample(df, idCol, embCol, maxTrainRows).persist()
    try {
      val pool = normed.orderBy(col("__h")).limit(k * 4)
        .select(col("__e")).as[Seq[Double]].collect().map(_.toArray)
      require(pool.nonEmpty, "kmeansCentroids: empty input")
      val dim = pool.head.length
      val sumAgg = udaf(graft.functions.Aggregators.VectorSum(dim))
      // seeds from the smallest-hash vector by (1 - cosine); a corpus
      // smaller than k pads with duplicate centroids whose clusters stay empty
      var cents = farthestPointSeeds(pool, k,
        (a, b) => 1.0 - a.zip(b).map { case (x, y) => x * y }.sum)
      var iter = 0
      var shift = Double.MaxValue
      while (iter < maxIter && shift > KmeansTol) {
        val stats = normed
          .select(assignCluster(Some(spark), col("__e"),
            cents.map(_.toSeq).toSeq).as("__c"), col("__e"))
          .groupBy(col("__c"))
          .agg(sumAgg(col("__e")).as("__s"), count(lit(1)).as("__n"))
          .as[(Int, Seq[Double], Long)].collect()
        val next = cents.map(_.clone())
        stats.foreach { case (c, s, n) =>
          if (n > 0) {
            val m = s.map(_ / n).toArray
            val norm = math.sqrt(m.map(x => x * x).sum)
            // degenerate mean (sum ~ 0): keep the old centroid
            if (norm > 1e-12) next(c) = m.map(_ / norm)
          }
        } // clusters with no assigned rows keep their previous centroid
        shift = cents.zip(next).map { case (a, b) =>
          math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
        }.max
        cents = next
        iter += 1
      }
      cents
    } finally normed.unpersist()
  }

  /** Product-quantization codebooks: `m` per-subspace L2 k-means models
    * of `ncodes` codewords each, trained on a bounded hash-deterministic
    * sample of the corpus's L2-NORMALIZED embeddings (normalization
    * first makes inner product = cosine, so the dot-product scoring in
    * [[graft.plans.PqCosine]] ranks by cosine; it also strips magnitude
    * variance the codebooks would otherwise waste codes on — the
    * standard IVF-PQ-for-cosine recipe). Returned as `cbs(s)(c)(d)`,
    * the shape [[graft.plans.PqCodebooks.flatten]] validates.
    *
    * `residualOf` (the IVFPQ mode [[VectorIndex]] uses): when given
    * the frozen coarse centroids, training runs on RESIDUALS
    * `x̂ − centroid(x̂)` — assignment applies the index's cell-selection
    * RULE (max cosine, ties → lower id) in local arithmetic, which can
    * differ from the codegen kernel path by floating-point association
    * order on boundary-tied samples; that perturbs only which residual
    * a near-tied TRAINING vector contributes, never index assignment,
    * probe parity, or determinism (this loop is itself deterministic).
    * The codes then describe intra-cell structure instead of
    * re-covering the sphere.
    * Measured on the clustered fixture this is the difference between
    * recall@10 ≈ 0.3 and the production numbers in BASELINE.md's r15
    * PQ table. Null → raw-vector training (standalone PQ compression).
    *
    * Training is DRIVER-side by design, like the xlsx writer and the
    * BPE merge loop: the training set is bounded ([[PqTrainRows]],
    * 16k — Faiss trains PQ on samples of this order at any
    * corpus size), each subspace's Lloyd loop is embarrassingly
    * independent (run on parallel Futures), and a distributed version
    * would pay m·[[PqMaxIter]] job overheads to move less work than one
    * shuffle. The model is m·ncodes·(dim/m) doubles = ncodes·dim —
    * identical to the IVF centroid table's footprint, broadcast-sized.
    *
    * Determinism: the sample is hash-cut and hash-ORDERED (same
    * contract as [[kmeansCentroids]]'s pool), seeds are greedy
    * farthest-point over a 4·ncodes pool, ties and empty clusters keep
    * previous state — a (corpus, m, ncodes) tuple always
    * yields bit-identical codebooks, so re-building an index never
    * silently re-codes postings differently.
    */
  def pqCodebooks(
      df: DataFrame,
      idCol: String,
      embCol: String,
      m: Int,
      residualOf: Array[Array[Double]] = null): Array[Array[Array[Double]]] =
    pqCodebooks(df, idCol, embCol, m, PqCodes, residualOf)

  /** [[pqCodebooks]] with the codes per subspace explicit. */
  private[graft] def pqCodebooks(df: DataFrame, idCol: String, embCol: String, m: Int,
      ncodes: Int, residualOf: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    require(m > 0, "m must be positive")
    require(ncodes > 0 && ncodes <= Short.MaxValue, "ncodes must fit short codes")
    val spark = df.sparkSession
    import spark.implicits._
    val normedSample = trainingSample(df, idCol, embCol, PqTrainRows)
      .orderBy(col("__h")).select(col("__e")).as[Seq[Double]]
      .collect().map(_.toArray)
    require(normedSample.nonEmpty, "pqCodebooks: empty input")
    val dim = normedSample.head.length
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m $m")
    require(normedSample.forall(_.length == dim),
      "pqCodebooks: embeddings disagree on dimension")
    // residual mode (the IVFPQ contract): train on x̂ − centroid(x̂),
    // assignment applying the index's cell-selection RULE (max cosine,
    // ties → lower id) in local arithmetic — see the scaladoc for the
    // float-association caveat on boundary-tied samples — so codes
    // spend their 8 bits on intra-cell structure instead of
    // re-describing the sphere the coarse centroids already locate.
    // Raw-vector training (residualOf null) remains for standalone PQ
    // compression outside an IVF index.
    val sample =
      if (residualOf == null) normedSample
      else {
        require(residualOf.forall(_.length == dim),
          "pqCodebooks: centroid dim mismatch")
        val cnorm = residualOf.map(c => math.sqrt(c.map(x => x * x).sum))
        normedSample.map { x =>
          var best = 0; var bestCos = Double.NegativeInfinity
          var c = 0
          while (c < residualOf.length) {
            var dot = 0.0; var i = 0
            while (i < dim) { dot += x(i) * residualOf(c)(i); i += 1 }
            // sample vectors are unit (trainingSample normalizes); guard
            // the centroid norm like cosineNative (zero norm → 0.0)
            val cos = if (cnorm(c) > 0) dot / cnorm(c) else 0.0
            if (cos > bestCos) { best = c; bestCos = cos }
            c += 1
          }
          x.zip(residualOf(best)).map { case (a, b) => a - b }
        }
      }
    val subdim = dim / m
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val futures = (0 until m).map { sIdx =>
      Future {
        val pts = sample.map(_.slice(sIdx * subdim, (sIdx + 1) * subdim))
        // seeds over a bounded hash-ordered pool; tiny corpora pad with
        // duplicate codewords, which never win a strict-< argmin over
        // their lower twin — encode stays stable
        val pool = pts.take(math.min(pts.length, ncodes * 4))
        val cents = farthestPointSeeds(pool, ncodes, sq).map(_.clone())
        var iter = 0
        val assign = new Array[Int](pts.length)
        while (iter < PqMaxIter) {
          var i = 0
          while (i < pts.length) {
            var best = 0; var bd = sq(pts(i), cents(0)); var c = 1
            while (c < ncodes) {
              val d = sq(pts(i), cents(c))
              if (d < bd) { best = c; bd = d }
              c += 1
            }
            assign(i) = best
            i += 1
          }
          val sums = Array.fill(ncodes)(new Array[Double](subdim))
          val counts = new Array[Int](ncodes)
          i = 0
          while (i < pts.length) {
            val c = assign(i); counts(c) += 1
            var d = 0
            while (d < subdim) { sums(c)(d) += pts(i)(d); d += 1 }
            i += 1
          }
          var c = 0
          while (c < ncodes) {
            // empty clusters keep their previous codeword
            if (counts(c) > 0) cents(c) = sums(c).map(_ / counts(c))
            c += 1
          }
          iter += 1
        }
        cents
      }
    }
    futures.map(Await.result(_, Duration.Inf)).toArray
  }

  /** Greedy farthest-point seeding, shared by [[kmeansCentroids]] and
    * [[pqCodebooks]]: start from `pool.head`, repeatedly add the candidate
    * maximizing its minimum `dist` to the chosen set; a pool smaller than
    * `k` is padded by cycling the chosen seeds.
    */
  private def farthestPointSeeds(pool: Array[Array[Double]], k: Int,
      dist: (Array[Double], Array[Double]) => Double): Array[Array[Double]] = {
    val chosen = scala.collection.mutable.ArrayBuffer(pool.head)
    val minDist = pool.map(dist(_, pool.head))
    while (chosen.size < math.min(k, pool.length)) {
      var best = 0; var i = 1
      while (i < pool.length) { if (minDist(i) > minDist(best)) best = i; i += 1 }
      val next = pool(best)
      chosen += next
      i = 0
      while (i < pool.length) {
        val d = dist(pool(i), next)
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
    }
    val nDistinct = chosen.size
    while (chosen.size < k) chosen += chosen(chosen.size % nDistinct)
    chosen.toArray
  }

  /** Exact set-CONTAINMENT join: every (probe, corpus) pair with
    * `|T(probe) ∩ T(corpus)| / |T(probe)| >= threshold` — the
    * asymmetric companion to [[jaccardSimilarityJoin]], for the cases
    * jaccard structurally misses: a short quote inside a long article,
    * a benchmark item embedded in a crawl page, a boilerplate block
    * subsumed by every page that carries it (a 10-token snippet inside
    * a 5000-token page has jaccard ≈ 0.002 but containment 1.0).
    *
    * Scale shape, AllPairs-style: probes keep only a PREFIX of their
    * tokens — by pigeonhole, a pair clearing the threshold must share
    * a token within the probe's first `n - ceil(t·n) + 1` tokens under
    * ANY fixed global order — while the corpus side is fully indexed
    * (containment gives no lower bound relative to |corpus doc|, so no
    * corpus prefix exists; the index is the exploded token stream, an
    * equi-join, never an all-pairs). The global order is ascending
    * corpus document-frequency, so prefixes hold the rarest tokens and
    * candidate fan-out stays bounded; probe tokens ABSENT from the
    * corpus vocabulary rank rarest of all (df 0) — they fill the
    * prefix first and match nothing, pruning unsatisfiable probes for
    * free. Candidates then verify exactly (array_intersect), recall
    * 1.0 by construction. Probes with an empty token set are dropped
    * (containment is undefined). Like the jaccard join, near-1
    * thresholds keep prefixes at 1–2 rare tokens; LOW thresholds admit
    * common tokens into prefixes and grow candidates — below ~0.5
    * prefer the MinHash path.
    *
    * Sizing contract, same as the decontamination family: PROBES are
    * the broadcast-able side (a benchmark, a quote list, a boilerplate
    * set — thousands to low millions), the CORPUS is the unbounded
    * side. Probe prefixes and token sets broadcast, so the corpus-
    * token-sized index explode and the verify join never shuffle the
    * corpus. Corpus-vs-corpus containment is a different (quadratic)
    * problem — use [[jaccardSimilarityJoin]] / MinHash banding there.
    */
  def containmentJoin(probes: DataFrame, probeIdCol: String, probeTextCol: String,
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    // eager snapshots, same discipline (and same measured
    // checkpoint-over-persist choice) as jaccardSimilarityJoin: each
    // side feeds the rank/index subtree AND the verify subtree
    val pa = probes.select(col(probeIdCol).as("probe_id"),
      array_distinct(graft.functions.TextFunctions.tokens(col(probeTextCol))).as("__pa"))
      .filter(size(col("__pa")) > 0)
      // duplicate probe ROWS collapse (concatenated benchmark lists
      // re-list items): without this, the prefix aggregation would
      // collect each token twice and the slice would cover only HALF
      // the distinct prefix tokens — a silent recall hole in an exact
      // operator (r14 review). Same probe id with DIFFERENT text
      // remains a caller error (the id must identify one text).
      .distinct()
      .localCheckpoint(true)
    val cb = corpus.select(col(corpusIdCol).as("corpus_id"),
      array_distinct(graft.functions.TextFunctions.tokens(col(corpusTextCol))).as("__cb"))
      .localCheckpoint(true)
    val rank = cb.select(explode(col("__cb")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val prefixes = pa
      .select(col("probe_id"), size(col("__pa")).as("n"), explode(col("__pa")).as("tok"))
      .join(rank, Seq("tok"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy(col("probe_id"), col("n"))
      // epsilon before ceil — see jaccardSimilarityJoin: one ulp of
      // n·t overshoot must not shorten the prefix of an exact operator
      .agg(slice(array_sort(collect_list(struct(col("df"), col("tok")))),
        lit(1), (col("n") -
          graft.functions.Guards.guardedCeil(col("n") * threshold) + 1)
          .cast("int")).as("pre"))
      .select(col("probe_id"), explode(col("pre.tok")).as("tok"))
    val index = cb.select(col("corpus_id"), explode(col("__cb")).as("tok"))
    // probe prefixes are tiny (≤ prefix-len rows per probe) next to the
    // corpus-token-sized index: broadcast them so the index streams
    // map-side and the 1-token-per-row explosion never shuffles
    val cands = broadcast(prefixes).join(index, "tok")
      .select(col("probe_id"), col("corpus_id")).distinct()
      // feeds the semi-filter AND the pair join below — without the
      // snapshot the prefix/index subtree would run twice
      .localCheckpoint(true)
    // candidate-doc semi-filter before the verify, the SAME shape as
    // containmentJoinIndexed (r20, guide §2.3 "shuffle keys instead of
    // payloads"): the planner otherwise moves the ENTIRE corpus
    // token-array table into the pair join — broadcast when the stats
    // look small (the r20 sf0.01 plan dump shows cb as the build side
    // of the verify BroadcastHashJoin: a corpus-sized hash relation
    // built per query), shuffled at real scale. Joining the broadcast
    // candidate-id set first streams the corpus map-side and hands the
    // pair join only the candidate-sized matched arrays. No distinct
    // on `matched` — the one-shot corpus has one row per doc by
    // contract, so output multiplicity is bit-unchanged.
    val matched = cb.join(
        broadcast(cands.select(col("corpus_id")).distinct()), "corpus_id")
      .select(col("corpus_id"), col("__cb"))
    cands.join(broadcast(pa), "probe_id").join(matched, "corpus_id")
      .withColumn("containment",
        size(array_intersect(col("__pa"), col("__cb"))).cast("double") /
          size(col("__pa")))
      .filter(col("containment") >= threshold)
      .select(col("probe_id"), col("corpus_id"), col("containment"))
  }

  /** EXACT set-similarity self-join (prefix filtering — the AllPairs /
    * PPJoin family): all pairs of documents whose token-SET Jaccard is
    * ≥ `threshold`, with no probabilistic misses — the exact counterpart
    * of the MinHash-LSH path ([[Dedup.minHashNearDuplicates]]), for when
    * recall must be 1.0 (legal/contractual dedup, eval-set policing).
    *
    * The algorithm's exactness argument: order every doc's tokens by
    * ascending global document frequency (rarest first; ties
    * lexicographic) and keep only the first `n − ceil(t·n) + 1` as its
    * PREFIX. Two sets with Jaccard ≥ t must share ≥ ceil(t·n) tokens,
    * so by pigeonhole they share at least one PREFIX token — the prefix
    * equi-join therefore misses nothing, and the exact
    * `array_intersect / array_union` verify on candidates removes all
    * false positives.
    *
    * Scale shape: the candidate join is an equi-join on single (rare!)
    * prefix tokens — frequency-ascending ordering is what keeps 'the'
    * out of every prefix, so candidate fan-out tracks rare-token df², not
    * corpus df². Rank assignment is one exchange on tok; the verify joins
    * full token arrays back by id (two hash joins). No all-pairs stage
    * exists anywhere.
    */
  def jaccardSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    // eager snapshot: `sets` feeds FIVE downstream subtrees (rank, both
    // prefix self-join sides, both verify sides) and AQE does not reuse
    // diverging aggregate subplans — without this the corpus would be
    // re-scanned and re-tokenized up to 6 times (same discipline as
    // Bpe.learnMerges). localCheckpoint over persist() is a MEASURED
    // choice: the columnar cache encode of array<string> costs 4-7x the
    // cpu of the checkpoint's binary-row snapshot (q88: 2.1 -> 9-14
    // cpu-s). Lifetime: the checkpointed blocks back the RETURNED plan,
    // so they cannot be released here; they are reclaimed by the
    // ContextCleaner when the caller drops the result (bounded at two
    // snapshots per in-flight call, visible as RDD storage in the UI)
    val sets = docs.select(col(idCol),
      array_distinct(graft.functions.TextFunctions.tokens(col(textCol))).as("__toks"))
      .localCheckpoint(true)
    // global token order: df ascending, lexicographic tiebreak. The
    // (df, tok) struct IS the order key — any order-preserving key works
    // for prefix selection, so no global row_number (which would be a
    // single-partition window over the vocabulary) is ever needed.
    val rank = sets.select(explode(col("__toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // per-doc tokens sorted by rarity → prefix of length n - ceil(t*n) + 1
    val prefixes = sets
      .select(col(idCol), size(col("__toks")).as("n"), explode(col("__toks")).as("tok"))
      .join(rank, "tok")
      .groupBy(col(idCol), col("n"))
      // guarded ceil (graft.functions.Guards): n·t overshoot would
      // shorten the prefix by one token — a silent recall hole in an
      // operator sold as exact (100·0.55 = 55.000000000000007; a
      // fixed-guard variant loses a token on 10M-token docs at
      // 0.07-class thresholds). Oversizing the guard is SAFE on this
      // side: it can only lengthen the prefix by one rare token
      // (extra candidates, never a miss).
      .agg(slice(array_sort(collect_list(struct(col("df"), col("tok")))),
        lit(1), (col("n") -
          graft.functions.Guards.guardedCeil(col("n") * threshold) + 1)
          .cast("int")).as("pre"))
      .select(col(idCol), explode(col("pre.tok")).as("tok"))
      .localCheckpoint(true) // self-joined next: one aggregation, not two
    val cands = prefixes.as("l")
      .join(prefixes.as("r"), col("l.tok") === col("r.tok") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
    // exact verify on candidates only
    val a = sets.select(col(idCol).as("id_a"), col("__toks").as("__ta"))
    val b = sets.select(col(idCol).as("id_b"), col("__toks").as("__tb"))
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("__ta"), col("__tb"))).cast("double") /
          size(array_union(col("__ta"), col("__tb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}

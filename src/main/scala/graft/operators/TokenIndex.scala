package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.sources.ParquetRead

/** Persisted corpus-token index for REPEATED-probe containment search
  * and decontamination (VERDICT r13 item 4).
  *
  * [[Similarity.containmentJoin]] is the one-shot operator: every call
  * re-tokenizes the corpus, re-aggregates the document-frequency rank,
  * and re-explodes the token index. For a single ad-hoc probe batch
  * that is the right plan — but the production cadence is the OPPOSITE
  * shape: the corpus grows by a nightly delta while benchmark/quote
  * probe sets arrive repeatedly, and re-paying the full corpus scan per
  * probe batch is the dominant cost (the r13 sf10 probe put it at
  * ~64 ms/probe of corpus-side work). This is the signature-state
  * pattern ([[Dedup.minHashNearDuplicatesVsState]] + `compactSignatureStateKeys`)
  * applied to the token index: write per-ingest deltas once, probe
  * incrementally forever, compact at the retention horizon.
  *
  * On-disk layout under `indexDir` (plain parquet, appended per run):
  *  - `postings/`: `(tok, corpus_id, run_id)` — each corpus document's
  *    DISTINCT token set, exploded. Candidate generation only: a
  *    column-pruned 2-column scan equi-joined against the broadcast
  *    probe prefixes.
  *  - `arrays/`: `(corpus_id, toks, run_id)` — the same token set,
  *    PACKED. The exact verify intersects these arrays, one row per
  *    document, exactly like the one-shot operator. (A first cut
  *    verified from the exploded postings instead — counting distinct
  *    matching rows per pair — and measured 6× slower at sf1: the
  *    verify then streams ~21 narrow rows per document through two
  *    joins plus a count-distinct exchange, where the packed-array
  *    intersect touches one cache-friendly row per candidate.)
  *  - `df/`: `(tok, df, run_id)` — the batch's per-token document
  *    frequency. Merged df orders the global prefix heuristic only;
  *    see the staleness note below.
  *
  * Redelivery safety (at-least-once appends, the streaming contract
  * every state family here honors): a retried batch re-appends
  * IDENTICAL rows (tokenization is deterministic). Candidate selection
  * `distinct()`s pairs, duplicate array rows collapse in the
  * MATCHED-arrays `distinct()` (candidate-sized — the corpus is never
  * shuffled to dedup, and output multiplicity matches the one-shot
  * operator), and [[dfTable]] dedups per `(run_id, tok)` with `max`
  * before summing — so duplicated rows change NOTHING in the result.
  * Stronger still: a whole document re-ingested verbatim under a NEW
  * run id also collapses (same corpus_id, same token set ⇒ same
  * output row) — only df drifts, which is a performance knob (see
  * below), never recall. Re-ingesting a corpus_id with DIFFERENT text
  * violates the append-only contract (both versions would answer).
  *
  * Df staleness is SAFE: the pigeonhole prefix argument needs only
  * SOME fixed total order over the probe's own tokens (the corpus side
  * is fully indexed, never prefixed), so a df snapshot that lags the
  * corpus — or double-counts a re-ingested document — can only make
  * prefixes pick slightly-less-rare tokens (more candidates, identical
  * output). Recall is 1.0 by construction in every case.
  *
  * Compaction (same quiesced single-writer window as
  * [[graft.sources.Compaction]], run at the retention horizon after
  * in-flight retries settle): postings fold to the distinct
  * `(tok, corpus_id)` set, df folds to one summed row per token, both
  * tagged with the horizon run id — lossless for every future read.
  */
object TokenIndex {

  private def postingsDir(indexDir: String) = s"$indexDir/postings"
  private def arraysDir(indexDir: String) = s"$indexDir/arrays"
  private def dfDir(indexDir: String) = s"$indexDir/df"
  private def statsDir(indexDir: String) = s"$indexDir/stats"

  /** Takedown contract: mark corpus ids deleted in the tombstone ledger
    * [[IndexStore]] keeps for both indexes (horizon: the max run id of
    * the current postings). Probes
    * ([[containmentJoinIndexed]], [[bm25Indexed]])
    * mask the ledger immediately — a taken-down document can never
    * again be a containment hit or a retrieval result — and the next
    * [[compact]] physically drops its postings/arrays rows, RE-DERIVES
    * df and the BM25 (N, avgdl) stats from the survivors, then retires
    * the ledger. Delete-then-[[append]]-under-a-higher-run is the
    * UPSERT path for a CHANGED document; its one residual staleness is
    * BM25's collection stats — (N, sum_dl) count both ingests of an
    * upserted doc until [[compact]] re-derives them (the same
    * documented class as a verbatim re-ingest under a new run id).
    *
    * Redelivery is free: each call appends distinct-id rows and every
    * ledger consumer is multiplicity-blind, so a re-run takedown batch
    * is a no-op by construction, with no run-id bookkeeping. One
    * caveat, since the ledger is horizon-aware: a DERIVED horizon is
    * exact for a pure takedown feed, but if the same corpus also takes
    * upsert appends, a crash-replayed delete could re-derive a horizon
    * above an interleaved re-append. Sequence upserts through
    * [[IndexStore.upsert]] (explicit horizon `runId - 1`, then append)
    * instead of racing a takedown stream against them.
    */
  def delete(ids: DataFrame, idCol: String, indexDir: String): Unit =
    graft.sources.Lease.withLease(ids.sparkSession, indexDir) {
      IndexStore.appendTombstones(ids, idCol, "corpus_id", indexDir,
        postingsDir(indexDir), IndexStore.DeriveAsof)
    }

  /** Internal posting columns [[append]]'s `metaCols` may not shadow. */
  private[graft] val ReservedPostingCols: Set[String] =
    Set("tok", "corpus_id", "tf", "dl", "run_id")

  /** Index one corpus ingest batch: append its postings and df delta
    * under `runId`. Contract: append-only corpus, one batch per run id
    * (retries of the SAME batch under the same run id are absorbed —
    * see the redelivery note above). Null-text documents contribute no
    * postings (they have no token set, matching
    * [[Similarity.containmentJoin]]'s tokenizer on the corpus side).
    *
    * A retried run re-tokenizes the SAME batch and appends
    * bit-identical rows under the same run id, which every read path
    * absorbs (per-(run, tok) max df, distinct-intersect verify) and
    * [[compact]] later folds away. A crash BETWEEN this call's four
    * table writes is healed the same way: the re-run gives the partial
    * tables their missing rows and the duplicated ones collapse on
    * read. `metaCols` must match the index's: a filtered probe reads
    * the columns every append stored.
    */
  def append(corpusBatch: DataFrame, idCol: String, textCol: String,
      indexDir: String, runId: Long, metaCols: Seq[String] = Nil): Unit =
      graft.sources.Lease.withLease(corpusBatch.sparkSession, indexDir) {
    // metadata-in-postings (the token sibling of VectorIndex's
    // metaCols, round 18): scalar metadata columns denormalize into
    // every POSTING row so a filtered probe's predicate reaches the
    // parquet scan as PushedFilters. The denormalization here costs
    // more than the vector side's (one row per (doc, term), not per
    // doc) — that is the price of scan-level pushdown; callers with
    // wide metadata or huge vocabularies filter by an id set instead
    // (`col("corpus_id").isin(ids)`).
    IndexStore.requireMetaSet(corpusBatch, metaCols, postingsDir(indexDir),
      ReservedPostingCols)
    // one snapshot feeds all four writes: arrays land first, postings /
    // df / stats derive from the same materialized frame (never a
    // second tokenize pass over the corpus). Only docs with a non-empty
    // token set are indexed: a token-less doc can never match a
    // containment probe or contribute a BM25 posting (boundary vs the
    // one-shot operators: it also leaves the BM25 (N, avgdl) stats,
    // where Retrieval.bm25 would count it — callers treating empty
    // docs as corpus members should filter them symmetrically).
    val toked = corpusBatch
      .select(col(idCol).as("corpus_id") +: TF.tokens(col(textCol)).as("__raw") +:
        metaCols.map(col): _*)
      .filter(size(col("__raw")) > 0)
      .localCheckpoint(true) // the ONE tokenize pass; feeds all four writes
    // arrays land strictly BEFORE postings — a lock-free probe racing
    // this append then sees a candidate's array whenever it sees its
    // postings
    toked.select(col("corpus_id"), array_distinct(col("__raw")).as("toks"),
        lit(runId).as("run_id"))
      .write.mode("append").parquet(arraysDir(indexDir))
    // postings carry per-doc term frequency and (denormalized) doc
    // length, so BM25 probes need NO join back to the corpus at all
    val postsTf = toked
      .select(col("corpus_id") +: size(col("__raw")).cast("long").as("dl") +:
        explode(col("__raw")).as("tok") +: metaCols.map(col): _*)
      .groupBy(col("corpus_id"), col("tok"))
      // dl and metadata are constant per doc, first() is exact
      .agg(count(lit(1)).as("tf"),
        first(col("dl")).as("dl") +: metaCols.map(m => first(col(m)).as(m)): _*)
      .localCheckpoint(true) // feeds postings AND df
    postsTf.select(Seq(col("tok"), col("corpus_id"), col("tf"), col("dl"),
        lit(runId).as("run_id")) ++ metaCols.map(col): _*)
      .write.mode("append").parquet(postingsDir(indexDir))
    postsTf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .select(col("tok"), col("df"), lit(runId).as("run_id"))
      .write.mode("append").parquet(dfDir(indexDir))
    toked.agg(count(lit(1)).as("n_docs"),
        sum(size(col("__raw")).cast("long")).as("sum_dl"))
      .select(col("n_docs"), col("sum_dl"), lit(runId).as("run_id"))
      .write.mode("append").parquet(statsDir(indexDir))
  }

  /** Merged `(tok, df)` across all runs: per-(run, tok) max absorbs
    * redelivered rows, then runs sum (disjoint append-only batches).
    * Vocabulary-sized — orders of magnitude under the postings. */
  def dfTable(spark: SparkSession, indexDir: String): DataFrame =
    ParquetRead(spark, dfDir(indexDir))
      .groupBy(col("tok"), col("run_id")).agg(max(col("df")).as("df"))
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))

  /** [[Similarity.containmentJoin]] against the PERSISTED index:
    * identical output — every (probe, corpus) pair with
    * `|T(probe) ∩ T(corpus)| / |T(probe)| >= threshold` — with zero
    * corpus-side work beyond streaming the postings. Decontamination
    * drops the pair set's distinct `corpus_id`s from the training mix,
    * so a nightly benchmark sweep re-pays only the postings scan.
    *
    * Plan shape: probe prefixes (rarest tokens under the merged-df
    * order, df-0 for tokens the corpus has never seen — unsatisfiable
    * probes prune for free) BROADCAST against the column-pruned
    * postings scan for candidates; the verify semi-filters the PACKED
    * arrays scan by the broadcast candidate doc-id set (map-side — the
    * corpus-sized scan never shuffles), then equi-joins only the
    * matched, candidate-sized arrays to the pairs and intersects —
    * exactly the one-shot verify but reading pre-tokenized arrays off
    * disk instead of re-tokenizing the corpus. The only exchanges are
    * the prefix aggregation (probe-sized) and the candidate distinct /
    * matched-arrays dedup / pair join (all candidate-sized), same
    * sizing contract as the one-shot operator (probes are the bounded
    * side).
    * (A broadcast of the full candidate PAIR set was also measured —
    * collecting ~600k pairs through the driver per call cost more than
    * the avoided shuffle; the doc-id semi-filter broadcast is the
    * small, load-bearing one.)
    */
  def containmentJoinIndexed(spark: SparkSession, probes: DataFrame,
      probeIdCol: String, probeTextCol: String, indexDir: String,
      threshold: Double): DataFrame =
    containmentImpl(spark, probes, probeIdCol, probeTextCol, indexDir,
      threshold, metaPredicate = None)

  /** [[containmentJoinIndexed]] restricted to corpus documents whose
    * STORED metadata ([[append]]'s `metaCols`) satisfies `predicate` —
    * "decontaminate only the `lang = 'en'` slice". Unlike the top-k /
    * BM25 filtered forms, filtering containment IS semantically
    * equivalent to post-filtering the pair set (pairs are independent;
    * no doc competes with another) — what this buys is the SCAN: the
    * predicate lands in the postings parquet scan as `PushedFilters`,
    * so disallowed docs never become candidates and never pull their
    * token arrays. Exactness is unchanged: the prefix bound is sound
    * for ANY corpus subset (a qualifying pair always shares a prefix
    * token whatever other docs exist; the GLOBAL df ordering only
    * shapes efficiency), spec-pinned against the post-filtered
    * one-shot operator.
    */
  private[graft] def containmentJoinIndexedFiltered(spark: SparkSession, probes: DataFrame,
      probeIdCol: String, probeTextCol: String, indexDir: String,
      threshold: Double,
      predicate: org.apache.spark.sql.Column): DataFrame =
    containmentImpl(spark, probes, probeIdCol, probeTextCol, indexDir,
      threshold, metaPredicate = Some(predicate))

  private def containmentImpl(spark: SparkSession, probes: DataFrame,
      probeIdCol: String, probeTextCol: String, indexDir: String,
      threshold: Double,
      metaPredicate: Option[org.apache.spark.sql.Column]): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    val pa = probes.select(col(probeIdCol).as("probe_id"),
        array_distinct(TF.tokens(col(probeTextCol))).as("__pa"))
      .filter(size(col("__pa")) > 0)
      // duplicate probe rows collapse — same reasoning (and same
      // resulting multiplicity) as the one-shot operator: without it
      // the prefix aggregation double-collects tokens and silently
      // halves prefix coverage (r14 review)
      .distinct()
      .localCheckpoint(true) // feeds prefix selection AND the verify
    val prefixes = pa
      .select(col("probe_id"), size(col("__pa")).as("n"),
        explode(col("__pa")).as("tok"))
      .join(dfTable(spark, indexDir), Seq("tok"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy(col("probe_id"), col("n"))
      // guarded ceil, same reasoning as the one-shot operator: an ulp
      // of n·t overshoot must never shorten an exact operator's prefix
      .agg(slice(array_sort(collect_list(struct(col("df"), col("tok")))),
        lit(1), (col("n") -
          graft.functions.Guards.guardedCeil(col("n") * threshold) + 1)
          .cast("int")).as("pre"))
      .select(col("probe_id"), explode(col("pre.tok")).as("tok"))
    // the metadata predicate applies ON the scan before the projection
    // drops its columns (PushedFilters); None folds through unchanged
    val pScan = ParquetRead(spark, postingsDir(indexDir))
    val postings = metaPredicate.fold(pScan)(mp => pScan.where(mp))
      .select(col("tok"), col("corpus_id"), col("run_id"))
    val tomb = IndexStore.tombstones(spark, indexDir, "corpus_id")
    // takedowns anti-join at the candidate (not postings) level: the
    // candidate set is already the bounded side, so the ledger filter
    // costs candidate-sized work and the postings scan is untouched.
    // run_id rides to here so the mask is horizon-aware (an upserted
    // doc's higher-run postings survive), then drops in the distinct
    val cands = IndexStore.dropMasked(broadcast(prefixes).join(postings, "tok"),
        tomb, "corpus_id")
      .select(col("probe_id"), col("corpus_id")).distinct()
      // feeds the semi-filter AND the pair join; without the snapshot
      // the prefix/postings subtree would run twice
      .localCheckpoint(true)
    val arrays = ParquetRead(spark, arraysDir(indexDir))
      .select(col("corpus_id"), col("toks"), col("run_id"))
    // candidate-doc semi-filter, broadcast so the corpus-sized arrays
    // scan never shuffles: only matched documents' arrays (candidate-
    // sized) enter the pair equi-join, and the ledger mask applies on
    // that candidate-sized subset too (an upserted doc's STALE token
    // array must not verify — only its live one). The distinct()
    // dedups duplicate ARRAY rows (retried appends, verbatim
    // re-ingests) on the matched subset — never via a corpus shuffle,
    // and never on the output (which would change pair multiplicity vs
    // the one-shot operator; r14 review)
    val matched = IndexStore.dropMasked(arrays.join(
        broadcast(cands.select(col("corpus_id")).distinct()), "corpus_id"),
        tomb, "corpus_id")
      .select(col("corpus_id"), col("toks"))
      .distinct()
    cands.join(broadcast(pa), "probe_id")
      .join(matched, "corpus_id")
      .withColumn("containment",
        size(array_intersect(col("__pa"), col("toks"))).cast("double") /
          size(col("__pa")))
      .filter(col("containment") >= threshold)
      .select(col("probe_id"), col("corpus_id"), col("containment"))
  }

  /** BM25 retrieval FROM the index — [[Retrieval.bm25]]'s exact scoring
    * (Robertson/Spärck Jones, Lucene's +1 idf smoothing) with ZERO
    * corpus work: the term filter pushes into the postings parquet scan
    * (`PushedFilters: In(tok, ...)`), so the only rows that ever leave
    * the scan are matched (doc, term, tf, dl) postings — for a handful
    * of query terms, orders of magnitude under the corpus. (N, avgdl)
    * read off the run-level stats table (sketch-sized); df re-aggregates
    * the matched postings, exactly the one-shot's construction. Returns
    * (corpus_id, bm25, n_terms).
    *
    * Redelivery: matched postings dedup by DISTINCT full row (retried
    * appends and verbatim re-ingests are bit-identical, and the matched
    * set is term-bounded, so the distinct is cheap); stats dedup per
    * run by max. A verbatim re-ingest under a NEW run id does inflate
    * (N, sum_dl) — BM25's one contract beyond containment's: ingest
    * each doc under ONE run id, or compact before scoring.
    *
    * Boundary vs [[Retrieval.bm25]]: the index holds only docs with a
    * non-empty token set (see [[append]]), so (N, avgdl) exclude
    * token-less docs the one-shot would count. Scores are otherwise
    * identical (parity spec-pinned).
    */
  def bm25Indexed(spark: SparkSession, indexDir: String, terms: Seq[String]): DataFrame =
    bm25Impl(spark, indexDir, terms, metaPredicate = None)

  /** [[bm25Indexed]] under a predicate — the token-retrieval sibling of
    * [[VectorIndex.queryTopKFiltered]]: only documents whose postings
    * satisfy `predicate` can score. The predicate is a `Column` over the
    * stored posting columns (`corpus_id` and [[append]]'s `metaCols`)
    * and applies on the scan beside the term filter, so a plain
    * comparison lands as `PushedFilters`; a join-shaped filter is
    * `col("corpus_id").isin(ids)`, planned as a broadcast left-semi
    * join. The restriction applies BEFORE scoring, so `df` reflects the
    * allowed slice — the same effective-df rule the takedown mask
    * already applies (a doc that cannot be returned does not shape the
    * idf either). Collection stats (N, avgdl) stay index-global, like
    * the one-shot operator's. Post-filtering unfiltered results would
    * instead keep disallowed docs' df contributions and change every
    * score — the same bug class the filtered ANN pin covers.
    */
  def bm25IndexedFiltered(spark: SparkSession, indexDir: String,
      terms: Seq[String], predicate: org.apache.spark.sql.Column): DataFrame =
    bm25Impl(spark, indexDir, terms, metaPredicate = Some(predicate))

  private def bm25Impl(spark: SparkSession, indexDir: String,
      terms: Seq[String],
      metaPredicate: Option[org.apache.spark.sql.Column]): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    val st = ParquetRead(spark, statsDir(indexDir))
      .groupBy(col("run_id"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("sum_dl")).as("sum_dl"))
      .agg(sum(col("n_docs")).as("n_docs"),
        (sum(col("sum_dl")) / sum(col("n_docs"))).as("avgdl"))
    // taken-down docs can never score; the mask is horizon-aware (an
    // upserted doc scores by its NEW postings only). df below
    // re-derives from the surviving matched postings, while the
    // collection stats (N, avgdl) stay ledger-stale until compact
    // heals them — the same performance-not-recall staleness class as
    // the df note above
    // the predicate (bm25IndexedFiltered) applies ON the scan beside
    // the term filter — before the projection drops the metadata
    // columns — so both reach parquet as PushedFilters; None folds
    // through and the unfiltered plan is bit-unchanged
    val scan0 = ParquetRead(spark, postingsDir(indexDir))
    val p = IndexStore.dropMasked(
        metaPredicate.fold(scan0)(mp => scan0.where(mp))
          .filter(col("tok").isin(terms: _*))
          .select(col("corpus_id"), col("tok"), col("tf"), col("dl"),
            col("run_id")),
        IndexStore.tombstones(spark, indexDir, "corpus_id"), "corpus_id")
      .select(col("corpus_id"), col("tok"), col("tf"), col("dl"))
      .distinct() // term-bounded; absorbs retried + re-ingested rows
    val df = p.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    p.join(broadcast(df), "tok")
      .crossJoin(broadcast(st))
      .withColumn("contrib", Retrieval.contrib)
      .groupBy(col("corpus_id"))
      .agg(sum(col("contrib")).as("bm25"), count(lit(1)).as("n_terms"))
  }

  /** Fold all four state tables in place (lossless; horizon-tagged).
    * Postings/arrays fold to the distinct row set (retried and
    * verbatim re-ingested rows collapse — which also RESTORES the BM25
    * stats contract for re-ingested docs: df folds to the distinct
    * postings' true count and stats to the folded corpus). Returns
    * ((postingsBefore, after), (dfBefore, after), (arraysBefore,
    * after)). */
  def compact(spark: SparkSession,
      indexDir: String): ((Long, Long), (Long, Long), (Long, Long)) =
      graft.sources.Lease.withLease(spark, indexDir) {
    // the largest run folded, from the rewrite input's footers: no job
    def horizon(df: DataFrame): Long =
      graft.sources.ParquetRead.columnMax(spark, df.inputFiles.toSeq, "run_id").getOrElse(0L)
    // tombstoned docs drop physically in both folds (probes only mask
    // them between delete and compact); the drop is horizon-aware and
    // runs BEFORE the distinct (which erases run provenance), so an
    // upserted doc's higher-run rows survive while the stale ones go.
    // df/stats re-derive from the folded survivors below, so the BM25
    // collection stats heal here
    val tomb = IndexStore.tombstones(spark, indexDir, "corpus_id")
    val p = graft.sources.Compaction.rewriteParquetDir(spark,
        postingsDir(indexDir)) { df =>
      // metadata columns (append's metaCols — anything non-reserved)
      // survive the fold verbatim: they are part of the posting row
      val metaCols = df.columns.filterNot(ReservedPostingCols).toSeq
      IndexStore.dropMasked(df, tomb, "corpus_id")
        .select((Seq("tok", "corpus_id", "tf", "dl") ++ metaCols).map(col): _*)
        .distinct()
        .withColumn("run_id", lit(horizon(df)))
        .select((Seq("tok", "corpus_id", "tf", "dl", "run_id") ++
          metaCols).map(col): _*)
    }
    val a = graft.sources.Compaction.rewriteParquetDir(spark,
        arraysDir(indexDir)) { df =>
      IndexStore.dropMasked(df, tomb, "corpus_id")
        .select(col("corpus_id"), col("toks")).distinct()
        .withColumn("run_id", lit(horizon(df)))
        .select(col("corpus_id"), col("toks"), col("run_id"))
    }
    // df and stats re-derive from the FOLDED postings rather than
    // folding their own rows: the distinct above is the ground truth,
    // so this also heals any re-ingest drift
    val folded = ParquetRead(spark, postingsDir(indexDir))
    val d = graft.sources.Compaction.rewriteParquetDir(spark,
        dfDir(indexDir)) { df =>
      folded.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .withColumn("run_id", lit(horizon(df)))
        .select(col("tok"), col("df"), col("run_id"))
    }
    graft.sources.Compaction.rewriteParquetDir(spark, statsDir(indexDir)) { df =>
      folded.select(col("corpus_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("run_id", lit(horizon(df)))
        .select(col("n_docs"), col("sum_dl"), col("run_id"))
    }
    // takedowns are now physical — retire the ledger
    IndexStore.retireTombstones(spark, indexDir)
    (p, d, a)
  }

  /** Evolve the index's stored metadata SET by adding columns with
    * backfill defaults (VERDICT r18 item 3) — without this, the
    * metadata-set invariant [[append]] enforces makes adding one
    * column a full corpus re-ingest. A compact-shaped ONE-TIME
    * postings rewrite: every existing posting row gains each new
    * column as its literal default (the semantics the caller asserts
    * for pre-evolution documents), swapped into place by
    * [[graft.sources.Compaction.rewriteParquetDir]]'s two-rename swap
    * under the postings dir's own [[graft.sources.Lease]] and the index
    * dir's writer lease. After it,
    * appends must carry the WIDENED set (the invariant keeps
    * enforcing uniformity — now at the new set), and filtered probes
    * read the backfilled defaults for pre-evolution rows with the
    * predicate still landing in the parquet scan.
    *
    * Each default's literal TYPE fixes the new column's type; later
    * appends must match it. Adding only — dropping a stored column
    * would silently orphan predicates compiled against it; rebuild for
    * that. Cost: one full postings rewrite (the same job [[compact]]
    * runs), paid once, never per probe.
    */
  def evolveMetadata(spark: SparkSession, indexDir: String,
      defaults: Seq[(String, Any)]): Unit =
      graft.sources.Lease.withLease(spark, indexDir) {
    IndexStore.evolvePostings(spark, postingsDir(indexDir), ReservedPostingCols,
      defaults)(identity)
  }
}

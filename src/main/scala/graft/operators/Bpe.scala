package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Byte-pair-encoding tokenizer training and exact encoding — the
  * sentencepiece-training step of an LLM data pipeline, and the exact
  * token accounting that a regex pre-tokenizer (q38) only approximates.
  * Character-level BPE (no byte fallback; merges never cross word
  * boundaries), the algorithm of Sennrich et al. 2016.
  *
  * Scale shape: training runs against the WORD-FREQUENCY table, not the
  * corpus — ONE distributed corpus pass builds `(word, freq)`
  * (vocab-sized: millions of rows however many petabytes the corpus
  * is), that table is collected, and ALL merge rounds are classic
  * driver-side heap maintenance (Sennrich et al. 2016's reference
  * algorithm): incremental pair counts, lazy-deletion priority queue,
  * only words containing the winning pair re-counted. The corpus is
  * never re-read and — unlike a per-round distributed argmax, which
  * costs one Spark job per merge (30k jobs for a production vocab) —
  * merge rounds launch ZERO Spark jobs. Driver memory is bounded by the
  * word-frequency table — and that table is itself BOUNDED before the
  * collect (see [[learnMerges]]'s `minCount` / [[Bpe.MaxVocabTypes]]): a
  * noisy 100 TB web corpus has 10⁸–10⁹ distinct token types (URLs,
  * hex hashes, typos), so an unbounded collect would be a multi-GB
  * driver OOM. With the opt-in `minCount = 2` floor the driver holds
  * only the repeated-type vocab (~5M types ≈ 100 MB on real web text,
  * hard cap [[Bpe.MaxVocabTypes]] regardless of corpus).
  */
object Bpe {

  /** The ONE distributed corpus pass training runs on: the
    * word-frequency table `(w, freq)`, floored and capped BEFORE it
    * reaches the driver. Shared verbatim by [[learnMerges]] (which
    * collects it) and [[initialPairCounts]] (which keeps it
    * distributed), so the oracle twin q103 exercises exactly the frame
    * training consumes.
    */
  private[graft] def vocabTable(docs: DataFrame, textCol: String,
      minCount: Long, maxVocabTypes: Int): DataFrame = {
    val vocab = docs.select(explode(TF.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minCount)
    // The cap's sort is over the already-floored vocab table (not the
    // corpus) — vocab-sized, one-time, trivial next to the corpus pass.
    vocab.orderBy(col("freq").desc, col("w").asc).limit(maxVocabTypes)
  }

  /** Distributed first-iteration pair statistics: every adjacent
    * symbol pair's corpus-weighted count over [[vocabTable]]'s
    * word-frequency frame — BPE training round 1 computes exactly this
    * (driver-side, incrementally thereafter); here it stays a
    * DataFrame, which makes it (a) a scale diagnostic — "what would
    * training merge first" with no driver collect at all — and (b) the
    * SQL-replayable oracle surface for the otherwise iterative,
    * rows-only training path (q103 hash-checks it against DuckDB,
    * including the (count desc, pair asc) argmax tie-break that picks
    * merge #1). Overlap semantics match training's sliding window:
    * "aaa" contributes (a,a) twice. Pairs are over UTF-16 units on the
    * driver and code points here — identical except for astral-plane
    * symbols, which character-level BPE vocabularies don't reach.
    */
  private[graft] def initialPairCounts(docs: DataFrame, textCol: String, minCount: Long): DataFrame =
    initialPairCountsFrom(vocabTable(docs, textCol, minCount, MaxVocabTypes))

  /** The default vocab-type cap of training and [[initialPairCounts]]. */
  val MaxVocabTypes = 5000000

  /** [[initialPairCounts]] over an already-built `(w, freq)` vocab
    * frame — the seam that lets a caller running BOTH training and the
    * pair diagnostics (q103) pay the corpus pass once: snapshot
    * [[vocabTable]]'s output and feed it here and to
    * [[learnMergesFromVocab]].
    */
  private[graft] def initialPairCountsFrom(vocab: DataFrame): DataFrame =
    vocab
      .filter(length(col("w")) >= 2) // single-symbol words have no pairs
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), " +
          "i -> struct(substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** Learn `numMerges` ranked merges from the corpus. Returns the merge
    * list in application order, each with the weighted pair frequency
    * that won its round. Ties break lexicographically on the pair, so
    * training is deterministic for a given corpus.
    *
    * `minCount` (standard practice in BPE trainers) drops word types
    * rarer than the floor BEFORE the driver collect — the hapax long
    * tail is the bulk of a web-scale vocab but nearly none of its
    * mass. Semantics, stated honestly: the merges are DEFINED over the
    * floored vocabulary, exactly as reference trainers define them
    * under a vocabulary threshold. The floor is an approximation of
    * unfloored training, not an invariance: each dropped type
    * contributes < minCount to any single pair count, but a large
    * dropped TAIL sharing a pair can move that pair's aggregate count
    * arbitrarily, so a pathological corpus (say, 10⁶ hapax types all
    * containing the same bigram) can learn a different merge list than
    * minCount = 1 would. On natural text the tail's per-pair mass is
    * negligible and the floored model is the standard one trainers
    * ship. [[MaxVocabTypes]] is the hard memory bound, a backstop orders
    * of magnitude above any natural repeated vocab: keep only the top-N
    * types by (freq desc, word asc — the tie order makes the cut
    * deterministic). Driver memory is O(MaxVocabTypes), independent of
    * corpus size.
    *
    * DEFAULT is `minCount = 1` (no floor): flooring changes training
    * SEMANTICS, not just cost, so it is opt-in at the call site —
    * production corpus-scale callers pass `minCount = 2` (q86 does);
    * the library default never silently drops hapax types on an
    * existing caller's corpus. (Round 12 briefly shipped a floored
    * default; reverted round 13 per ADVICE — version note: any caller
    * that adopted the r12 default must now pass `minCount = 2`.)
    */
  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 1L): Seq[(String, String, Long)] =
    learnMergesFromVocab(vocabTable(docs, textCol, minCount, MaxVocabTypes), numMerges)

  /** [[learnMerges]] from an already-built `(w, freq)` vocab frame
    * (see [[initialPairCountsFrom]]).
    */
  private[graft] def learnMergesFromVocab(vocab: DataFrame,
      numMerges: Int): Seq[(String, String, Long)] = {
    import scala.collection.mutable
    // Everything after the collect is driver-side and independent of
    // corpus size.
    val wordFreq: Array[(Array[String], Long)] =
      vocab.collect()
        .map(r => (r.getString(0).toCharArray.map(_.toString), r.getLong(1)))
    val syms: Array[mutable.ArrayBuffer[String]] =
      wordFreq.map { case (s, _) => mutable.ArrayBuffer.from(s) }
    val freq: Array[Long] = wordFreq.map(_._2)

    // Incremental pair-count state. pairWords holds word-indexes that
    // contained the pair when last counted; entries go stale after other
    // merges touch a word, so membership is re-validated by scanning the
    // word on use (Sennrich's reference implementation does the same).
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def countWord(i: Int, sign: Long, track: Boolean): Unit = {
      val w = syms(i); val f = freq(i)
      var j = 0
      while (j + 1 < w.length) {
        val p = (w(j), w(j + 1))
        val n = pairCount.getOrElse(p, 0L) + sign * f
        if (n <= 0L) pairCount.remove(p) else pairCount(p) = n
        if (track && sign > 0) pairWords.getOrElseUpdate(p, mutable.Set.empty) += i
        j += 1
      }
    }
    syms.indices.foreach(countWord(_, +1L, track = true))

    // Max-heap with lazy deletion: ordered by count desc, then pair asc
    // (lexicographic tie-break keeps training deterministic for a given
    // corpus, independent of collect() partition order — counts are
    // commutative sums). Stale entries (count changed since push) are
    // discarded on pop; every count change pushes a fresh entry.
    implicit val ord: Ordering[(Long, String, String)] = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else {
          val ca = y._2.compareTo(x._2) // reversed: smaller `a` = higher priority
          if (ca != 0) ca else y._3.compareTo(x._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)]
    pairCount.foreach { case ((a, b), n) => heap.enqueue((n, a, b)) }

    val merges = mutable.ArrayBuffer.empty[(String, String, Long)]
    while (merges.size < numMerges && heap.nonEmpty) {
      val (n, a, b) = heap.dequeue()
      if (pairCount.get((a, b)).contains(n)) { // fresh entry — the true argmax
        merges += ((a, b, n))
        val touched = mutable.Set.empty[(String, String)]
        // snapshot: countWord(track = true) below inserts into pairWords
        for (i <- pairWords.getOrElse((a, b), mutable.Set.empty).toArray) {
          val w = syms(i)
          // validate (entry may be stale): does the pair still occur?
          var has = false; var j = 0
          while (!has && j + 1 < w.length) { has = w(j) == a && w(j + 1) == b; j += 1 }
          if (has) {
            // recount only this word: retract its pairs, merge, re-add
            var k = 0
            while (k + 1 < w.length) { touched += ((w(k), w(k + 1))); k += 1 }
            countWord(i, -1L, track = false)
            val merged = applyMerge(w.toSeq, a, b)
            syms(i) = mutable.ArrayBuffer.from(merged)
            countWord(i, +1L, track = true)
            k = 0
            while (k + 1 < syms(i).length) { touched += ((syms(i)(k), syms(i)(k + 1))); k += 1 }
          }
        }
        pairCount.remove((a, b)); pairWords.remove((a, b))
        touched.foreach(p => pairCount.get(p).foreach(c => heap.enqueue((c, p._1, p._2))))
      } // else: stale heap entry, drop it
    }
    merges.toSeq
  }

  /** One merge pass over a symbol sequence (leftmost-first, as BPE
    * defines it): every adjacent (a, b) becomes the fused symbol.
    */
  def applyMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
    if (syms == null) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Rank-priority encode of one word: linked symbol list + lazy-deletion
    * min-heap of (merge rank, position) candidates — each pop merges the
    * LOWEST-ranked pair present, leftmost first among equals, which is
    * exactly the order the sequential per-merge pass produces (a merge's
    * parts are created only by strictly earlier-ranked merges, so a
    * fused symbol can never enable an earlier merge). O(len·log len) per
    * word INDEPENDENT of vocab size — the per-merge full-pass form is
    * O(len·|merges|), ~100× more per-row CPU at a production 30k-merge
    * vocab. The standard heap walk of reference tokenizer
    * implementations.
    */
  private[graft] def encodeWord(
      w: String, rank: collection.Map[(String, String), Int]): Seq[String] = {
    import scala.collection.mutable
    val syms = mutable.ArrayBuffer.empty[String]
    w.foreach(c => syms += c.toString)
    val n = syms.length
    if (n < 2) return syms.toSeq
    val next = Array.tabulate(n)(i => if (i + 1 < n) i + 1 else -1)
    val prev = Array.tabulate(n)(_ - 1)
    val alive = Array.fill(n)(true)
    // max-heap made a min-heap: SMALLER rank (then smaller position =
    // leftmost occurrence) compares GREATER
    implicit val ord: Ordering[(Int, Int)] = new Ordering[(Int, Int)] {
      def compare(x: (Int, Int), y: (Int, Int)): Int = {
        val c = java.lang.Integer.compare(y._1, x._1)
        if (c != 0) c else java.lang.Integer.compare(y._2, x._2)
      }
    }
    val heap = mutable.PriorityQueue.empty[(Int, Int)]
    def push(i: Int): Unit =
      if (i >= 0 && next(i) >= 0)
        rank.get((syms(i), syms(next(i)))).foreach(r => heap.enqueue((r, i)))
    (0 until n - 1).foreach(push)
    while (heap.nonEmpty) {
      val (r, i) = heap.dequeue()
      // lazy validation: the node pair must still exist and still be the
      // pair this entry was pushed for (ranks are unique per pair, so a
      // rank match identifies the pair)
      if (alive(i) && next(i) >= 0 &&
        rank.get((syms(i), syms(next(i)))).contains(r)) {
        val j = next(i)
        syms(i) = syms(i) + syms(j)
        alive(j) = false
        next(i) = next(j)
        if (next(j) >= 0) prev(next(j)) = i
        // the two pairs touching the fused symbol are new candidates
        push(prev(i))
        push(i)
      }
    }
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i >= 0) { if (alive(i)) out += syms(i); i = next(i) }
    out.toSeq
  }

  /** Merge-pair → rank lookup. First occurrence wins: a pair CAN be
    * re-learned at a later round (other merges can recreate an adjacency
    * that an earlier merge consumed), and at encode time only the
    * earliest rank matters.
    */
  private def rankOf(merges: Seq[(String, String)]): collection.Map[(String, String), Int] = {
    val m = scala.collection.mutable.HashMap.empty[(String, String), Int]
    merges.zipWithIndex.foreach { case (p, i) => if (!m.contains(p)) m(p) = i }
    m
  }

  /** Encode every word of a text with a learned merge list: merges apply
    * in RANK order (the order [[learnMerges]] returned them), exactly as
    * at training time, so encoding is reproducible anywhere the merge
    * list travels. Returns the per-word token arrays flattened into one
    * token sequence per row. Per-word work is the [[encodeWord]] heap
    * walk — O(len·log len), not O(len·|merges|).
    */
  def encodeUdf(merges: Seq[(String, String)]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val rank = rankOf(merges)
    udf((text: String) =>
      if (text == null) null
      else text.trim.split("\\s+").toSeq.filter(_.nonEmpty).flatMap(w => encodeWord(w, rank)))
  }

  /** Exact BPE token count — the budget-enforcement number q38's regex
    * pre-tokenizer approximates. A pure Column (apply it to any frame
    * with `textCol`): one projection, no shuffle; the merge list rides
    * the closure (it is vocab-sized, i.e. small).
    */
  private[graft] def tokenCount(textCol: String,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    size(encodeUdf(merges)(col(textCol)))
}

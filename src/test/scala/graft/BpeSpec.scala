package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learnMerges: classic low/lower corpus learns the expected first merges") {
    // Sennrich-style fixture: 'lo' is the most frequent adjacent pair
    // (in every word below), then 'low' once lo exists
    val docs = Seq(
      "low low low lower lower lowest").toDF("text")
    val merges = Bpe.learnMerges(docs, "text", 3, minCount = 2L)
    assert(merges.head._1 == "l" && merges.head._2 == "o",
      s"first merge must be (l,o): $merges")
    assert(merges(1)._1 == "lo" && merges(1)._2 == "w",
      s"second merge must be (lo,w): $merges")
    // weighted by word frequency UNDER the opt-in minCount=2 floor:
    // hapax 'lowest' is dropped before the collect, so l+o counts the
    // 3 'low' + 2 'lower' = 5; the (default) unfloored run counts all 6
    assert(merges.head._3 == 5L)
    val unfloored = Bpe.learnMerges(docs, "text", 3)
    assert(unfloored.head == ("l", "o", 6L))
  }

  test("minCount floor: merge list invariant on a corpus whose types all clear it") {
    // every word type occurs >= 2 times, so the floor drops nothing and
    // floored == unfloored exactly (pairs AND weighted counts)
    val docs = Seq("low low low lower lower lowest lowest newest newest").toDF("text")
    val floored = Bpe.learnMerges(docs, "text", 8, minCount = 2L)
    val unfloored = Bpe.learnMerges(docs, "text", 8) // default: no floor
    assert(floored == unfloored)
    assert(floored.nonEmpty)
  }

  test("maxVocabTypes cap: heavy-tail vocab trains as if truncated to top-N types") {
    // heavy tail: two dominant types + 30 distinct rare-but-repeated
    // types. Cap at 2 ⇒ training must equal training on ONLY the two
    // dominant types (deterministic cut: freq desc, word asc).
    val tail = (1 to 30).flatMap(i => Seq.fill(2)(f"rare$i%02d"))
    val corpus = (Seq.fill(40)("share") ++ Seq.fill(25)("shore") ++ tail).mkString(" ")
    val capped = Bpe.learnMergesFromVocab(
      Bpe.vocabTable(Seq(corpus).toDF("text"), "text", minCount = 1L, maxVocabTypes = 2), 6)
    val truncated = Bpe.learnMerges(
      Seq((Seq.fill(40)("share") ++ Seq.fill(25)("shore")).mkString(" ")).toDF("text"),
      "text", 6)
    assert(capped == truncated)
    // the cap really bit: an uncapped run sees the tail's pairs ('r','a')
    // etc. with weight 60 from rareNN types and diverges
    val uncapped = Bpe.learnMerges(Seq(corpus).toDF("text"), "text", 6)
    assert(uncapped != capped)
  }

  test("initialPairCounts: distributed round-1 statistics match training's argmax, overlaps counted sliding") {
    // 'low'×3, 'lower'×2, hapax 'lowest', plus 'aaa'×2 to pin overlap
    // semantics: the sliding window counts (a,a) TWICE per 'aaa'
    val docs = Seq("low low low lower lower lowest aaa aaa").toDF("text")
    val pc = Bpe.initialPairCounts(docs, "text", minCount = 2L)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // floored vocab: low(3), lower(2), aaa(2) — lowest dropped
    assert(pc(("l", "o")) == 5L)
    assert(pc(("o", "w")) == 5L)
    assert(pc(("w", "e")) == 2L)
    assert(pc(("a", "a")) == 4L, "aaa must contribute (a,a) twice per word occurrence")
    assert(!pc.contains(("e", "s")), "hapax 'lowest' must be dropped by the floor")
    // the distributed table's argmax (count desc, pair asc) IS merge #1
    val top = pc.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head
    val first = Bpe.learnMerges(docs, "text", 1, minCount = 2L).head
    assert((top._1._1, top._1._2, top._2) == first,
      s"distributed argmax $top must equal training's first merge $first")
  }

  test("applyMerge: leftmost-first, non-overlapping, fused symbol") {
    assert(Bpe.applyMerge(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Bpe.applyMerge(Seq("l", "o", "w"), "l", "o") == Seq("lo", "w"))
    assert(Bpe.applyMerge(Seq("x"), "a", "b") == Seq("x"))
    assert(Bpe.applyMerge(Seq.empty, "a", "b") == Seq.empty)
  }

  test("encode: rank-ordered merges reproduce training segmentation; counts drop as merges grow") {
    val docs = Seq("low lower newest lowest").toDF("text")
    // all-hapax fixture: disable the production minCount floor
    val merges = Bpe.learnMerges(docs, "text", 6, minCount = 1L).map(m => (m._1, m._2))
    val encoded = docs.select(Bpe.encodeUdf(merges)(col("text"))).as[Seq[String]].head()
    // every learned merge is a substring of some word; tokens reassemble the text
    assert(encoded.mkString == "lowlowernewestlowest")
    // token budget: more merges → fewer (or equal) tokens, floor = word count
    val n0 = docs.select(Bpe.tokenCount("text", Seq.empty)).as[Int].head()
    val n3 = docs.select(Bpe.tokenCount("text", merges.take(3))).as[Int].head()
    val n6 = docs.select(Bpe.tokenCount("text", merges)).as[Int].head()
    assert(n0 == "lowlowernewestlowest".length, "zero merges = character count")
    assert(n3 >= n6, "counts monotone in merges")
    assert(n6 >= 4, "never fewer tokens than words")
    assert(n6 < n0, "learned merges must compress the training text")
  }

  test("rank-priority heap encode ≡ sequential per-merge passes (fixture + random)") {
    // sequential reference: apply every merge as its own full pass
    def seqEncode(w: String, merges: Seq[(String, String)]): Seq[String] = {
      var syms: Seq[String] = w.split("(?!^)").toSeq
      merges.foreach { case (a, b) => syms = Bpe.applyMerge(syms, a, b) }
      syms
    }
    val docs = Seq("low lower newest lowest widest new").toDF("text")
    // all-hapax fixture: disable the production minCount floor
    val merges = Bpe.learnMerges(docs, "text", 10, minCount = 1L).map(m => (m._1, m._2))
    val rank = merges.zipWithIndex.toMap
    // "" excluded: encodeUdf filters empty words before encoding
    for (w <- Seq("low", "lower", "lowest", "newest", "widest", "slow", "owl", "x")) {
      assert(Bpe.encodeWord(w, rank) == seqEncode(w, merges), s"word '$w'")
    }
    // randomized: words over a 3-letter alphabet, merges learned from them
    val rnd = new scala.util.Random(42)
    val corpus = (1 to 60).map(_ => (1 to 8).map(_ => "abc" (rnd.nextInt(3))).mkString)
    val rdocs = corpus.mkString(" ").split("(?=.)").mkString.split("\\|").toSeq.toDF("text")
    val rmerges = Bpe.learnMerges(rdocs, "text", 12, minCount = 1L).map(m => (m._1, m._2))
    val rrank = rmerges.zipWithIndex.toMap
    (corpus ++ Seq("aaaaaaa", "abcabcabc", "cbacba")).foreach { w =>
      assert(Bpe.encodeWord(w, rrank) == seqEncode(w, rmerges), s"random word '$w'")
    }
  }

  test("training is deterministic: rerun and repartition give identical merges") {
    val docs = (1 to 50).map(i => s"alpha beta gamma alpha beta doc$i").toDF("text")
    val a = Bpe.learnMerges(docs, "text", 5)
    val b = Bpe.learnMerges(docs.repartition(7), "text", 5)
    assert(a == b)
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.operators.Dedup
import graft.pipeline.CorpusPipeline

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CorpusPipeline.Config(
    minTokens = 3, minTypeTokenRatio = 0.0, nearDupThreshold = 0.8)

  test("curate: drops short docs, exact dups, and near-dups; keeps the rest") {
    val base = (1 to 30).map(i => s"tok$i the a of").mkString(" ")
    val docs = Seq(
      (1L, base),                                    // keeper (canonical)
      (2L, base),                                    // exact dup of 1 → dropped
      (3L, base + " extra"),                         // near-dup of 1 → dropped
      (4L, "too short"),                             // < minTokens → dropped
      (5L, (100 to 140).map(i => s"zz$i the").mkString(" "))) // distinct keeper
      .toDF("doc_id", "text")
    val curated = CorpusPipeline.curate(docs, "doc_id", "text", cfg)
    assert(curated.select("doc_id").as[Long].collect().toSet == Set(1L, 5L))
  }

  test("curate is idempotent: re-curating a curated corpus keeps every row") {
    // the reference's rerun-no-op contract (test.py:203-204) lifted to
    // the corpus pipeline: a curated corpus is already gated, exactly
    // deduped, and near-dup free, so running curate() over its
    // (id, text) projection must keep EXACTLY the same documents — any
    // loss would mean a gate or dedup stage is not stable on its own
    // output (e.g. a near-dup threshold that re-flags survivors). Run
    // on the 500-doc fixture corpus for realistic text, plus the
    // planted-dup fixture above.
    val fixture = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val base = (1 to 30).map(i => s"tok$i the a of").mkString(" ")
    val planted = Seq(
      (100001L, base), (100002L, base), (100003L, base + " extra"),
      (100004L, "too short"),
      (100005L, (100 to 140).map(i => s"zz$i the").mkString(" ")))
      .toDF("doc_id", "text")
    val once = CorpusPipeline.curate(
      fixture.unionByName(planted), "doc_id", "text", cfg)
    val ids1 = once.select("doc_id").as[Long].collect().toSet
    val twice = CorpusPipeline.curate(
      once.select(col("doc_id"), col("text")), "doc_id", "text", cfg)
    val ids2 = twice.select("doc_id").as[Long].collect().toSet
    assert(ids2 == ids1,
      s"re-curation must be a no-op: lost ${ids1 -- ids2}, gained ${ids2 -- ids1}")
  }

  test("snapshotGate: identical curated output, identical schema, snapshot-backed dedup input") {
    val base = (1 to 30).map(i => s"tok$i the a of").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base), (3L, base + " extra"), (4L, "too short"),
      (5L, (100 to 140).map(i => s"zz$i the").mkString(" ")))
      .toDF("doc_id", "text")
    val lazyOut = CorpusPipeline.curate(docs, "doc_id", "text", cfg)
    val snapOut = CorpusPipeline.curate(docs, "doc_id", "text", cfg.copy(snapshotGate = true))
    assert(snapOut.columns.toSeq == lazyOut.columns.toSeq,
      s"schema must not change: ${snapOut.columns.toSeq} vs ${lazyOut.columns.toSeq}")
    val l = lazyOut.orderBy("doc_id").collect().toSeq
    val s2 = snapOut.orderBy("doc_id").collect().toSeq
    assert(s2 == l, s"snapshot form must curate identically: $s2 vs $l")
    // the dedup input really is the snapshot (no parquet/local-relation rescans)
    val plan = snapOut.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
      s"expected a checkpoint-backed subtree:\n$plan")
  }

  test("quality gate scans each document's needles at most twice; ties resolve as the when-chain") {
    val docs0 = Seq(
      (1L, "the le of la"),          // en 2 = fr 2: en, the earlier profile
      (2L, "le der et und"),         // fr 2 = de 2: fr
      (3L, "der el und los"),        // de 2 = es 2: de
      (4L, "no stopwords here"),     // all 0: en
      (5L, "el los de la"),          // es 3 > fr 1: es
      (6L, "the a of der und das"),  // en 3 = de 3: en
      (7L, null))                    // no counts: the last profile
      .toDF("doc_id", "text")
    // read back from parquet: over a local relation the optimizer would
    // evaluate the whole gate itself and leave no expression to count
    val dir = Files.createTempDirectory("gate").toString + "/docs"
    docs0.write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val annotated = CorpusPipeline.annotate(docs, "doc_id", "text", cfg)
    val gate = CorpusPipeline.qualityFilter(annotated, cfg)
    val scans = gate.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
      _.collect { case n: graft.plans.NeedleCounts => n })).size
    assert(scans >= 1 && scans <= 2, s"$scans needle scans in the gate:\n" +
      gate.queryExecution.optimizedPlan)
    // the argmax over materialized per-language score columns, first-wins
    val langs = CorpusPipeline.LangProfiles.map(_._1)
    val scored = TF.stopwordLanguageScores(col("text"), CorpusPipeline.LangProfiles)
      .zipWithIndex.foldLeft(docs) { case (df, ((_, s), i)) => df.withColumn(s"s$i", s) }
    val chain = langs.indices.foldRight(lit(langs.last)) { (i, elseCol) =>
      val beatsAllLater = (i + 1 until langs.size)
        .map(j => col(s"s$i") >= col(s"s$j")).foldLeft(lit(true))(_ && _)
      when(beatsAllLater, lit(langs(i))).otherwise(elseCol)
    }
    val want = scored.select(col("doc_id"), chain).as[(Long, String)].collect().toMap
    val got = annotated.select(col("doc_id"), col("predicted_lang"))
      .as[(Long, String)].collect().toMap
    assert(got == want && want == Map(1L -> "en", 2L -> "fr", 3L -> "de", 4L -> "en",
      5L -> "es", 6L -> "en", 7L -> "es"), s"$got vs $want")
    assert(annotated.columns.toSeq ==
      Seq("doc_id", "text", "__toks", "n_tokens", "ttr", "predicted_lang"))
  }

  test("cluster-canonical mode keeps the min id per transitive near-dup chain") {
    val base = (1 to 40).map(i => s"tok$i the a of").mkString(" ")
    // 6~7~8 form a chain: 6~7 and 7~8 are near-dups, 6~8 less so; the
    // cluster mode must keep exactly the min id of the whole chain
    val docs = Seq(
      (6L, base),
      (7L, base + " x1 x2"),
      (8L, base + " x1 x2 x3 x4"),
      (9L, (200 to 240).map(i => s"qq$i the").mkString(" "))) // unrelated keeper
      .toDF("doc_id", "text")
    // curate's gate and exact dedup, then keep one per near-dup cluster
    val gated = CorpusPipeline.qualityFilter(
      CorpusPipeline.annotate(docs, "doc_id", "text", cfg), cfg).drop("__toks")
    val exact = Dedup.exactContentGroups(gated, "doc_id", "text")
      .filter(col("doc_id") === col("canonical_id")).drop("canonical_id", "dup_count")
    val pairs = Dedup.minHashNearDuplicates(exact, "doc_id", "text",
      shingleSize = CorpusPipeline.NearDupShingleSize,
      numHashes = CorpusPipeline.NearDupNumHashes, bands = CorpusPipeline.NearDupBands,
      threshold = cfg.nearDupThreshold)
    val clustered = Dedup.keepOnePerCluster(exact, "doc_id", pairs)
    assert(clustered.select("doc_id").as[Long].collect().toSet == Set(6L, 9L))
  }

  test("stratified sample: deterministic, partition-invariant, monotone in fraction") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001") // 500 rows, lang column
    val f = Map("en" -> 0.5, "fr" -> 0.1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      CorpusPipeline.stratifiedSample(df, "doc_id", "lang", f)
        .select("doc_id").as[Long].collect().toSet
    val a = ids(docs)
    val b = ids(docs.repartition(7)) // same rows regardless of partitioning
    assert(a == b && a.nonEmpty)
    // strata not in the map are dropped entirely
    val langs = CorpusPipeline.stratifiedSample(docs, "doc_id", "lang", f)
      .select("lang").distinct().as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "fr")))
    // raising a fraction only ADDS rows (incremental extendability)
    val bigger = ids(docs) ++
      CorpusPipeline.stratifiedSample(docs, "doc_id", "lang", f.updated("en", 0.8))
        .select("doc_id").as[Long].collect().toSet
    assert(a.subsetOf(bigger))
    // sample rate lands near the requested fraction
    val en = docs.filter(col("lang") === "en").count()
    val enKept = CorpusPipeline.stratifiedSample(docs, "doc_id", "lang", f)
      .filter(col("lang") === "en").count()
    assert(math.abs(enKept.toDouble / en - 0.5) < 0.15)
  }

  test("token-budget mixture sample: budget bound, partition-invariant, oversize excluded") {
    val docs = ((1L to 40L).map(i => (i, if (i <= 20) "a" else "b", 10L))
      :+ (99L, "a", 1000L)).toDF("id", "src", "toks") // 99 alone exceeds any 50-token budget
    val picked = CorpusPipeline.sampleToTokenBudget(docs, "id", "src", "toks", 50L)
      .select(col("id"), col("src"), col("cum_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // 10-token docs against a 50-token budget: exactly 5 per stratum
    assert(picked.count(_._2 == "a") == 5 && picked.count(_._2 == "b") == 5)
    assert(picked.forall(_._3 <= 50L))
    assert(!picked.exists(_._1 == 99L), "oversize doc must never be selected")
    // pure function of (id, salt): physical layout cannot change the sample
    val repicked = CorpusPipeline.sampleToTokenBudget(
      docs.repartition(13), "id", "src", "toks", 50L)
      .select(col("id")).as[Long].collect().toSet
    assert(repicked == picked.map(_._1).toSet)
  }

  test("curate opt-in release stages: classifier gate, span removal, token budget compose") {
    // every doc ends with the same sentence, so whichever subset survives
    // the classifier gate still shares the span; prefixes are distinct so
    // near-dup never fires
    val docs = (1L to 8L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i eps$i zeta$i the a of unique$i words$i " +
        "shared span goes right here")).toDF("id", "text")
    // curate's stages with a classifier gate after the quality gate, then
    // span removal re-homing each doc on its cleaned text and tokens, then
    // an optional per-language token budget
    def release(budget: Option[Long]) = {
      val gated = CorpusPipeline.qualityFilter(
        CorpusPipeline.annotate(docs, "id", "text", cfg), cfg)
        .filter(TF.linearScoreMilli(col("__toks"), 64) >= 0L)
      val deduped = CorpusPipeline.dedup(gated, "id", "text", cfg).drop("__toks")
      val spanned = deduped.drop("text", "n_tokens")
        .join(CorpusPipeline.removeDuplicateSpans(deduped, "id", "text", 4)
          .select(col("id"), array_join(col("kept_units"), " ").as("text"),
            col("n_kept").as("n_tokens")), Seq("id"))
      budget.fold(spanned)(b =>
        CorpusPipeline.sampleToTokenBudget(spanned, "id", "predicted_lang", "n_tokens", b))
    }
    val out = release(None)
      .select(col("id"), col("text"), col("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // classifier wiring: survivors are exactly the docs scoring >= 0
    val expected = docs
      .filter(TF.linearScoreMilli(TF.tokens(col("text")), 64) >= 0L)
      .select(col("id")).as[Long].collect().toSet
    assert(expected.size >= 2, s"degenerate fixture: $expected") // span test needs >= 2 survivors
    assert(out.map(_._1).toSet == expected)
    // span wiring: the shared sentence is gone, per-doc prose survives,
    // and n_tokens follows the CLEANED text
    out.foreach { case (i, t, n) =>
      assert(!t.contains("shared span"), s"doc $i kept the duplicated span: $t")
      assert(t.contains(s"unique$i"))
      assert(n == t.trim.split("\\s+").length)
    }
    // budget wiring: a binding per-language budget caps the shipped tokens
    val capped = release(Some(20L))
      .groupBy(col("predicted_lang")).agg(sum(col("n_tokens")).as("s"))
      .select(col("s")).as[Long].collect()
    assert(capped.forall(_ <= 20L))
  }

  test("duplicate-span removal: shared window masked in BOTH docs, unique prose kept") {
    val docs = Seq(
      (1L, "alpha beta gamma delta unique one two three"),
      (2L, "prefix words alpha beta gamma delta suffix tail"),
      (3L, "completely different text with no shared spans at all")).toDF("id", "text")
    val out = CorpusPipeline.removeDuplicateSpans(docs, "id", "text", n = 4)
      .select(col("id"), array_join(col("kept_units"), " "), col("n_removed"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    // "alpha beta gamma delta" is the one cross-doc 4-gram: its 4 tokens
    // vanish from BOTH docs (span dedup keeps zero copies, unlike
    // document dedup), everything else survives in order
    assert(out(0) == ((1L, "unique one two three", 4L)))
    assert(out(1) == ((2L, "prefix words suffix tail", 4L)))
    assert(out(2)._2.startsWith("completely different") && out(2)._3 == 0L)
    // overlap composition: two overlapping dup windows mask their union
    val o2 = CorpusPipeline.removeDuplicateSpans(Seq(
      (1L, "a b c d e tail1"), (2L, "a b c d e tail2")).toDF("id", "text"), "id", "text", 4)
      .select(col("id"), array_join(col("kept_units"), " ")).as[(Long, String)]
      .collect().toMap
    // windows [a b c d] and [b c d e] overlap; union a..e masked in both
    assert(o2(1L) == "tail1" && o2(2L) == "tail2")
  }

  test("incremental curation: rerun is a no-op; filtered docs are not re-curated") {
    val stateDir = Files.createTempDirectory("curstate").toString + "/state"
    val base = (1 to 30).map(i => s"tok$i the a of").mkString(" ")
    val docs = Seq((1L, base), (2L, "too short")).toDF("doc_id", "text")
    val (curated1, commit1) =
      CorpusPipeline.curateIncrementalStaged(docs, "doc_id", "text", stateDir, cfg)
    commit1()
    val first = curated1.select("doc_id").as[Long].collect().toSet
    assert(first == Set(1L))
    // rerun on identical input: nothing new — including the REJECTED doc,
    // which must be remembered as seen, not re-curated forever
    val (second, commit2) =
      CorpusPipeline.curateIncrementalStaged(docs, "doc_id", "text", stateDir, cfg)
    commit2()
    assert(second.count() == 0)
    // a genuinely new doc flows through on a later run
    val more = docs.union(Seq((3L, (50 to 90).map(i => s"yy$i the").mkString(" ")))
      .toDF("doc_id", "text"))
    val (curated3, commit3) =
      CorpusPipeline.curateIncrementalStaged(more, "doc_id", "text", stateDir, cfg)
    commit3()
    val third = curated3.select("doc_id").as[Long].collect().toSet
    assert(third == Set(3L))
  }

  test("staged incremental curation: uncommitted batch is re-seen; committed batch is not") {
    val stateDir = Files.createTempDirectory("curstaged").toString + "/state"
    val base = (1 to 30).map(i => s"tok$i the a of").mkString(" ")
    val docs = Seq((1L, base)).toDF("doc_id", "text")
    // phase 1 WITHOUT commit: simulates a crash between curation and the
    // caller's durable write — the batch must be re-curated next run
    val (out1, _) = CorpusPipeline.curateIncrementalStaged(docs, "doc_id", "text", stateDir, cfg)
    assert(out1.count() == 1)
    val (out2, commit2) =
      CorpusPipeline.curateIncrementalStaged(docs, "doc_id", "text", stateDir, cfg)
    assert(out2.count() == 1, "uncommitted batch must be re-seen (at-least-once)")
    commit2()
    // after commit: the invariant run-on-unchanged-input-is-a-no-op holds
    val (out3, _) = CorpusPipeline.curateIncrementalStaged(docs, "doc_id", "text", stateDir, cfg)
    assert(out3.count() == 0, "committed batch is seen")
  }

  test("packSequences rejects non-integral id columns loudly") {
    val docs = Seq(("doc-a", 5L)).toDF("doc_id", "n_tokens")
    val ex = intercept[IllegalArgumentException] {
      CorpusPipeline.packSequences(docs, "doc_id", "n_tokens", budget = 10L)
    }
    assert(ex.getMessage.contains("must be integral"))
  }

  test("incremental near-dup vs signature store: re-crawled page under a NEW id is dropped") {
    val stateDir = Files.createTempDirectory("curstate2").toString + "/state"
    val sigDir = Files.createTempDirectory("sigstate").toString + "/sigs"
    val base = (1 to 30).map(i => s"tok$i the a of").mkString(" ")
    val other = (50 to 90).map(i => s"yy$i the").mkString(" ")
    val (run1, commit1) = CorpusPipeline.curateIncrementalNearDupStaged(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      "doc_id", "text", stateDir, sigDir, cfg)
    commit1()
    assert(run1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // run 2: a near-copy of doc 1 under a NEW id (id anti-join can't see
    // it; within-delta dedup can't either) plus a genuinely fresh doc
    val nearCopy = base + " extra"
    val freshDoc = (200 to 240).map(i => s"qq$i the").mkString(" ")
    val (run2, commit2) = CorpusPipeline.curateIncrementalNearDupStaged(
      Seq((10L, nearCopy), (11L, freshDoc)).toDF("doc_id", "text"),
      "doc_id", "text", stateDir, sigDir, cfg)
    commit2()
    assert(run2.select("doc_id").as[Long].collect().toSet == Set(11L),
      "near-copy must be dropped by the signature store, fresh doc kept")
    // the fresh doc's signature joined the store: a re-crawl of IT now drops too
    val (run3, commit3) = CorpusPipeline.curateIncrementalNearDupStaged(
      Seq((20L, freshDoc + " tail")).toDF("doc_id", "text"),
      "doc_id", "text", stateDir, sigDir, cfg)
    commit3()
    assert(run3.count() == 0)
  }

  test("round-robin interleave: slots unique, order cycles strata, partition-invariant") {
    val docs = (1L to 30L).map(i => (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("doc_id", "source")
    val out = CorpusPipeline.roundRobinInterleave(docs, "doc_id", "source")
      .select(col("doc_id"), col("source"), col("slot")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.length == 30)
    assert(out.map(_._3).distinct.length == 30, "slots must be unique")
    // ordering by slot cycles a,b,c while all strata have rows (10 each here)
    val cycled = out.sortBy(_._3).map(_._2)
    assert(cycled.grouped(3).forall(_.toSet == Set("a", "b", "c")),
      s"each consecutive triple must cover all strata: ${cycled.toSeq}")
    // deterministic shuffle: identical slots under a different partitioning
    val repart = CorpusPipeline.roundRobinInterleave(docs.repartition(7), "doc_id", "source")
      .select(col("doc_id"), col("slot")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(r => r._1 -> r._3).toMap == repart, "slot must not depend on partitioning")
  }

  test("writeRelease: partitioned layout, manifest certifies written data, sig is layout-invariant") {
    val dir = Files.createTempDirectory("release").toString + "/corpus"
    val docs = Seq(
      (1L, "en", "one two three"), (2L, "en", "four five"),
      (3L, "fr", "un deux trois quatre")).toDF("doc_id", "lang", "text")
    val manifest = CorpusPipeline.writeRelease(docs, dir, "lang", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(manifest("en")._1 == 2 && manifest("en")._2 == 5)
    assert(manifest("fr")._1 == 1 && manifest("fr")._2 == 4)
    // release re-reads as data; the _manifest dir is invisible to discovery
    val back = spark.read.parquet(dir)
    assert(back.count() == 3 && back.columns.toSet == Set("doc_id", "lang", "text"))
    // content signature is invariant to physical layout...
    val dir2 = Files.createTempDirectory("release").toString + "/corpus"
    val manifest2 = CorpusPipeline.writeRelease(docs.repartition(7), dir2, "lang", "text")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(manifest2("en") == manifest("en")._3 && manifest2("fr") == manifest("fr")._3)
    // ...but not to content
    val dir3 = Files.createTempDirectory("release").toString + "/corpus"
    val tampered = docs.withColumn("text",
      when(col("doc_id") === 1L, lit("one two CHANGED")).otherwise(col("text")))
    val manifest3 = CorpusPipeline.writeRelease(tampered, dir3, "lang", "text")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(manifest3("en") != manifest("en")._3, "content change must change the signature")
    assert(manifest3("fr") == manifest("fr")._3, "untouched partition keeps its signature")
  }

  test("curate normalizeUnicode: NFC variants collapse to one doc in exact dedup") {
    val base = "the quick brown fox jumps over the lazy dog caf"
    val composed = (1L, base + "\u00e9 here and plenty of extra tokens to pass quality gates")
    val decomposed = (2L, base + "e\u0301 here and plenty of extra tokens to pass quality gates")
    val docs = Seq(composed, decomposed).toDF("doc_id", "text")
    // without normalization the byte-different renderings both survive
    val off = CorpusPipeline.curate(docs, "doc_id", "text",
      CorpusPipeline.Config(minTokens = 5))
    assert(off.count() == 2, "NFC variants defeat exact dedup when normalization is off")
    // normalized before curation, they fingerprint identically and dedup keeps one
    val on = CorpusPipeline.curate(docs.withColumn("text", TF.cleanText(col("text"))),
      "doc_id", "text", CorpusPipeline.Config(minTokens = 5))
    assert(on.count() == 1, "normalized variants collapse")
    assert(on.select(max(length(col("text")))).as[Int].head() ==
      on.select(min(length(col("text")))).as[Int].head())
  }

  test("unigram surprisal: closed-form on a known distribution, rare > common") {
    // corpus: tokens a×4, b×2, x×1, y×1 (total 8)
    val docs = Seq((1L, "a a b"), (2L, "a a b x"), (3L, "y")).toDF("doc_id", "text")
    val out = CorpusPipeline.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    def s(c: Long) = -math.log(c / 8.0)
    assert(math.abs(out(1L)._1 - (2 * s(4) + s(2)) / 3.0) < 1e-9)
    assert(math.abs(out(2L)._1 - (2 * s(4) + s(2) + s(1)) / 4.0) < 1e-9)
    assert(math.abs(out(3L)._1 - s(1)) < 1e-9)
    assert(out(1L)._2 == 3 && out(2L)._2 == 4 && out(3L)._2 == 1)
    // the all-rare doc is the most surprising; the all-common the least
    assert(out(3L)._1 > out(2L)._1 && out(2L)._1 > out(1L)._1)
  }

  test("mixture weights: alpha=1 is the natural share, small alpha compresses") {
    val docs = (Seq.fill(90)("big") ++ Seq.fill(10)("small")).zipWithIndex
      .map { case (src, i) => (i.toLong, src, "tok tok tok tok") }
      .toDF("doc_id", "source", "text")
    def w(alpha: Double) =
      CorpusPipeline.mixtureWeights(docs, "source", "text", alpha)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val natural = w(1.0)
    assert(natural("big")._1 == 360 && natural("small")._1 == 40)
    assert(math.abs(natural("big")._3 - 0.9) < 1e-9, "alpha=1 reproduces natural share")
    val temp = w(0.3)
    assert(temp("small")._3 > 0.1 && temp("big")._3 < 0.9,
      "temperature upweights the small source")
    assert(math.abs(temp("big")._3 + temp("small")._3 - 1.0) < 1e-9, "weights normalize")
    assert(temp("big")._3 > temp("small")._3, "but never inverts the order")
  }

  test("weighted sample: inclusion tracks weight, deterministic, zero-weight excluded") {
    // 50 heavy docs (w=100) vs 150 light (w=1): with k=40 the heavy set
    // must dominate in any draw
    val docs = ((1L to 50L).map(i => (i, 100L)) ++ (51L to 200L).map(i => (i, 1L)))
      .toDF("id", "w")
    def draw(salt: String) = CorpusPipeline.weightedSample(docs, "id", "w", 40, salt)
      .select(col("id")).as[Long].collect().toSet
    val d1 = draw("s1")
    assert(d1.size == 40)
    assert(d1.count(_ <= 50L) > 25, s"heavy docs must dominate: ${d1.count(_ <= 50L)}/40")
    // deterministic and partition-invariant
    assert(draw("s1") == d1)
    assert(CorpusPipeline.weightedSample(docs.repartition(7), "id", "w", 40, "s1")
      .select(col("id")).as[Long].collect().toSet == d1)
    // a different salt redraws
    assert(draw("s2") != d1)
    // zero/negative weights can never be selected
    val withBad = docs.union(Seq((900L, 0L), (901L, -5L)).toDF("id", "w"))
    val d3 = CorpusPipeline.weightedSample(withBad, "id", "w", 200)
      .select(col("id")).as[Long].collect().toSet
    assert(!d3.contains(900L) && !d3.contains(901L))
    assert(d3.size == 200, "k <= positive-weight rows → exactly k")
  }

  test("adaptive quality filter: per-stratum discrete-p25 cutoff, ties kept, partition-invariant") {
    // stratum "a": scores 1..8 → target row ceil(0.25*8)=2 → thr=2, keeps 2..8
    // stratum "b": scores 100x then 200 over ties → per-stratum cutoffs independent
    val a = (1 to 8).map(i => (i.toLong, "a", i.toLong))
    val b = Seq((101L, "b", 100L), (102L, "b", 100L), (103L, "b", 100L),
      (104L, "b", 100L), (105L, "b", 200L), (106L, "b", 200L),
      (107L, "b", 200L), (108L, "b", 200L))
    val df = (a ++ b).toDF("id", "stratum", "score")
    val out = CorpusPipeline.adaptiveQualityFilter(df, "score", "stratum", 1, 4)
      .select(col("id"), col("thr")).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet.filter(_ <= 8L) == (2L to 8L).toSet, "a drops only score 1")
    assert(out.filter(_._1 <= 8L).values.toSet == Set(2L), "a's cutoff is the rank-2 value")
    // b: target row = 2 → thr = 100; ALL rows tied at the cutoff survive
    assert(out.keySet.filter(_ > 100L) == (101L to 108L).toSet, "boundary ties kept")
    assert(out(101L) == 100L)
    // partition-invariant: same survivors under a different layout
    val re = CorpusPipeline.adaptiveQualityFilter(df.repartition(5), "score", "stratum", 1, 4)
      .select(col("id")).as[Long].collect().toSet
    assert(re == out.keySet)
  }

  test("stratified sample: exactly k per stratum, deterministic, partition-invariant") {
    val docs = (1L to 100L).map(i => (i, if (i % 4 == 0) "web" else if (i % 4 == 1) "code" else "books"))
      .toDF("doc_id", "source")
    def sample(df: org.apache.spark.sql.DataFrame) =
      CorpusPipeline.samplePerStratum(df, "doc_id", "source", 5)
        .select(col("doc_id"), col("source")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
    val out = sample(docs)
    assert(out.length == 15, "3 strata x k=5")
    assert(out.groupBy(_._2).forall(_._2.length == 5), "exactly k per stratum")
    // deterministic AND partition-invariant: identical rows under a different layout
    assert(sample(docs.repartition(7)).toSet == out.toSet)
    // small strata are kept whole (k exceeds size)
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "source")
    assert(sample(tiny).toSet == Set((1L, "a"), (2L, "a"), (3L, "b")))
    // output carries no helper column
    assert(!CorpusPipeline.samplePerStratum(docs, "doc_id", "source", 5)
      .columns.contains("__h"))
  }

  test("deterministic split: stable across partitioning, weights respected, no migration") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def splits(df: org.apache.spark.sql.DataFrame) =
      CorpusPipeline.deterministicSplit(df, "doc_id", "s1")
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    val a = splits(docs)
    val b = splits(docs.repartition(7))
    assert(a == b) // pure function of (id, salt): partitioning-invariant
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    // ~98% train at 500 docs: allow generous tolerance but catch a swap
    val trainFrac = a.values.count(_ == "train").toDouble / a.size
    assert(trainFrac > 0.9)
    // a different salt is a different (valid) assignment
    val c = CorpusPipeline.deterministicSplit(docs, "doc_id", "s2")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(c != a)
    // 50/50 split: both labels materially populated
    val even = CorpusPipeline.deterministicSplit(docs, "doc_id", "s1",
      Seq("a" -> 0.5, "b" -> 0.5))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(even.keySet == Set("a", "b") && even.values.forall(_ > 100))
  }

  test("leakageSafeSplit: clusters move together, singletons match deterministicSplit, partition-invariant") {
    val docs = (1L to 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // transitive chain 1-2, 2-3 plus a plain pair 10-11: components
    // {1,2,3} rep 1 and {10,11} rep 10; everything else singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = CorpusPipeline.leakageSafeSplit(docs, "doc_id", pairs, "s1",
        splits = Seq("a" -> 0.5, "b" -> 0.5))
      .select("doc_id", "split_key", "split").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L && out(3L)._1 == 1L)
    assert(out(10L)._1 == 10L && out(11L)._1 == 10L)
    // the leakage property: every cluster member shares one split label
    assert(Set(out(1L)._2, out(2L)._2, out(3L)._2).size == 1)
    assert(out(10L)._2 == out(11L)._2)
    // singletons: split_key is the id itself and the label is exactly
    // what deterministicSplit assigns standalone
    val solo = CorpusPipeline.deterministicSplit(
        docs.filter(col("doc_id") > 11), "doc_id", "s1",
        Seq("a" -> 0.5, "b" -> 0.5))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    solo.foreach { case (id, s) =>
      assert(out(id)._1 == id && out(id)._2 == s, s"singleton $id")
    }
    // pure function of (corpus, pairs, salt): partitioning-invariant
    val re = CorpusPipeline.leakageSafeSplit(
        docs.repartition(7), "doc_id", pairs.repartition(3), "s1",
        splits = Seq("a" -> 0.5, "b" -> 0.5))
      .select("doc_id", "split_key", "split").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(re == out)
  }

  test("boilerplate line removal: frequent lines drop, prose stays, order preserved") {
    val nav = "HOME | ABOUT | CONTACT"
    val footer = "(c) example.com all rights reserved"
    val docs = Seq(
      (1L, s"$nav\nunique prose one\n$footer"),
      (2L, s"$nav\nanother unique paragraph\nmore text here\n$footer"),
      (3L, s"$nav\nthird doc body\n$footer"),
      (4L, "standalone doc with no boilerplate at all"),
      (5L, "")) // empty doc must survive (split("") = [""]: one empty unit)
      .toDF("doc_id", "text")
    val out = CorpusPipeline.removeFrequentUnits(docs, "doc_id", split(col("text"), "\n"),
        minDocs = 3)
      .select(col("doc_id"), array_join(col("kept_units"), "\n").as("kept_text"),
        col("n_kept"), col("n_removed"))
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, "unique prose one", 1L, 2L)))
    assert(out(2L) == ((2L, "another unique paragraph\nmore text here", 2L, 2L)))
    assert(out(3L) == ((3L, "third doc body", 1L, 2L)))
    assert(out(4L) == ((4L, "standalone doc with no boilerplate at all", 1L, 0L)))
    assert(out(5L)._2 == "" && out(5L)._4 == 0L)
  }

  test("sequence packing: every doc exactly once, budget respected, deterministic") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    val budget = 200L
    val packed = CorpusPipeline.packSequences(docs, "doc_id", "n_tokens", budget).cache()
    // exactly-once: the packed ids are precisely the input ids
    val inIds = docs.select("doc_id").as[Long].collect().sorted.toSeq
    val outIds = packed.select("doc_id").as[Long].collect().sorted.toSeq
    assert(outIds == inIds)
    // every multi-doc sequence within budget; single oversize docs allowed
    val over = packed.groupBy("seq_id")
      .agg(count(lit(1)).as("n"), sum("n_tokens").as("fill"))
      .filter(col("fill") > budget && col("n") > 1).count()
    assert(over == 0L)
    // deterministic under input re-partitioning (internal hash repartition)
    val again = CorpusPipeline.packSequences(docs.repartition(5), "doc_id", "n_tokens", budget)
      .select("seq_id", "doc_id").as[(Long, Long)].collect().toSet
    assert(again == packed.select("seq_id", "doc_id").as[(Long, Long)].collect().toSet)
    packed.unpersist()
    // a doc bigger than the budget gets its own bin rather than vanishing
    val tiny = Seq((1L, 500L), (2L, 10L), (3L, 20L)).toDF("doc_id", "n_tokens")
    val t = CorpusPipeline.packSequences(tiny, "doc_id", "n_tokens", budget = 100L)
      .select("seq_id", "doc_id").as[(Long, Long)].collect()
    assert(t.map(_._2).toSet == Set(1L, 2L, 3L))
    val byBin = t.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byBin.values.exists(_ == Set(1L))) // oversize doc isolated
  }

  test("curateObserved reports the funnel on the same job, no extra pass") {
    val docs = (1L to 12L).map(i =>
      (i, if (i <= 3) "too short" // dropped by the quality gate
          else s"word$i more$i text$i the a of plus$i enough$i tokens$i here$i")).toDF("id", "text")
    val (out, ingest, ship) = CorpusPipeline.curateObserved(docs, "id", "text", cfg)
    val shipped = out.collect() // ONE action drives both observations
    assert(ingest.get("n_docs") == 12L)
    assert(ingest.get("n_tokens").asInstanceOf[Long] > 0L)
    assert(ship.get("n_docs") == shipped.length.toLong)
    assert(ship.get("n_tokens") ==
      shipped.map(_.getAs[Int]("n_tokens").toLong).sum)
  }

  test("chunking: boundaries exact, overlap shared, every token covered, short docs intact") {
    // 5-token window, 2-token overlap → step 3; 11 tokens → starts 0,3,6
    // (start 6 covers t7..t11 — coverage is complete with no redundant
    // trailing chunk); 12 tokens → a genuine short remainder at start 9
    val doc = (1 to 11).map(i => s"t$i").mkString(" ")
    val doc12 = (1 to 12).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b c"), (3L, "x y z p q"), (4L, "   "),
      (5L, doc12)).toDF("doc_id", "text")
    val got = CorpusPipeline.chunkDocuments(df, "doc_id", "text", chunkTokens = 5, overlapTokens = 2)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, Long, String)].collect()
    val d1 = got.filter(_._1 == 1L).map(c => (c._2, c._4))
    assert(d1.toSeq == Seq(
      0L -> "t1 t2 t3 t4 t5",
      1L -> "t4 t5 t6 t7 t8",     // 2-token overlap with the previous chunk
      2L -> "t7 t8 t9 t10 t11"))
    // 12 tokens: last full window ends at t11, so a short remainder chunk
    // picks up t10..t12 (still overlap-2 with its predecessor, never empty)
    assert(got.filter(_._1 == 5L).map(c => (c._2, c._4)).toSeq == Seq(
      0L -> "t1 t2 t3 t4 t5",
      1L -> "t4 t5 t6 t7 t8",
      2L -> "t7 t8 t9 t10 t11",
      3L -> "t10 t11 t12"))
    // short doc (n < chunk) and exact-size doc (n == chunk) → one chunk each
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 3L, "a b c")))
    assert(got.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 5L, "x y z p q")))
    // blank doc filtered, not chunked into [""]
    assert(!got.exists(_._1 == 4L))
    // coverage: concatenating chunks at stride `step` reconstructs the doc
    val strideTokens = d1.map(_._2.split(" ")).zipWithIndex
      .flatMap { case (toks, i) => if (i == 0) toks else toks.drop(2) }
    assert(strideTokens.toSeq == (1 to 11).map(i => s"t$i"))
  }

  test("chunking invariants on random docs: exact slices, count formula, coverage to the end") {
    val rnd = new scala.util.Random(42)
    val docs = (1 to 60).map { i =>
      val n = 1 + rnd.nextInt(150)
      (i.toLong, (1 to n).map(j => s"w$j").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for ((size, overlap) <- Seq((8, 0), (16, 4), (32, 31))) { // incl. step=1 stress
      val step = size - overlap
      val got = CorpusPipeline.chunkDocuments(df, "doc_id", "text", size, overlap)
        .as[(Long, Long, Long, String)].collect().groupBy(_._1)
      docs.foreach { case (id, text) =>
        val toks = text.split(" ").toSeq
        val chunks = got(id).sortBy(_._2).map(_._4.split(" ").toSeq).toSeq
        val expected = 1 + math.ceil(math.max(toks.length - size, 0).toDouble / step).toInt
        assert(chunks.length == expected, s"size=$size overlap=$overlap n=${toks.length}")
        chunks.zipWithIndex.foreach { case (c, k) =>
          assert(c == toks.slice(k * step, math.min(k * step + size, toks.length)),
            s"size=$size overlap=$overlap n=${toks.length} chunk=$k")
        }
        // the last chunk always reaches the final token (full coverage)
        assert((chunks.length - 1) * step + chunks.last.length == toks.length)
      }
    }
  }

  test("snapshot diff: added/removed/changed/unchanged; whitespace-only rewrite is unchanged") {
    val oldSnap = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "delta"), (5L, "eps")).toDF("doc_id", "text")
    val newSnap = Seq((1L, "alpha beta"), (2L, "gamma NEW"), (4L, "zeta"),
      (5L, "  eps  ")).toDF("doc_id", "text") // 5: normalization-invariant edit
    val got = graft.operators.Incremental.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged"))
  }

  test("curate on fixture corpus + partitioned write + accounting") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val curated = CorpusPipeline.curate(docs, "doc_id", "text", cfg).cache()
    val n = curated.count()
    assert(n > 0 && n <= 500)
    val out = Files.createTempDirectory("corpus").toString + "/curated"
    CorpusPipeline.write(curated, out)
    // partition pruning layout exists
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("predicted_lang=")))
    // accounting sums match
    val acct = CorpusPipeline.accounting(curated)
      .as[(String, Long, Long)].collect()
    assert(acct.map(_._2).sum == n)
    curated.unpersist()
  }
}

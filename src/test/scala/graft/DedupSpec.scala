package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Incremental, Relational}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact content groups finds duplicate texts") {
    val df = Seq((1L, "hello world"), (2L, "other text"), (3L, "hello world")).toDF("id", "text")
    val r = Dedup.exactContentGroups(df, "id", "text")
      .select("id", "canonical_id", "dup_count").as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(r.toSeq == Seq((1L, 1L, 2L), (2L, 2L, 1L), (3L, 1L, 2L)))
  }

  test("exact content groups: NULL texts form their own duplicate group") {
    // sha2(NULL) is NULL — without the coalesce-to-sentinel the window key
    // is null-grouped by Spark but the old join form never matched, and
    // rows silently vanished. NULL texts must dedup AGAINST EACH OTHER,
    // never against empty-string or real texts.
    val df = Seq((1L, Some("a")), (2L, None), (3L, None), (4L, Some("")), (5L, Some("a")))
      .toDF("id", "text")
    val r = Dedup.exactContentGroups(df, "id", "text")
      .select("id", "canonical_id", "dup_count").as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(r.toSeq == Seq(
      (1L, 1L, 2L), // "a" group of 2
      (2L, 2L, 2L), (3L, 2L, 2L), // both NULLs, one group, canonical = min id
      (4L, 4L, 1L), // empty string is its own (non-null) group
      (5L, 1L, 2L)))
  }

  test("exact dedup by key (topKPerGroup, k = 1) keeps lowest id per key") {
    val df = Seq((3L, "k1"), (1L, "k1"), (2L, "k2")).toDF("id", "k")
    val kept = Relational.topKPerGroup(df, Seq(col("k")), Seq(col("id").asc), 1).drop("rank")
      .as[(Long, String)].collect().toSet
    assert(kept == Set((1L, "k1"), (2L, "k2")))
  }

  test("minhash LSH finds near-duplicate pair, skips dissimilar") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 38).map(i => s"tok$i") ++ Seq("x1", "x2")).mkString(" ")
    val far = (100 to 140).map(i => s"zz$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDuplicates(df, "doc_id", "text",
      shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("incremental near-dup vs signature state: planted copy flagged, fresh doc survives") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (50 to 90).map(i => s"yy$i").mkString(" ")
    val stateDocs = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val state = Dedup.minHashSignatures(stateDocs, "doc_id", "text",
      shingleSize = 2, numHashes = 32)
    val nearCopy = ((1 to 38).map(i => s"tok$i") ++ Seq("x1", "x2")).mkString(" ")
    val fresh = (200 to 240).map(i => s"qq$i").mkString(" ")
    val exact = base // identical re-crawl under a new id
    val batch = Seq((10L, nearCopy), (11L, fresh), (12L, exact)).toDF("doc_id", "text")
    val got = Dedup.minHashNearDuplicatesVsState(batch, "doc_id", "text", state,
      shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.5)
      .select(col("doc_id"), col("dup_of"), col("est_jaccard"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
      .toMap
    assert(got(10L)._1.contains(1L), s"near copy must match state doc 1: $got")
    assert(got(11L)._1.isEmpty, s"fresh doc must survive: $got")
    assert(got(12L)._1.contains(1L) && got(12L)._2 == 1.0,
      s"identical re-crawl: estimate must be exactly 1.0: $got")
    // batch keyed rows come back exactly once each (left join, grouped match)
    assert(got.size == 3)
  }

  test("incremental near-dup vs state: empty-shingle docs never band-collide") {
    // docs with fewer tokens than shingleSize get the all-MaxValue sentinel
    // signature; without the banding guard, any two such docs "agree" at
    // every position (estimate exactly 1.0) and unrelated short docs get
    // silently dropped as duplicates of each other
    val state = Dedup.minHashSignatures(
      Seq((1L, "just two"), (2L, (50 to 90).map(i => s"yy$i").mkString(" ")))
        .toDF("doc_id", "text"),
      "doc_id", "text", shingleSize = 3, numHashes = 32)
    val batch = Seq((10L, "also short"), (11L, "ok"), (12L, ""))
      .toDF("doc_id", "text")
    val got = Dedup.minHashNearDuplicatesVsState(batch, "doc_id", "text", state,
      shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.7)
      .select(col("doc_id"), col("dup_of")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(got == Map(10L -> true, 11L -> true, 12L -> true),
      s"short docs must not match the state's short doc: $got")
  }

  test("signature-state compaction: detect-parity, keep-latest, retention, rerun no-op") {
    val dir = java.nio.file.Files.createTempDirectory("sigstate").toString + "/state"
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (50 to 90).map(i => s"yy$i").mkString(" ")
    val stateDocs = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    def sigs(docs: org.apache.spark.sql.DataFrame, batchId: Long) =
      Dedup.minHashSignatures(docs, "doc_id", "text", shingleSize = 2, numHashes = 32)
        .withColumn("batch_id", lit(batchId))
    // three redundant appends: run 1 full, run 2 re-appends doc 1
    // UNCHANGED (identical sig, bumped version), run 3 re-appends both
    sigs(stateDocs, 1L).write.mode("append").parquet(dir)
    sigs(stateDocs.filter(col("doc_id") === 1L), 2L).write.mode("append").parquet(dir)
    sigs(stateDocs, 3L).write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() == 5)

    val batch = Seq((10L, base), (11L, (200 to 240).map(i => s"qq$i").mkString(" ")))
      .toDF("doc_id", "text")
    def verdicts(state: org.apache.spark.sql.DataFrame) =
      Dedup.minHashNearDuplicatesVsState(batch, "doc_id", "text", state,
        shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.5)
        .select(col("doc_id"), col("dup_of"), col("est_jaccard"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2))).sortBy(_._1).toSeq

    val before = verdicts(spark.read.parquet(dir))
    val (b1, a1) = Dedup.compactSignatureStateKeys(spark, dir, Seq("doc_id"),
      versionCol = Some("batch_id"), retain = None)
    assert(b1 == 5 && a1 == 2, s"keep-latest must leave one row per doc: $b1 -> $a1")
    val compacted = spark.read.parquet(dir)
    // latest version won
    assert(compacted.select(min(col("batch_id"))).head().getLong(0) == 3L)
    // DETECTION PARITY: redundant duplicates removed, verdicts unchanged
    assert(verdicts(compacted) == before)

    // rerun no-op: compacting a compacted state keeps every row
    val (b2, a2) = Dedup.compactSignatureStateKeys(spark, dir, Seq("doc_id"),
      versionCol = Some("batch_id"), retain = None)
    assert(b2 == 2 && a2 == 2)

    // retention predicate drops doc 2's signature; doc 1 still detected
    val (_, a3) = Dedup.compactSignatureStateKeys(spark, dir, Seq("doc_id"),
      versionCol = Some("batch_id"), retain = Some(col("doc_id") =!= 2L))
    assert(a3 == 1)
    assert(verdicts(spark.read.parquet(dir)).map(v => v._1 -> v._2) ==
      Seq(10L -> 1L, 11L -> -1L))
  }

  test("compactSignatureStateKeys without a version column collapses exact re-appends only") {
    val dir = java.nio.file.Files.createTempDirectory("sigstate2").toString + "/state"
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    val s = Dedup.minHashSignatures(docs, "doc_id", "text", 2, 16)
    s.write.mode("append").parquet(dir)
    s.write.mode("append").parquet(dir) // byte-identical re-append
    // a CHANGED doc 1 lands a second, different signature — no version
    // column orders the two, so BOTH must survive (nothing guessed)
    Dedup.minHashSignatures(Seq((1L, "a b c d e CHANGED")).toDF("doc_id", "text"),
      "doc_id", "text", 2, 16).write.mode("append").parquet(dir)
    val (before, after) = Dedup.compactSignatureStateKeys(spark, dir, Seq("doc_id"),
      versionCol = None, retain = None)
    assert(before == 5 && after == 3, s"exact dups only: $before -> $after")
  }

  test("signature-agreement estimate: 150-seed Chernoff envelope at controlled jaccard") {
    // q75's estimate path (matching minhash positions / k) has no SQL
    // oracle — natural pairs at jaccard j agree on all 32 positions only
    // with probability j^32 (memory: ~0.38 at j=0.97), so estimate
    // values are not SQL-predictable. It IS bound-testable: for shingle
    // sets with EXACT jaccard j, each signature position agrees with
    // probability j independently (k-permutation minhash), so over N
    // seeds the mean agreement is j ± z·√(j(1−j)/(32N)) and the
    // full-agreement rate is j^32 ± z·√(j^32(1−j^32)/N). z = 4.5 keeps
    // the false-alarm odds ~1e-5 per bound; the draw is deterministic
    // (xxhash64), so this either holds or flags a real estimator bug.
    import graft.functions.{HashFunctions => HF}
    val n = 150
    // (targetJaccard, shared, perSideOnly): j = s / (s + 2x) exactly
    val designs = Seq((0.5, 40, 20), (0.8, 80, 10), (0.97, 194, 3))
    for ((j, s, x) <- designs) {
      val rows = (1 to n).map { seed =>
        val shared = (0 until s).map(i => s"sh${seed}_$i")
        val ta = shared ++ (0 until x).map(i => s"a${seed}_$i")
        val tb = shared ++ (0 until x).map(i => s"b${seed}_$i")
        (seed, ta, tb)
      }
      val agreements = rows.toDF("seed", "ta", "tb")
        .select(
          HF.minHashFromHashes(HF.hashShingles(col("ta")), 32).as("sa"),
          HF.minHashFromHashes(HF.hashShingles(col("tb")), 32).as("sb"))
        .select((aggregate(
          zip_with(col("sa"), col("sb"), (p, q) => when(p === q, 1L).otherwise(0L)),
          lit(0L), _ + _).cast("double") / 32.0).as("agree"))
        .as[Double].collect()
      assert(agreements.length == n)
      val mean = agreements.sum / n
      val meanSd = math.sqrt(j * (1 - j) / (32.0 * n))
      assert(math.abs(mean - j) <= 4.5 * meanSd,
        f"j=$j: mean agreement $mean%.4f outside $j ± ${4.5 * meanSd}%.4f")
      val fullRate = agreements.count(_ == 1.0).toDouble / n
      val p32 = math.pow(j, 32)
      val fullSd = math.sqrt(p32 * (1 - p32) / n)
      assert(math.abs(fullRate - p32) <= math.max(4.5 * fullSd, 1.5 / n),
        f"j=$j: full-agreement rate $fullRate%.4f outside ${p32}%.4f ± ${4.5 * fullSd}%.4f")
    }
  }

  test("simhash near-dup: identical docs distance 0; different docs filtered") {
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, a), (2L, a), (3L, "completely different words entirely")).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDuplicates(df, "doc_id", "text")
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 == 0)
  }

  test("embedding near-dup within block") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.99f, 0.05f), 0),
      (3L, Seq(-1.0f, 0.0f), 0), (4L, Seq(1.0f, 0.0f), 1)).toDF("id", "emb", "blk")
    val pairs = Dedup.embeddingNearDuplicates(df, "id", "emb", "blk", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // 3 is opposite; 4 is another block
  }

  test("incremental: rerun on unchanged input yields zero new rows") {
    val state = Seq(("p1", "w1", "f1"), ("p1", "w1", "f2")).toDF("kode_proyek", "minggu", "nama_file")
    val input = Seq(("p1", "w1", "f1"), ("p1", "w1", "f2"), ("p2", "w1", "f1"))
      .toDF("kode_proyek", "minggu", "nama_file")
    val fresh = Incremental.newRows(input, state, Seq("kode_proyek", "minggu", "nama_file"))
    assert(fresh.count() == 1)
    // after appending, rerun is a no-op — the reference's core invariant
    val state2 = state.unionByName(fresh)
    assert(Incremental.newRows(input, state2, Seq("kode_proyek", "minggu", "nama_file")).count() == 0)
  }

  test("decontamination flags docs sharing an n-gram with the benchmark, counts overlap") {
    val bench = Seq("the quick brown fox jumps over the lazy dog tonight").toDF("text")
    val corpus = Seq(
      (1L, "intro words then the quick brown fox jumps over something else"), // one shared 5-gram chain
      (2L, "completely unrelated content with no overlap at all here"),
      (3L, "the quick brown fox jumps over the lazy dog tonight and more")) // long overlap
      .toDF("doc_id", "text")
    val flagged = Dedup.flagContaminated(corpus, "doc_id", "text", bench, "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(1L) && flagged.contains(3L) && !flagged.contains(2L))
    assert(flagged(3L) > flagged(1L)) // longer overlap → more distinct shared grams
  }

  test("keepBestPerCluster: highest score survives, ties to larger id, singletons pass") {
    // cluster {1,2,3} via transitive edges 1-2, 2-3; cluster {10,11} tied
    // on score; 20 unclustered
    val df = Seq(
      (1L, 5L, "a"), (2L, 9L, "b"), (3L, 7L, "c"),
      (10L, 4L, "d"), (11L, 4L, "e"),
      (20L, 1L, "f")).toDF("id", "score", "payload")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.keepBestPerCluster(df, "id", "score", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set(
      (2L, 9L, "b"),   // transitive cluster: max score wins, payload intact
      (11L, 4L, "e"),  // score tie → larger id, deterministic
      (20L, 1L, "f"))) // unclustered passes through
    // contrast with keepOnePerCluster, whose pick is the min id
    val one = Dedup.keepOnePerCluster(df, "id", pairs)
      .select(col("id")).as[Long].collect().toSet
    assert(one == Set(1L, 10L, 20L))
  }

  test("newRows is NULL-safe on keys: a null-keyed row is new once, then seen") {
    val input = Seq((Option.empty[String], "x"), (Some("k1"), "y")).toDF("key", "v")
    val empty = input.filter(lit(false))
    val first = Incremental.newRows(input, empty, Seq("key"))
    assert(first.count() == 2, "everything is new against empty state")
    // after the state holds the same keys (incl. the null), nothing is new
    val state = input.select("key")
    assert(Incremental.newRows(input, state, Seq("key")).count() == 0,
      "null-keyed rows must match null state keys (invariant: rerun => zero new)")
  }

  test("newRows: duplicate state keys (a null key too) give the rows a de-duplicated state does") {
    val input = Seq(
      (Option("k1"), "a"), (Option("k2"), "b"), (Option("k2"), "b2"), (Option("k3"), "c"),
      (Option.empty[String], "n"), (Option("k4"), "d")).toDF("key", "v")
    val dupState = Seq(Option("k1"), Option("k1"), Option("k3"), Option("k3"), Option("k3"),
      Option.empty[String], Option.empty[String]).toDF("key")
    def fresh(state: org.apache.spark.sql.DataFrame) =
      Incremental.newRows(input, state, Seq("key")).as[(Option[String], String)].collect().sorted.toSeq
    val expected = Seq((Option("k2"), "b"), (Option("k2"), "b2"), (Option("k4"), "d"))
    // both physical strategies: a broadcast of the small state, and a
    // sort-merge join once broadcasting is off
    Seq("10485760", "-1").foreach { threshold =>
      val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      try {
        assert(fresh(dupState.distinct()) == expected, s"threshold $threshold")
        assert(fresh(dupState) == expected, s"threshold $threshold")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    }
  }

  test("flagContaminated tolerates a benchmark that already has the corpus text column name") {
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val bench = Seq(("alpha beta gamma delta epsilon zeta", "unrelated"))
      .toDF("prompt", "text") // has a 'text' column that is NOT the bench text
    val hits = Dedup.flagContaminated(corpus, "doc_id", "text", bench, "prompt", n = 3)
      .as[(Long, Long)].collect().toMap
    assert(hits(1L) >= 1L, s"overlap via the prompt column must flag: $hits")
  }

  test("hamming blocking: a 10k-row identical-signature group stays O(1) in the candidate join") {
    // the r16 verdict's crawl-placeholder scenario: one hot group of
    // 10 000 rows sharing ONE signature (every chunk slice collides),
    // plus a 2-member signature at hamming 2 and 60 far-away distincts.
    // Without the exact-equal collapse the blocked join would build m²
    // = 10^8 candidate pairs inside one block; with it the candidate
    // stage sees ONE representative for the hot group.
    val rnd = new scala.util.Random(7)
    val far = (0 until 60).map(i => (20000L + i, rnd.nextLong()))
    val hot = (0L until 10000L).map(i => (i, 0x0123456789abcdefL))
    val near = Seq((15000L, 0x0123456789abcdccL), // hamming 3 from hot sig
      (15001L, 0x0123456789abcdccL))
    val members = (hot ++ near ++ far).toDF("__id", "__sig")
    // candidate volume is the DISTINCT-signature blocked join: exactly
    // one surviving pair (hot-sig, near-sig) — not 10^8
    val repPairs = Dedup.hammingRepPairs(members, bits = 64, chunks = 8, maxHamming = 4)
      .collect()
    assert(repPairs.length == 1, s"rep candidates must collapse: ${repPairs.length}")
    assert(repPairs.head.getAs[Int]("hamming") == 3)
    // full output: C(10000,2) intra-hot + 1 intra-near + 10000*2 cross,
    // all hamming-correct (intra 0, cross 3)
    val out = Dedup.hammingNearDuplicates(members, bits = 64, chunks = 8, maxHamming = 4)
    val byH = out.groupBy(col("hamming")).count()
      .as[(Int, Long)].collect().toMap
    assert(byH(0) == 10000L * 9999L / 2 + 1, s"intra pairs: $byH")
    assert(byH(3) == 20000L, s"cross pairs: $byH")
    assert(byH.keySet == Set(0, 3), s"no other distances: $byH")
  }

  test("hamming blocking with collapse equals brute force on a random corpus") {
    val rnd = new scala.util.Random(42)
    // cluster structure: 40 anchor signatures, each with a few 0-3-bit
    // perturbations and some exact duplicates — covers intra, cross,
    // and unpaired rows in one corpus
    val rows = (0 until 40).flatMap { a =>
      val anchor = rnd.nextLong()
      (0 until 1 + rnd.nextInt(4)).map { j =>
        val flips = rnd.nextInt(4)
        val sig = (0 until flips).foldLeft(anchor)((s, _) => s ^ (1L << rnd.nextInt(64)))
        (a * 100L + j, sig)
      }
    }
    val members = rows.toDF("__id", "__sig").repartition(5).localCheckpoint(true)
    val got = Dedup.hammingNearDuplicates(members, bits = 64, chunks = 8, maxHamming = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      Seq((ia, sa), (ib, sb)) <- rows.combinations(2)
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 4
    } yield (math.min(ia, ib), math.max(ia, ib), h)).toSet
    assert(got == brute, s"collapse+expand must equal brute force: " +
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }
}

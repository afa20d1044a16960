package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, IvfReference, Similarity, VectorIndex}

class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  private def topk(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        round(col("cosine"), 9), col("rank"))
      .as[(Long, Long, Double, Int)].collect().sorted.toSeq

  /** The postings' on-disk layout: each `cell_bucket=` dir with the
    * centroid_id column of each of its data files, in file order. */
  private def bucketFiles(idxDir: String): Map[String, Seq[Seq[Int]]] =
    graft.sources.ParquetRead.dataFiles(spark, s"$idxDir/postings")
      .groupBy(_.getPath.getParent.getName).map { case (bucket, files) =>
        bucket -> files.map(f => spark.read.parquet(f.getPath.toString)
          .select("centroid_id").as[Int].collect().toSeq)
      }

  /** The layout every postings write keeps: the same bucket dirs, one
    * data file in each, centroid_id non-decreasing within it. */
  private def assertBucketLayout(idxDir: String, buckets: Set[String]): Unit = {
    val layout = bucketFiles(idxDir)
    assert(layout.keySet == buckets, s"bucket dirs changed: $buckets -> ${layout.keySet}")
    layout.foreach { case (bucket, files) =>
      assert(files.size == 1, s"$bucket holds ${files.size} data files")
      assert(files.head == files.head.sorted, s"$bucket: centroid_id out of order")
    }
  }

  test("a refused upsert deletes nothing: metadata mismatches throw before the delete") {
    val idxDir = Files.createTempDirectory("vecidx_refused").toString
    val corpus = Seq(
      1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0.9f, 0.1f, 0f, 0f),
      3L -> Seq(-1f, 0f, 0f, 0f), 4L -> Seq(-0.9f, 0f, 0.1f, 0f))
      .toDF("vec_id", "embedding")
      .withColumn("lang", when(pmod(col("vec_id"), lit(2)) === 0, "en").otherwise("de"))
    VectorIndex.build(corpus, "vec_id", "embedding", idxDir, k = 2, maxIter = 8,
      metaCols = Seq("lang"))
    val queries = Seq((100L, Seq(1f, 0f, 0f, 0f)), (101L, Seq(-1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    def probe() = topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 4, nprobe = 2))
    val before = probe()
    assert(before.map(_._2).toSet == Set(1L, 2L, 3L, 4L))
    // an empty metaCols differs from the stored set {lang}
    def upsert(b: org.apache.spark.sql.DataFrame, metaCols: Seq[String]) =
      IndexStore.upsert(b, "vec_id", "vec_id", VectorIndex.ReservedPostingCols, idxDir, 1L,
        metaCols)(VectorIndex.append(b, "vec_id", "embedding", idxDir, 1L, metaCols))
    intercept[IllegalArgumentException] {
      upsert(corpus.filter(col("vec_id") === 1L), Nil)
    }
    // the batch lacks the stored metadata column
    intercept[IllegalArgumentException] {
      upsert(corpus.filter(col("vec_id") === 3L).drop("lang"), Seq("lang"))
    }
    assert(probe() == before, "a refused upsert must leave its ids live")
  }

  test("queryTopK equals ivfCosineTopK with the same centroids; probes survive corpus deletion") {
    val base = Files.createTempDirectory("vecidx")
    val corpusDir = s"$base/corpus"; val idxDir = s"$base/idx"
    emb.write.parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    VectorIndex.build(corpus, "vec_id", "embedding", idxDir, k = 8, maxIter = 5)
    val queries = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val cents = spark.read.parquet(s"$idxDir/centroids")
    val oneShot = topk(IvfReference.ivfCosineTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding",
      cents, k = 3, nprobe = 2))
    val indexed = topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, nprobe = 2))
    assert(indexed == oneShot && oneShot.nonEmpty,
      s"indexed(${indexed.size}) != one-shot(${oneShot.size})")
    // state-only proof: delete the corpus parquet — the probe path must
    // not notice (it reads centroids + postings only)
    graft.sources.Compaction.deleteLocalDir(new java.io.File(corpusDir))
    assert(topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, nprobe = 2)) == indexed)
    // and the postings SCAN is pruned on BOTH tiers: the k-bounded
    // static bucket filter must land in PartitionFilters (unprobed
    // buckets' files are never opened) and the cell filter must be
    // PUSHED into the parquet scan (row-group stats skip of unprobed
    // cells inside probed buckets — the append-time sort makes the
    // stats tight)
    val plan = VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("cell_bucket"),
      s"probed-bucket filter must prune partitions:\n${plan.take(3000)}")
    assert(plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("In(centroid_id"),
      s"probed-cell filter must push into the scan:\n${plan.take(3000)}")
  }

  test("incremental appends equal a one-shot index; retries, re-ingests and compaction change nothing") {
    val base = Files.createTempDirectory("vecidx_inc")
    val full = s"$base/full"; val inc = s"$base/inc"
    val h0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val h1 = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    // one model, two indexes: build trains on h0 then indexes it; the
    // incremental index reuses the SAME frozen centroids via append
    VectorIndex.build(h0, "vec_id", "embedding", full, k = 8, maxIter = 5)
    VectorIndex.append(h1, "vec_id", "embedding", full, runId = 1L)
    VectorIndex.build(h0, "vec_id", "embedding", inc, k = 8, maxIter = 5)
    // centroids must be identical (deterministic training on h0)
    val cFull = spark.read.parquet(s"$full/centroids").orderBy("centroid_id")
      .as[(Int, Seq[Double])].collect().toSeq
    val cInc = spark.read.parquet(s"$inc/centroids").orderBy("centroid_id")
      .as[(Int, Seq[Double])].collect().toSeq
    assert(cFull == cInc, "k-means training must be deterministic")
    VectorIndex.append(h1, "vec_id", "embedding", inc, runId = 1L)
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    def q(dir: String) = topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", dir, k = 3, nprobe = 2))
    val want = q(full)
    assert(q(inc) == want && want.nonEmpty, "two-batch index must equal one-shot")
    // at-least-once retry of batch 1: identical postings, same answers
    VectorIndex.append(h1, "vec_id", "embedding", inc, runId = 1L)
    assert(q(inc) == want, "retried batch must be absorbed")
    // verbatim re-ingest under a NEW run id: also absorbed (dedup is on
    // (query, neighbor), ids unchanged)
    VectorIndex.append(h1, "vec_id", "embedding", inc, runId = 2L)
    assert(q(inc) == want, "re-ingested batch must be absorbed")
    // compaction folds the duplicates away and answers stay identical
    val buckets = bucketFiles(inc)
    assert(buckets.values.exists(_.size > 1), "appends leave several files per bucket")
    val (b, a) = VectorIndex.compact(spark, inc)
    assert(b > a, s"compaction must shrink: $b -> $a")
    assert(a == emb.count(), "folded postings = one row per corpus vector")
    assert(q(inc) == want, "compaction must be lossless")
    assertBucketLayout(inc, buckets.keySet)
  }

  test("re-build replaces the postings with the new model's, never mixes them") {
    // build overwrites centroids/ — postings assigned under the OLD
    // model must go with it, or they grow unboundedly and mis-file
    // vectors in the new cells (r14 review 2)
    val idxDir = s"${Files.createTempDirectory("vecidx_rebuild")}/idx"
    val h0 = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    VectorIndex.build(h0, "vec_id", "embedding", idxDir, k = 8, maxIter = 5)
    VectorIndex.build(emb, "vec_id", "embedding", idxDir, k = 8, maxIter = 5)
    assert(spark.read.parquet(s"$idxDir/postings").count() == emb.count(),
      "postings after a re-build = exactly the re-built corpus")
  }

  test("duplicate centroids: corpus and probes share ONE tie rule, so nprobe=1 never probes an empty twin") {
    // k-means pads duplicate centroids when its pool is smaller than k,
    // making exact cosine ties certain. The native ArgmaxCosine breaks
    // ties to the HIGHER index while the probe ranking breaks to the
    // LOWER — if append used it, every tied vector would file under
    // cell 2 here while nprobe=1 probes cell 0, returning nothing
    // (r14 review 2). Both sides now share cellsFor's rule.
    val base = Files.createTempDirectory("vecidx_ties")
    val idxDir = s"$base/idx"
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(1.0, 0.0, 0.0))
    VectorIndex.centroidsDf(spark, cents).write.parquet(s"$idxDir/centroids")
    val corpus = Seq(
      (1L, Seq(4.0f, 1.0f, 0.0f)), (2L, Seq(0.0f, 3.0f, 0.0f)),
      (3L, Seq(2.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    VectorIndex.append(corpus, "vec_id", "embedding", idxDir, 0L)
    VectorIndex.markBuilt(spark, idxDir) // hand-assembled index: stamp it whole
    val cells = spark.read.parquet(s"$idxDir/postings")
      .select(col("vec_id"), col("centroid_id"))
      .as[(Long, Int)].collect().toMap
    assert(cells(1L) == 0 && cells(3L) == 0,
      s"ties between duplicate cells 0 and 2 must file under the LOWER id: $cells")
    val queries = Seq((10L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 2, nprobe = 1))
    assert(got.map(r => (r._1, r._2)).toSet == Set((10L, 1L), (10L, 3L)),
      s"nprobe=1 must find the tied-cell members: $got")
    // and exact parity with the one-shot on the SAME duplicated model
    val oneShot = topk(IvfReference.ivfCosineTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
      spark.read.parquet(s"$idxDir/centroids"), k = 2, nprobe = 1))
    assert(got == oneShot, s"indexed $got != one-shot $oneShot")
  }

  test("a crashed build is loud: queries refuse an unmarked index; re-running build heals") {
    // build's crash contract (r15 ADVICE): the completion marker is
    // deleted first and written last, so a crash at ANY point inside
    // build leaves an index queryTopK refuses — never a silently
    // partial one (crash mid-initial-append) and never old postings
    // mis-filed under new centroids (postings die before the centroid
    // overwrite).
    val idxDir = s"${Files.createTempDirectory("vecidx_crash")}/idx"
    VectorIndex.build(emb, "vec_id", "embedding", idxDir, k = 8, maxIter = 5)
    val queries = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val want = topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, nprobe = 2))
    assert(want.nonEmpty)
    // simulate the crash window: marker gone (build deletes it before
    // touching anything), postings half-written — delete some rows'
    // worth by removing the marker alone; the REFUSAL must not depend
    // on how far the crash got
    assert(new java.io.File(idxDir, "_build_complete").delete())
    val ex = intercept[IllegalStateException] {
      VectorIndex.queryTopK(spark, queries, "vec_id", "embedding", idxDir, k = 3, nprobe = 2)
    }
    assert(ex.getMessage.contains("re-run build"), ex.getMessage)
    // rerun-to-heal: deterministic training makes the re-build produce
    // the identical index, and answers come back
    VectorIndex.build(emb, "vec_id", "embedding", idxDir, k = 8, maxIter = 5)
    assert(topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, nprobe = 2)) == want)
  }

  test("null/empty corpus embeddings: indexed and one-shot agree (both drop them)") {
    // r15 ADVICE boundary: queryTopK/cellsFor always dropped
    // null/empty corpus embeddings; ivfCosineTopK used to assign an
    // empty array (cosine 0.0 everywhere → lowest cell) and could
    // surface it as a 0.0-cosine neighbor when a probed cell held
    // fewer than k real candidates. Both now share the drop rule.
    val base = Files.createTempDirectory("vecidx_degen")
    val idxDir = s"$base/idx"
    val corpus = Seq(
      (1L, Some(Seq(1.0f, 0.0f))), (2L, Some(Seq(0.9f, 0.1f))),
      (3L, Some(Seq(0.0f, 1.0f))),
      (4L, Some(Seq.empty[Float])), (5L, None)) // degenerate rows
      .toDF("vec_id", "embedding")
    VectorIndex.build(corpus, "vec_id", "embedding", idxDir, k = 2, maxIter = 5)
    val queries = Seq((10L, Seq(1.0f, 0.05f))).toDF("vec_id", "embedding")
    // k=5 > real candidates in the probed cell: the empty-array row
    // would have padded the one-shot result before the fix
    val indexed = topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 5, nprobe = 1))
    val oneShot = topk(IvfReference.ivfCosineTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
      spark.read.parquet(s"$idxDir/centroids"), k = 5, nprobe = 1))
    assert(indexed == oneShot && indexed.nonEmpty, s"$indexed != $oneShot")
    assert(!indexed.exists(r => r._2 == 4L || r._2 == 5L),
      s"degenerate rows must never be neighbors: $indexed")
  }

  test("recall@10 floor on clustered data; probing every cell is exact (r15 item 1)") {
    // naturally clustered fixture (SynthEmbeddings, medium tightness:
    // intra-cos ≈ 0.84) — the retrieval-quality claim the planted-copy
    // oracle cannot make. Floors sit WELL below the measured values
    // (20k-corpus probe: nprobe=2 → 0.997) to absorb fixture-size
    // variance; the nprobe=k row is exact by construction (probing
    // every cell IS brute force) so it pins equality, not a floor.
    val n = 2000
    val corpus = SynthEmbeddings.clustered(spark, n, dim = 64, clusters = 20,
      noise = 0.10, seed = 42L, pointSeed = 1042L).localCheckpoint(true)
    val queries = SynthEmbeddings.clustered(spark, 200, dim = 64, clusters = 20,
      noise = 0.10, seed = 42L, pointSeed = 7042L, idOffset = 1000000L, shift = 0.0)
      .localCheckpoint(true)
    val truth = Similarity.bruteForceCosineTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val nTruth = truth.count().toDouble
    val idxDir = s"${Files.createTempDirectory("vecidx_recall")}/idx"
    val k = 45 // ceil(sqrt(2000))
    VectorIndex.build(corpus, "vec_id", "embedding", idxDir, k, maxIter = 5)
    def recall(nprobe: Int): Double =
      VectorIndex.queryTopK(spark, queries, "vec_id", "embedding", idxDir,
          k = 10, nprobe = nprobe)
        .select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .count() / nTruth
    val (r1, r2, r4, rAll) = (recall(1), recall(2), recall(4), recall(k))
    assert(r2 >= 0.85, s"recall@10 at the default nprobe=2 must be >= 0.85, got $r2")
    assert(r1 <= r2 && r2 <= r4, s"recall must grow with nprobe: $r1, $r2, $r4")
    assert(rAll == 1.0, s"nprobe=k probes every cell = brute force, got $rAll")
  }

  test("assignmentDrift: in-distribution appends read ~0, shifted appends are flagged, redelivery changes nothing") {
    // the frozen-centroid drift contract (r15 item 3): per-run mean
    // assignment cosine vs the build baseline, computed from k-bounded
    // state at append time — the cheap signal that tells an operator
    // WHEN the "re-build when drift warrants" clause applies.
    val idxDir = s"${Files.createTempDirectory("vecidx_drift")}/idx"
    val mk = (pointSeed: Long, idOff: Long, shift: Double) =>
      SynthEmbeddings.clustered(spark, 1500, dim = 64, clusters = 20,
        noise = 0.15, seed = 42L, pointSeed = pointSeed, idOffset = idOff,
        shift = shift)
    VectorIndex.build(mk(1042L, 0L, 0.0), "vec_id", "embedding", idxDir,
      k = 38, maxIter = 5)
    VectorIndex.append(mk(2042L, 100000L, 0.0), "vec_id", "embedding", idxDir, 1L)
    VectorIndex.append(mk(3042L, 200000L, 1.6), "vec_id", "embedding", idxDir, 2L)
    def driftRows = VectorIndex.assignmentDrift(spark, idxDir)
      .select(col("run_id"), round(col("mean_assign_cos"), 9),
        round(col("rel_drop"), 9))
      .as[(Long, Double, Double)].collect().toSeq
    val rows = driftRows
    val byRun = rows.map(r => r._1 -> r._3).toMap
    assert(byRun(0L) == 0.0, "run 0 IS the baseline")
    // 0.06: above the small-fixture sampling noise (a 1500-point
    // same-distribution batch reads ~0.035 against a baseline trained
    // on a different draw), still well under the 0.10 re-build trigger
    assert(math.abs(byRun(1L)) < 0.06,
      s"in-distribution append must read near-zero drift: ${byRun(1L)}")
    assert(byRun(2L) > 0.10,
      s"shift-1.6 append must be flagged well past the 0.1 trigger: ${byRun(2L)}")
    // at-least-once redelivery: identical postings, identical stats
    // row, bit-identical read
    VectorIndex.append(mk(3042L, 200000L, 1.6), "vec_id", "embedding", idxDir, 2L)
    assert(driftRows == rows, "redelivered run must not move the drift read")
    // compaction folds postings but preserves the run history
    VectorIndex.compact(spark, idxDir)
    assert(driftRows == rows, "compaction must not touch run_stats")
  }

  test("rebuildIfDrifted fires only on SUSTAINED drift, preserves the format, resets the baseline") {
    // closing the drift loop (the "re-build when drift warrants"
    // clause as one call): sustained rel_drop >= threshold over the
    // last `sustain` runs triggers a format-preserving re-build on the
    // caller's full corpus, and the re-build RESETS run_stats — the
    // new model's run 0 is the new baseline. Before this round build()
    // left old-model stats rows in place, so a re-built index's drift
    // read max-merged two models' run-0 rows — the bug this spec pins.
    val idxDir = s"${Files.createTempDirectory("vecidx_rebuild")}/idx"
    val mk = (pointSeed: Long, idOff: Long, shift: Double) =>
      SynthEmbeddings.clustered(spark, 1500, dim = 64, clusters = 20,
        noise = 0.15, seed = 42L, pointSeed = pointSeed, idOffset = idOff,
        shift = shift)
    val base = mk(1042L, 0L, 0.0).localCheckpoint(true)
    VectorIndex.build(base, "vec_id", "embedding", idxDir, k = 38,
      maxIter = 5, pqM = 8)
    // one flagged run is NOT sustained at sustain = 2
    val b1 = mk(3042L, 200000L, 1.6).localCheckpoint(true)
    VectorIndex.append(b1, "vec_id", "embedding", idxDir, 1L)
    val corpus1 = base.unionByName(b1)
    assert(!VectorIndex.rebuildIfDrifted(corpus1, "vec_id", "embedding",
      idxDir, k = 38, maxIter = 5),
      "one flagged run must not trigger at sustain = 2")
    // a second drifted run sustains the signal → re-build fires
    val b2 = mk(4042L, 300000L, 1.6).localCheckpoint(true)
    VectorIndex.append(b2, "vec_id", "embedding", idxDir, 2L)
    val corpus2 = corpus1.unionByName(b2)
    assert(VectorIndex.rebuildIfDrifted(corpus2, "vec_id", "embedding",
      idxDir, k = 38, maxIter = 5),
      "two consecutive flagged runs must trigger")
    // format preserved: the re-built postings still store pq codes
    val embType = spark.read.parquet(s"$idxDir/postings").schema("emb").dataType
    assert(embType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
      embType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
        org.apache.spark.sql.types.ShortType,
      s"re-build must preserve the pq format, got $embType")
    // history reset: exactly one run (the new baseline), rel_drop 0
    val after = VectorIndex.assignmentDrift(spark, idxDir)
      .select(col("run_id"), col("rel_drop")).as[(Long, Double)].collect().toSeq
    assert(after == Seq((0L, 0.0)),
      s"re-build must reset the drift history to the new baseline: $after")
    // the new model covers the drifted distribution: a fresh batch from
    // the SAME mixed distribution reads in-distribution drift
    val b3 = mk(5042L, 400000L, 1.6)
    VectorIndex.append(b3, "vec_id", "embedding", idxDir, 1L)
    val d3 = VectorIndex.assignmentDrift(spark, idxDir)
      .where(col("run_id") === 1L).select(col("rel_drop")).as[Double].head()
    // < 0.10: under the re-build trigger (the operational claim); the
    // mixed-baseline vs shifted-only-batch comparison carries a little
    // composition noise, so the in-distribution 0.06 bar doesn't apply
    assert(math.abs(d3) < 0.10,
      s"post-rebuild, the drifted distribution is the new normal: $d3")
    // and the signal stays quiet → no further re-build
    assert(!VectorIndex.rebuildIfDrifted(corpus2.unionByName(b3), "vec_id",
      "embedding", idxDir, k = 38, maxIter = 5))
  }

  test("calibrateNprobe picks the regime-appropriate dial: small on tight clusters, larger on diffuse") {
    // the operational companion to the recall curve: same model k,
    // same target, but the tight corpus saturates at a small nprobe
    // while the diffuse one must probe much wider
    def chosenFor(noise: Double): (Int, Map[Int, Double]) = {
      val idxDir = s"${Files.createTempDirectory("vecidx_cal")}/idx"
      val corpus = SynthEmbeddings.clustered(spark, 2000, dim = 64, clusters = 20,
        noise = noise, seed = 42L, pointSeed = 1042L).localCheckpoint(true)
      VectorIndex.build(corpus, "vec_id", "embedding", idxDir, k = 45, maxIter = 5)
      val sample = SynthEmbeddings.clustered(spark, 100, dim = 64, clusters = 20,
        noise = noise, seed = 42L, pointSeed = 7042L, idOffset = 1000000L, shift = 0.0)
      VectorIndex.calibrateNprobe(spark, sample, "vec_id", "embedding", idxDir,
        k = 10, None, candidates = Seq(1, 2, 4, 8, 16, 32))
    }
    val (npTight, recTight) = chosenFor(0.05)
    val (npDiffuse, recDiffuse) = chosenFor(0.30)
    assert(npTight <= 4, s"tight clusters must calibrate small: $npTight ($recTight)")
    assert(npDiffuse > npTight,
      s"diffuse corpus must need a wider probe: $npDiffuse <= $npTight ($recDiffuse)")
    // the recall map is monotone in nprobe and the chosen dial meets
    // the target (or is the ceiling)
    for ((rs, np) <- Seq((recTight, npTight), (recDiffuse, npDiffuse))) {
      val sorted = rs.toSeq.sortBy(_._1).map(_._2)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => b >= a - 1e-9 },
        s"recall must not fall as nprobe grows: $rs")
      assert(rs(np) >= 0.95 || np == 32, s"chosen $np misses target: $rs")
    }
  }

  test("queryTopKCalibrated meets the recall target on a diffuse corpus where the default nprobe under-recalls") {
    // the calibrate-then-probe loop (r15 item 8): on the diffuse
    // regime the queryTopK DEFAULT (nprobe 2) measurably under-recalls,
    // and calibrating on a batch-head sample then probing at the chosen
    // nprobe must close the gap to the target by measuring, not guessing
    val idxDir = s"${Files.createTempDirectory("vecidx_calq")}/idx"
    val corpus = SynthEmbeddings.clustered(spark, 2000, dim = 64, clusters = 20,
      noise = 0.30, seed = 42L, pointSeed = 1042L).localCheckpoint(true)
    VectorIndex.build(corpus, "vec_id", "embedding", idxDir, k = 45, maxIter = 5)
    val queries = SynthEmbeddings.clustered(spark, 200, dim = 64, clusters = 20,
      noise = 0.30, seed = 42L, pointSeed = 7042L, idOffset = 1000000L, shift = 0.0)
      .localCheckpoint(true)
    // ground truth = probing every cell (spec-pinned exact)
    val truth = VectorIndex.queryTopK(spark, queries, "vec_id", "embedding",
        idxDir, k = 10, nprobe = 45)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val nTruth = truth.count().toDouble
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .count() / nTruth
    val rDefault = recallOf(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 10))
    val (npCal, _) = VectorIndex.calibrateNprobe(spark,
      queries.limit(100).localCheckpoint(true), "vec_id", "embedding", idxDir,
      k = 10, None, candidates = Seq(1, 2, 4, 8, 16, 32))
    val rCal = recallOf(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 10, nprobe = npCal))
    assert(rDefault < 0.95,
      s"fixture must exhibit the regime trap (default recall $rDefault)")
    assert(rCal >= 0.93, // sample-vs-batch slack under the 0.95 target
      s"calibrated probe must close the gap: $rCal (default was $rDefault)")
  }

  test("IVF-SQ8: identical cell structure, near-identical retrieval, a fraction of the bytes") {
    // the Faiss IVF…,SQ8 analog (r15): postings store int8 codes, cell
    // assignment stays full-precision (bit-identical structure to the
    // f32 index), scoring uses the codes — cosine is scale-invariant.
    val base = Files.createTempDirectory("vecidx_sq8")
    val f32 = s"$base/f32"; val sq8 = s"$base/sq8"
    val corpus = SynthEmbeddings.clustered(spark, 2000, dim = 64, clusters = 20,
      noise = 0.10, seed = 42L, pointSeed = 1042L).localCheckpoint(true)
    VectorIndex.build(corpus, "vec_id", "embedding", f32, k = 45, maxIter = 5)
    VectorIndex.build(corpus, "vec_id", "embedding", sq8, k = 45, maxIter = 5,
      sq8 = true)
    def cellsOf(dir: String): Map[Long, Int] =
      spark.read.parquet(s"$dir/postings")
        .select(col("vec_id").cast("long"), col("centroid_id"))
        .as[(Long, Int)].collect().toMap
    assert(cellsOf(sq8) == cellsOf(f32),
      "sq8 must not change the cell structure (assignment is full-precision)")
    def bytesOf(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else f.length()
      walk(new java.io.File(s"$dir/postings"))
    }
    val (b32, b8) = (bytesOf(f32), bytesOf(sq8))
    assert(b8 < 0.6 * b32, s"sq8 postings must shed most float bytes: $b8 vs $b32")
    // retrieval: against brute-force truth, the sq8 index must stay
    // within a whisker of the f32 index's recall (int8 at dim 64 loses
    // almost nothing); floors are loose for fixture-size variance
    val queries = SynthEmbeddings.clustered(spark, 200, dim = 64, clusters = 20,
      noise = 0.10, seed = 42L, pointSeed = 7042L, idOffset = 1000000L, shift = 0.0)
      .localCheckpoint(true)
    val truth = Similarity.bruteForceCosineTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val nTruth = truth.count().toDouble
    def recall(dir: String): Double =
      VectorIndex.queryTopK(spark, queries, "vec_id", "embedding", dir,
          k = 10, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .count() / nTruth
    val (r32, r8) = (recall(f32), recall(sq8))
    assert(r8 >= r32 - 0.02 && r8 >= 0.85,
      s"sq8 recall must track f32: sq8 $r8 vs f32 $r32")
    // incremental appends auto-match the format via the marker — the
    // streamed-ingest path needs no format parameter
    val more = SynthEmbeddings.clustered(spark, 500, dim = 64, clusters = 20,
      noise = 0.10, seed = 42L, pointSeed = 2042L, idOffset = 500000L, shift = 0.0)
    VectorIndex.append(more, "vec_id", "embedding", sq8, runId = 1L)
    val embType = spark.read.parquet(s"$sq8/postings").schema("emb").dataType
    assert(embType.isInstanceOf[org.apache.spark.sql.types.StructType],
      s"appended batch must store codes, got $embType")
    assert(VectorIndex.queryTopK(spark, queries, "vec_id", "embedding", sq8,
      k = 3, nprobe = 2).count() > 0)
    // a re-build WITHOUT sq8 flips the format back, postings and all
    VectorIndex.build(corpus, "vec_id", "embedding", sq8, k = 45, maxIter = 5)
    val back = spark.read.parquet(s"$sq8/postings").schema("emb").dataType
    assert(back.isInstanceOf[org.apache.spark.sql.types.ArrayType],
      s"re-build must restore the f32 layout, got $back")
  }

  test("IVF-PQ: identical cell structure, recall tracks f32, a sliver of the bytes") {
    // the Faiss IVF…,PQm analog (r15): postings store one short code
    // per subspace against per-subspace k-means codebooks; cell
    // assignment stays full-precision; scoring runs through the fused
    // PqCosine kernel. The compression tier ABOVE sq8 — measured ~16×
    // fewer raw posting bytes at dim 64 / m 8.
    val base = Files.createTempDirectory("vecidx_pq")
    val f32 = s"$base/f32"; val pq = s"$base/pq"
    val corpus = SynthEmbeddings.clustered(spark, 2000, dim = 64, clusters = 20,
      noise = 0.10, seed = 42L, pointSeed = 1042L).localCheckpoint(true)
    VectorIndex.build(corpus, "vec_id", "embedding", f32, k = 45, maxIter = 5)
    VectorIndex.build(corpus, "vec_id", "embedding", pq, k = 45, maxIter = 5,
      pqM = 8)
    def cellsOf(dir: String): Map[Long, Int] =
      spark.read.parquet(s"$dir/postings")
        .select(col("vec_id").cast("long"), col("centroid_id"))
        .as[(Long, Int)].collect().toMap
    assert(cellsOf(pq) == cellsOf(f32),
      "pq must not change the cell structure (assignment is full-precision)")
    def bytesOf(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else f.length()
      walk(new java.io.File(s"$dir/postings"))
    }
    val (b32, bpq) = (bytesOf(f32), bytesOf(pq))
    assert(bpq < 0.35 * b32, s"pq postings must shed the float bytes: $bpq vs $b32")
    val queries = SynthEmbeddings.clustered(spark, 200, dim = 64, clusters = 20,
      noise = 0.10, seed = 42L, pointSeed = 7042L, idOffset = 1000000L, shift = 0.0)
      .localCheckpoint(true)
    val truth = Similarity.bruteForceCosineTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val nTruth = truth.count().toDouble
    def recall(dir: String): Double =
      VectorIndex.queryTopK(spark, queries, "vec_id", "embedding", dir,
          k = 10, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .count() / nTruth
    val (r32, rpq) = (recall(f32), recall(pq))
    // direct quantized-score recall is the honest-but-lossy number
    // (codes blur the top-10 margin); the PRODUCTION contract is
    // shortlist+rerank, which must track f32 (BASELINE r15 PQ table)
    assert(rpq >= 0.40, s"pq direct recall floor: pq $rpq vs f32 $r32")
    val rerank = VectorIndex.queryTopKRerank(spark, queries, "vec_id",
        "embedding", pq, corpus, "vec_id", "embedding", k = 10,
        shortlist = 50, nprobe = 8)
      .select(col("query_id"), col("neighbor_id"))
      .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .count() / nTruth
    assert(rerank >= 0.85 && rerank >= r32 - 0.08,
      s"pq shortlist+rerank must track f32: rerank $rerank vs f32 $r32")
    // plan shape: the rerank must never shuffle the corpus — candidate
    // ids broadcast against its scan, the query side broadcasts too,
    // so every join in the plan is a broadcast hash join (the only
    // exchanges are the candidate-sized dedup/TopK ones)
    val rrPlan = VectorIndex.queryTopKRerank(spark, queries, "vec_id",
        "embedding", pq, corpus, "vec_id", "embedding", k = 10,
        shortlist = 50, nprobe = 8)
      .queryExecution.executedPlan.toString
    assert(!rrPlan.contains("SortMergeJoin") && !rrPlan.contains("ShuffledHashJoin"),
      s"rerank must broadcast-join, never shuffle the corpus:\n${rrPlan.take(3000)}")
    assert(rrPlan.contains("BroadcastHashJoin"),
      s"rerank joins must be broadcast hash joins:\n${rrPlan.take(3000)}")
    // appends auto-match the format via the marker; codebooks reload
    val more = SynthEmbeddings.clustered(spark, 500, dim = 64, clusters = 20,
      noise = 0.10, seed = 42L, pointSeed = 2042L, idOffset = 500000L, shift = 0.0)
    VectorIndex.append(more, "vec_id", "embedding", pq, runId = 1L)
    val embType = spark.read.parquet(s"$pq/postings").schema("emb").dataType
    assert(embType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
      embType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
        org.apache.spark.sql.types.ShortType,
      s"appended batch must store short codes, got $embType")
    assert(VectorIndex.queryTopK(spark, queries, "vec_id", "embedding", pq,
      k = 3, nprobe = 2).count() > 0)
    // compact folds the coded postings in place without changing answers
    val (before, after) = VectorIndex.compact(spark, pq)
    assert(after <= before && after > 0)
    assert(VectorIndex.queryTopK(spark, queries, "vec_id", "embedding", pq,
      k = 3, nprobe = 2).count() > 0)
    // drift accounting works on codes (quantization bias is
    // format-constant, so run 0 vs run 1 stays a clean signal)
    val drift = VectorIndex.assignmentDrift(spark, pq)
      .select(col("rel_drop")).as[Double].collect()
    assert(drift.length == 2 && drift.forall(d => math.abs(d) < 0.06),
      s"in-distribution pq appends must read flat drift: ${drift.toSeq}")
    // a re-build WITHOUT pq flips the format back, postings and all
    VectorIndex.build(corpus, "vec_id", "embedding", pq, k = 45, maxIter = 5)
    spark.read.parquet(s"$pq/postings").schema("emb").dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        assert(et != org.apache.spark.sql.types.ShortType,
          "re-build without pq must restore the f32 layout")
      case other => fail(s"re-build must restore an array payload, got $other")
    }
  }

  test("pq codebooks are bit-deterministic; residual mode differs from raw and needs matching dims") {
    // determinism is what makes a re-built index never silently
    // re-code postings differently (the scaladoc's claim) — and what
    // q115's fingerprint-cached index rests on
    val corpus = SynthEmbeddings.clustered(spark, 1000, dim = 32, clusters = 10,
      noise = 0.10, seed = 7L, pointSeed = 17L).localCheckpoint(true)
    val cents = Similarity.kmeansCentroids(corpus, "vec_id", "embedding",
      k = 8, maxIter = 3)
    def flat(c: Array[Array[Array[Double]]]): Seq[Double] =
      c.flatMap(_.flatMap(_.toSeq)).toSeq
    val a = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4,
      ncodes = 16, residualOf = cents)
    val b = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4,
      ncodes = 16, residualOf = cents)
    assert(flat(a) == flat(b), "same inputs must yield bit-identical codebooks")
    // residual training is a genuinely different model than raw
    val raw = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4,
      ncodes = 16, residualOf = null)
    assert(flat(raw) != flat(a), "residual codebooks must differ from raw")
    // dim guards are loud
    intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 5) // 32 % 5 != 0
    }
    intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4,
        residualOf = Array(Array.fill(16)(0.1))) // centroid dim mismatch
    }
  }

  test("planted scaled copies always find their source at rank 1 (co-assignment guarantee)") {
    val base = Files.createTempDirectory("vecidx_plant")
    val idxDir = s"$base/idx"
    VectorIndex.build(emb, "vec_id", "embedding", idxDir, k = 16, maxIter = 5)
    val planted = emb.filter(pmod(col("vec_id"), lit(7)) === 0)
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val got = VectorIndex.queryTopK(spark, planted, "vec_id", "embedding",
        idxDir, k = 1, nprobe = 1)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        round(col("cosine"), 6))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val want = emb.filter(pmod(col("vec_id"), lit(7)) === 0)
      .select(col("vec_id")).as[Long].collect().sorted.toSeq
      .map(v => (v + 10000L, v, 1.0))
    assert(got == want, s"every scaled copy must hit its source even at nprobe=1")
  }

  test("maxProbeCandidates bounds the probe; an exhaustive shortlist makes the rerank exact") {
    val base = Files.createTempDirectory("vecidx_bound")
    val idxDir = s"$base/idx"
    VectorIndex.build(emb, "vec_id", "embedding", idxDir, k = 8, maxIter = 5)
    val indexed = emb.filter(col("embedding").isNotNull &&
      size(col("embedding")) > 0).count()
    // summing every cell recovers the whole indexed corpus; fewer cells
    // bound strictly below it (k=8 cells are all non-empty here)
    assert(VectorIndex.maxProbeCandidates(spark, idxDir, 8) == indexed)
    val bound = VectorIndex.maxProbeCandidates(spark, idxDir, 2)
    assert(bound > 0 && bound < indexed)
    // the soundness contract q115/q117 ride: with shortlist >= the
    // measured bound, the rerank sees EVERY probed-cell candidate, so
    // on an f32 index it must equal the direct exact probe bit-for-bit
    val queries = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val direct = topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, nprobe = 2))
    val reranked = topk(VectorIndex.queryTopKRerank(
      spark, queries, "vec_id", "embedding", idxDir,
      emb, "vec_id", "embedding", k = 3, shortlist = bound.toInt, nprobe = 2))
    assert(reranked == direct && direct.nonEmpty,
      "exhaustive-shortlist rerank must equal the direct probe")
  }

  test("takedowns: delete excludes immediately, compact drops physically and retires the ledger, reruns no-op") {
    val base = Files.createTempDirectory("vecidx_del")
    val idxDir = s"$base/idx"
    VectorIndex.build(emb, "vec_id", "embedding", idxDir, k = 8, maxIter = 5)
    val queries = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    def q() = topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, nprobe = 2))
    val before = q()
    // take down every query's rank-1 neighbor (its own source vector —
    // cosine 1.0): the strongest possible match must still vanish
    val victims = before.filter(_._4 == 1).map(_._2).distinct
    assert(victims.nonEmpty)
    VectorIndex.delete(victims.toDF("vec_id"), "vec_id", idxDir)
    val after = q()
    assert(after.nonEmpty && after != before)
    assert(after.forall(r => !victims.contains(r._2)),
      "a deleted id must never be returned as a neighbor")
    // redelivered delete: identical ledger rows, identical answers
    VectorIndex.delete(victims.toDF("vec_id"), "vec_id", idxDir)
    assert(q() == after, "re-issued delete must be absorbed")
    // compact drops the rows physically and retires the ledger
    val buckets = bucketFiles(idxDir).keySet
    val (b, a) = VectorIndex.compact(spark, idxDir)
    assertBucketLayout(idxDir, buckets)
    assert(b - a == victims.size.toLong,
      s"compaction must drop exactly the tombstoned rows: $b -> $a")
    assert(!new java.io.File(idxDir, "tombstones").exists(),
      "the ledger must retire once takedowns are physical")
    assert(q() == after, "physical drop must answer identically to the mask")
    // rerun: nothing left to fold or drop
    val (b2, a2) = VectorIndex.compact(spark, idxDir)
    assert(b2 == a2, s"rerun compact must be a no-op: $b2 -> $a2")
    assert(q() == after)
  }

  test("a compact crashed mid-swap (postings parked under __compact_old) is restored, compacted and keeps the layout") {
    import org.apache.hadoop.fs.Path
    val idxDir = s"${Files.createTempDirectory("vecidx_crash")}/idx"
    VectorIndex.build(emb, "vec_id", "embedding", idxDir, k = 8, maxIter = 5)
    val queries = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    def q() = topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, nprobe = 2))
    val want = q()
    VectorIndex.append(emb, "vec_id", "embedding", idxDir, runId = 1L) // a re-ingest to fold
    val buckets = bucketFiles(idxDir).keySet
    // a crash between rename(postings, old) and rename(tmp, postings)
    val postings = new Path(s"$idxDir/postings")
    val parked = new Path(s"$idxDir/postings__compact_old")
    val fs = postings.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(postings, parked))
    val (b, a) = VectorIndex.compact(spark, idxDir)
    assert(b == 2 * emb.count() && a == emb.count(), s"$b -> $a")
    assert(!fs.exists(parked), "the parked dir must be restored, then cleaned up")
    assertBucketLayout(idxDir, buckets)
    assert(q() == want && want.nonEmpty, "probes must answer as before the crash")
  }

  test("upsert = delete + re-append under a higher run: only the latest embedding answers, in every window") {
    // the r17 horizon-aware ledger contract (VERDICT r16 item 8): a
    // re-embedded document must be returned at its NEW embedding and
    // never its stale one — including the window between the upsert and
    // the next compact, where the old ledger semantics either surfaced
    // the stale posting (no delete) or swallowed the new one too
    // (delete masked the id across ALL runs).
    val base = Files.createTempDirectory("vecidx_upsert")
    val idxDir = s"$base/idx"
    VectorIndex.build(emb, "vec_id", "embedding", idxDir, k = 8, maxIter = 5)
    val x = 7L
    val vOld = emb.filter(col("vec_id") === x)
      .select(col("embedding")).head().getSeq[Float](0)
    // the re-embedding: the antipode — unambiguous (cosine -1 to the
    // stale vector), and its cell assignment genuinely moves
    val reEmbedded = Seq((x, vOld.map(v => -v))).toDF("vec_id", "embedding")
    VectorIndex.delete(Seq(x).toDF("vec_id"), "vec_id", idxDir) // derives asof_run = 0
    VectorIndex.append(reEmbedded, "vec_id", "embedding", idxDir, runId = 1L)
    val qOld = Seq((10001L, vOld)).toDF("vec_id", "embedding")
    val qNew = Seq((10002L, vOld.map(v => -v))).toDF("vec_id", "embedding")
    def probe(qs: org.apache.spark.sql.DataFrame) = topk(VectorIndex.queryTopK(
      spark, qs, "vec_id", "embedding", idxDir, k = 3, nprobe = 2))
    def checkBoth(): Unit = {
      val atOld = probe(qOld)
      assert(atOld.nonEmpty && atOld.forall(r => !(r._2 == x && r._3 > 0.99)),
        s"stale embedding must never answer: $atOld")
      val atNew = probe(qNew)
      val xRows = atNew.filter(_._2 == x)
      assert(xRows.map(r => (r._3, r._4)) == Seq((1.0, 1)),
        s"re-embedded doc must answer EXACTLY ONCE, at the new embedding, rank 1: $atNew")
    }
    checkBoth() // the mask window: ledger live, both postings on disk
    val (b, a) = VectorIndex.compact(spark, idxDir)
    assert(b - a == 1, s"compact must drop exactly the stale posting: $b -> $a")
    assert(!new java.io.File(idxDir, "tombstones").exists())
    checkBoth() // physical window: stale posting gone, ledger retired
    // the surviving posting for x is the run-1 embedding
    val kept = spark.read.parquet(s"$idxDir/postings")
      .filter(col("vec_id") === x).select(col("emb")).collect()
    assert(kept.length == 1 &&
      kept.head.getSeq[Float](0) == vOld.map(v => -v).toSeq)
    // an explicit-horizon tombstone redelivered AFTER the upsert must
    // not swallow the new posting (the stream-redelivery race the
    // ledger's explicit horizon exists for)
    graft.sources.Lease.withLease(spark, idxDir) {
      IndexStore.appendTombstones(Seq(x).toDF("vec_id"), "vec_id", "vec_id", idxDir,
        s"$idxDir/postings", 0L)
    }
    checkBoth()
    // the one-call helper: same contract, idempotent under redelivery
    // (horizon = runId - 1 is explicit, so a replay can never swallow
    // its own append)
    def upsert() = IndexStore.upsert(reEmbedded, "vec_id", "vec_id",
        VectorIndex.ReservedPostingCols, idxDir, runId = 2L, metaCols = Nil)(
      VectorIndex.append(reEmbedded, "vec_id", "embedding", idxDir, 2L, Nil))
    upsert()
    checkBoth()
    upsert()
    checkBoth()
  }

  test("filtered ANN: predicate applies BEFORE top-k; post-filtering the unfiltered top-k loses rows") {
    // the bug queryTopKFiltered exists to prevent (r16 item 4): a
    // disallowed strong neighbor evicts allowed vectors from the
    // unfiltered k list, so filtering afterwards silently returns < k
    // rows and the wrong set. Constructed corpus: near the query
    // direction sit one DISALLOWED vector (cosine .99) and three
    // allowed ones (.9/.8/.7); a far-away clump gives k-means real
    // structure. nprobe = k(model), so probe recall is out of the
    // picture and only the filter placement differs.
    val base = Files.createTempDirectory("vecidx_filtered")
    val idxDir = s"$base/idx"
    def v(c: Double, rot: Int): Seq[Float] = {
      val s = math.sqrt(1 - c * c)
      val out = Array.fill(4)(0.0)
      out(0) = c; out(1 + rot % 3) = s
      out.map(_.toFloat).toSeq
    }
    val corpus = Seq(
      1L -> v(0.99, 0), 2L -> v(0.90, 1), 4L -> v(0.80, 2), 6L -> v(0.70, 0),
      // the far clump (negative first axis, spread)
      3L -> v(-0.95, 0), 5L -> v(-0.9, 1), 7L -> v(-0.85, 2), 8L -> v(-0.8, 0)
    ).toDF("vec_id", "embedding")
    VectorIndex.build(corpus, "vec_id", "embedding", idxDir, k = 2, maxIter = 8)
    val queries = Seq((100L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val allowed = corpus.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id"))
    val filtered = topk(VectorIndex.queryTopKFiltered(
      spark, queries, "vec_id", "embedding", idxDir, k = 2,
      col("vec_id").isin(allowed), nprobe = 2))
    assert(filtered.map(r => (r._2, r._4)) == Seq((2L, 1), (4L, 2)),
      s"filtered top-2 must be the two best ALLOWED vectors: $filtered")
    // the naive post-filter: unfiltered top-2 is {1 (disallowed), 2} —
    // filtering it yields ONE row and loses vec 4 entirely
    val naive = topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 2, nprobe = 2))
      .filter(r => r._2 % 2 == 0)
    assert(naive.map(_._2) == Seq(2L),
      s"post-filtering must demonstrably lose rows: $naive")
    assert(filtered.size == 2 && naive.size == 1)
    // an all-permissive filter degenerates to the unfiltered answer
    val all = topk(VectorIndex.queryTopKFiltered(
      spark, queries, "vec_id", "embedding", idxDir, k = 2,
      col("vec_id").isin(corpus.select(col("vec_id"))), nprobe = 2))
    assert(all == topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 2, nprobe = 2)))
    // the rerank sibling: filter inside the shortlist probe, exact
    // re-rank on allowed candidates only — equals the filtered probe on
    // an f32 index
    val rerank = topk(VectorIndex.queryTopKRerankFiltered(
      spark, queries, "vec_id", "embedding", idxDir,
      corpus, "vec_id", "embedding", k = 2,
      col("vec_id").isin(allowed), shortlist = 8, nprobe = 2))
    assert(rerank == filtered, s"filtered rerank must agree: $rerank vs $filtered")
    // the id-set semi-join must not cost the probe its two-tier scan
    // pruning: the probed-bucket filter stays in PartitionFilters and
    // the probed-cell filter stays pushed into the postings scan
    val plan = VectorIndex.queryTopKFiltered(
      spark, queries, "vec_id", "embedding", idxDir, k = 2,
      col("vec_id").isin(allowed), nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("cell_bucket"),
      s"filtered probe must keep partition pruning:\n${plan.take(3000)}")
    assert(plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("In(centroid_id"),
      s"filtered probe must keep the pushed cell filter:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the allowed semi-join must stay a broadcast on this scale:\n${plan.take(3000)}")
  }
  test("legacy (pre-horizon) tombstone ledger: probes keep masking, compact heals (no AnalysisException)") {
    // an index persisted before the ledger gained asof_run must not
    // brick: legacy rows default to the all-runs horizon they were
    // written under, and compact (the healing path) retires them.
    val base = Files.createTempDirectory("vecidx_legacy")
    val idxDir = s"$base/idx"
    VectorIndex.build(emb, "vec_id", "embedding", idxDir, k = 8, maxIter = 5)
    val queries = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    def q() = topk(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, nprobe = 2))
    val victims = q().filter(_._4 == 1).map(_._2).distinct
    assert(victims.nonEmpty)
    VectorIndex.delete(victims.toDF("vec_id"), "vec_id", idxDir)
    val masked = q()
    // rewrite the ledger in the PRE-r17 shape: vec_id only
    val tombDir = s"$idxDir/tombstones"
    val legacy = spark.read.parquet(tombDir).select("vec_id").localCheckpoint(true)
    legacy.write.mode("overwrite").parquet(tombDir)
    assert(!spark.read.parquet(tombDir).columns.contains("asof_run"))
    assert(q() == masked,
      "a legacy ledger must keep masking every victim across all runs")
    // MIXED ledger — the upgrade's real shape: a post-upgrade delete
    // appends an (id, asof_run) file BESIDE the legacy file. The
    // legacy rows then read asof_run = NULL, and a schema-level
    // fallback would silently unmask them (run_id <= NULL is never
    // true); the per-row coalesce must keep BOTH victim sets masked.
    val extra = q().filter(_._4 == 1).map(_._2).distinct.take(2)
    assert(extra.nonEmpty && extra.forall(e => !victims.contains(e)))
    VectorIndex.delete(extra.toDF("vec_id"), "vec_id", idxDir)
    val mixed = q()
    assert(mixed.forall(r => !victims.contains(r._2)),
      s"legacy victims must STAY masked beside a post-upgrade delete: $mixed")
    assert(mixed.forall(r => !extra.contains(r._2)))
    assert(jobsStartedBy(IndexStore.tombstones(spark, idxDir, "vec_id").get) == 0,
      "reading the mixed ledger through the shared store must fire no Spark job")
    val (b, a) = VectorIndex.compact(spark, idxDir)
    assert(b - a == victims.size.toLong + extra.size.toLong,
      s"compact must drop both ledger generations' rows: $b -> $a")
    assert(!new java.io.File(idxDir, "tombstones").exists(),
      "the legacy ledger must retire at compact")
    assert(q() == mixed)
  }

  test("metadata-in-postings: Column-predicate probe = allowed-DF probe, predicate PUSHED to the scan, survives compact") {
    // VERDICT r17 item 3: production metadata (language, license, …)
    // stored AS posting columns at append time, so the filter reaches
    // parquet as PushedFilters — no caller-materialized id set, no
    // semi-join. Same fixture shape as the filtered-ANN spec: even ids
    // are "en" (allowed), odd are "de".
    val base = Files.createTempDirectory("vecidx_meta")
    val idxDir = s"$base/idx"
    def v(c: Double, rot: Int): Seq[Float] = {
      val s = math.sqrt(1 - c * c)
      val out = Array.fill(4)(0.0)
      out(0) = c; out(1 + rot % 3) = s
      out.map(_.toFloat).toSeq
    }
    val corpus = Seq(
      1L -> v(0.99, 0), 2L -> v(0.90, 1), 4L -> v(0.80, 2), 6L -> v(0.70, 0),
      3L -> v(-0.95, 0), 5L -> v(-0.9, 1), 7L -> v(-0.85, 2), 8L -> v(-0.8, 0))
      .toDF("vec_id", "embedding")
      .withColumn("lang", when(pmod(col("vec_id"), lit(2)) === 0, "en").otherwise("de"))
    VectorIndex.build(corpus, "vec_id", "embedding", idxDir, k = 2, maxIter = 8,
      metaCols = Seq("lang"))
    val queries = Seq((100L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    def byPred() = topk(VectorIndex.queryTopKFiltered(
      spark, queries, "vec_id", "embedding", idxDir, k = 2,
      predicate = col("lang") === "en", nprobe = 2))
    val byAllowed = topk(VectorIndex.queryTopKFiltered(
      spark, queries, "vec_id", "embedding", idxDir, k = 2,
      col("vec_id").isin(corpus.filter(col("lang") === "en").select(col("vec_id"))),
      nprobe = 2))
    assert(byPred() == byAllowed && byPred().map(_._2) == Seq(2L, 4L),
      s"predicate and id-set filtering must agree: ${byPred()} vs $byAllowed")
    // plan: the metadata predicate reaches the scan as a pushed filter,
    // the two-tier cell/bucket pruning is intact, and NO join was added
    val plan = VectorIndex.queryTopKFiltered(
      spark, queries, "vec_id", "embedding", idxDir, k = 2,
      predicate = col("lang") === "en", nprobe = 2)
      .queryExecution.executedPlan.toString
    val pushed = plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
    assert(pushed.contains("EqualTo(lang,en)"),
      s"metadata predicate must reach the postings scan:\n${plan.take(3000)}")
    assert(pushed.contains("In(centroid_id"),
      s"cell pruning must survive the predicate:\n${plan.take(3000)}")
    assert(plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("cell_bucket"), s"bucket pruning must survive:\n${plan.take(3000)}")
    assert(!plan.contains("LeftSemi"),
      s"the predicate form must add NO semi-join:\n${plan.take(3000)}")
    // metadata survives takedown + compact (the fold carries it), and
    // an appended batch keeps carrying it
    VectorIndex.delete(Seq(2L).toDF("vec_id"), "vec_id", idxDir)
    val (b, a) = VectorIndex.compact(spark, idxDir)
    assert(b - a == 1)
    assert(spark.read.parquet(s"$idxDir/postings").columns.contains("lang"),
      "compact must preserve metadata columns")
    assert(byPred().map(_._2) == Seq(4L, 6L),
      s"post-compact predicate probe must re-rank the remaining allowed: ${byPred()}")
    VectorIndex.append(Seq(10L -> v(0.95, 1)).toDF("vec_id", "embedding")
      .withColumn("lang", lit("en")), "vec_id", "embedding", idxDir, 1L,
      metaCols = Seq("lang"))
    assert(byPred().sortBy(_._4).map(_._2) == Seq(10L, 4L),
      s"appended metadata rows must answer, new vector at rank 1: ${byPred()}")
    // reserved / missing / internal-prefix names are refused loudly
    intercept[IllegalArgumentException] {
      VectorIndex.append(corpus, "vec_id", "embedding", idxDir, 2L,
        metaCols = Seq("run_id"))
    }
    intercept[IllegalArgumentException] {
      VectorIndex.append(corpus, "vec_id", "embedding", idxDir, 2L,
        metaCols = Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      VectorIndex.append(corpus.withColumn("__assign_cos", lit(0f)),
        "vec_id", "embedding", idxDir, 2L, metaCols = Seq("__assign_cos"))
    }
    // the metadata set is an INDEX invariant: a mismatched append would
    // write rows filtered probes silently exclude — refused loudly
    intercept[IllegalArgumentException] {
      VectorIndex.append(corpus, "vec_id", "embedding", idxDir, 2L)
    }
    intercept[IllegalArgumentException] {
      VectorIndex.append(corpus.withColumn("src", lit("a")),
        "vec_id", "embedding", idxDir, 2L, metaCols = Seq("lang", "src"))
    }
  }

  test("composite filter: a stored-metadata comparison AND an id-set subquery in one predicate") {
    // one Column carries both filter shapes: the metadata comparison
    // stays a pushed scan filter, the id set plans as a broadcast
    // left-semi join, and the rows equal the plain-column predicate's
    val idxDir = s"${Files.createTempDirectory("vecidx_composite")}/idx"
    val tagged = emb.withColumn("lang",
      when(pmod(col("vec_id"), lit(2)) === 0, "en").otherwise("de"))
    VectorIndex.build(tagged, "vec_id", "embedding", idxDir, k = 8,
      maxIter = 5, metaCols = Seq("lang"))
    val queries = emb.filter(col("vec_id") < 16)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val ids = emb.filter(pmod(col("vec_id"), lit(3)) === 0).select(col("vec_id"))
    val composite = col("lang") === "en" && col("vec_id").isin(ids)
    def probe(p: org.apache.spark.sql.Column) = VectorIndex.queryTopKFiltered(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, p, nprobe = 2)
    val got = topk(probe(composite))
    val plain = topk(probe(col("lang") === "en" && pmod(col("vec_id"), lit(3)) === 0))
    assert(got.nonEmpty && got == plain,
      s"composite and plain-column filtering must agree: ${got.take(4)} vs ${plain.take(4)}")
    assert(got.forall(_._2 % 6 == 0), "only ids passing both filters may answer")
    val plan = probe(composite).queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pushed.exists(_.contains("EqualTo(lang,en)")),
      s"the metadata comparison must stay pushed to the postings scan:\n${plan.take(3000)}")
    assert(plan.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"the id set must plan as a broadcast left-semi join:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the id-set join must stay a broadcast on this scale:\n${plan.take(3000)}")
  }

  test("evolveMetadata: backfill rewrite widens the set, keeps the bucket layout, new-set appends accepted") {
    // VERDICT r18 item 3, the vector side: the rewrite must preserve
    // the cell_bucket partitioning AND centroid-sorted row groups —
    // evolving metadata must never cost probe-time pruning
    val base = Files.createTempDirectory("vecidx_evolve")
    val idxDir = s"$base/idx"
    def v(c: Double, rot: Int): Seq[Float] = {
      val s = math.sqrt(1 - c * c)
      val out = Array.fill(4)(0.0)
      out(0) = c; out(1 + rot % 3) = s
      out.map(_.toFloat).toSeq
    }
    val corpus = Seq(
      1L -> v(0.99, 0), 2L -> v(0.90, 1), 4L -> v(0.80, 2), 6L -> v(0.70, 0),
      3L -> v(-0.95, 0), 5L -> v(-0.9, 1), 7L -> v(-0.85, 2), 8L -> v(-0.8, 0))
      .toDF("vec_id", "embedding")
      .withColumn("lang", when(pmod(col("vec_id"), lit(2)) === 0, "en").otherwise("de"))
    VectorIndex.build(corpus, "vec_id", "embedding", idxDir, k = 2, maxIter = 8,
      metaCols = Seq("lang"))
    // widened append refused at the old set; evolve moves the invariant
    intercept[IllegalArgumentException] {
      VectorIndex.append(corpus.withColumn("src", lit("crawl2")),
        "vec_id", "embedding", idxDir, 1L, metaCols = Seq("lang", "src"))
    }
    val buckets = bucketFiles(idxDir).keySet
    VectorIndex.evolveMetadata(spark, idxDir, Seq("src" -> "crawl1"))
    assertBucketLayout(idxDir, buckets)
    intercept[IllegalArgumentException] {
      VectorIndex.evolveMetadata(spark, idxDir, Seq("centroid_id" -> 0))
    }
    intercept[IllegalArgumentException] {
      VectorIndex.evolveMetadata(spark, idxDir, Seq("src" -> "again"))
    }
    intercept[IllegalArgumentException] { // old set now refused
      VectorIndex.append(corpus, "vec_id", "embedding", idxDir, 1L,
        metaCols = Seq("lang"))
    }
    VectorIndex.append(
      Seq(10L -> v(0.95, 1)).toDF("vec_id", "embedding")
        .withColumn("lang", lit("en")).withColumn("src", lit("crawl2")),
      "vec_id", "embedding", idxDir, 1L, metaCols = Seq("lang", "src"))
    val queries = Seq((100L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    def byPred(p: org.apache.spark.sql.Column) = topk(VectorIndex.queryTopKFiltered(
      spark, queries, "vec_id", "embedding", idxDir, k = 2,
      predicate = p, nprobe = 2))
    // backfilled default selects exactly the pre-evolution vectors…
    assert(byPred(col("src") === "crawl1").map(_._2) == Seq(1L, 2L),
      s"backfilled slice: ${byPred(col("src") === "crawl1")}")
    // …the appended value exactly the new one, and composition works
    assert(byPred(col("src") === "crawl2").map(_._2) == Seq(10L))
    assert(byPred(col("src") === "crawl1" && col("lang") === "en")
      .map(_._2) == Seq(2L, 4L))
    // the evolved column's predicate lands in the scan AND both pruning
    // tiers survive the rewrite — the layout-preservation proof
    val plan = VectorIndex.queryTopKFiltered(
      spark, queries, "vec_id", "embedding", idxDir, k = 2,
      predicate = col("src") === "crawl1", nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(src,crawl1)"),
      s"evolved predicate must reach the postings scan:\n${plan.take(3000)}")
    assert(plan.contains("In(centroid_id"),
      s"cell pruning must survive evolution:\n${plan.take(3000)}")
    assert(plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("cell_bucket"),
      s"bucket-partition pruning must survive evolution:\n${plan.take(3000)}")
  }

  test("filtered calibration: a selective predicate under-recalls at default nprobe; the calibrated call recovers rank-1") {
    // VERDICT r17 item 5: calibrateNprobe was unfiltered-only, so the
    // recall contract on filtered probes was advisory. Constructed
    // regime: 8 well-separated direction clusters; ONLY the cluster
    // FARTHEST from the query is allowed (~4% selectivity), so the
    // default nprobe = 2 probes two allowed-empty cells and returns
    // NOTHING, while the filter-aware calibration measures that and
    // raises the dial until the planted allowed neighbor answers.
    val base = Files.createTempDirectory("vecidx_fcal")
    val idxDir = s"$base/idx"
    val nClusters = 8
    def dir(deg: Double): Array[Double] = {
      val r = math.toRadians(deg)
      Array(math.cos(r), math.sin(r), 0.0)
    }
    val cents = (0 until nClusters).map(i => dir(i * 10.0)).toArray
    VectorIndex.centroidsDf(spark, cents).write.parquet(s"$idxDir/centroids")
    // 10 disallowed rows per near cluster; 3 allowed rows in the far
    // one, the planted neighbor EXACTLY on its centroid direction
    val rows = (for {
      i <- 0 until (nClusters - 1); j <- 0 until 10
    } yield (i * 100L + j, dir(i * 10.0 + (j % 3) * 0.5).map(_.toFloat).toSeq, "de")) ++
      Seq(
        (9000L, dir(70.0).map(_.toFloat).toSeq, "en"), // the planted neighbor
        (9001L, dir(72.0).map(_.toFloat).toSeq, "en"),
        (9002L, dir(73.0).map(_.toFloat).toSeq, "en"))
    val corpus = rows.toDF("vec_id", "embedding", "lang")
    VectorIndex.append(corpus, "vec_id", "embedding", idxDir, 0L,
      metaCols = Seq("lang"))
    VectorIndex.markBuilt(spark, idxDir)
    val queries = Seq((99999L, dir(0.0).map(_.toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val en = col("lang") === "en"
    // the documented trap, now demonstrated: default nprobe = 2 probes
    // cells 0 and 1, which hold no allowed vectors — the planted
    // neighbor is MISSED entirely
    val naive = topk(VectorIndex.queryTopKFiltered(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, en, nprobe = 2))
    assert(naive.isEmpty,
      s"fixture must reproduce the under-recall (got $naive)")
    // the calibrated call measures filtered recall and raises nprobe
    val (np, recalls) = VectorIndex.calibrateNprobe(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, Some(en),
      candidates = Seq(1, 2, 4, 8))
    assert(np == 8 && recalls(2) == 0.0,
      s"calibration must measure the miss and raise the dial: $np $recalls")
    val (npCal, _) = VectorIndex.calibrateNprobe(
      spark, queries.limit(4).localCheckpoint(true), "vec_id", "embedding",
      idxDir, k = 3, Some(en), candidates = Seq(1, 2, 4, 8))
    val got = topk(VectorIndex.queryTopKFiltered(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, en, nprobe = npCal))
    assert(got.map(r => (r._2, r._4)).take(1) == Seq((9000L, 1)),
      s"the calibrated call must recover the planted neighbor at rank 1: $got")
    assert(got.map(_._2) == Seq(9000L, 9001L, 9002L))
    // the id-set form of the same filter calibrates identically
    val (np2, _) = VectorIndex.calibrateNprobe(
      spark, queries, "vec_id", "embedding", idxDir, k = 3,
      Some(col("vec_id").isin(corpus.filter(en).select(col("vec_id")))),
      candidates = Seq(1, 2, 4, 8))
    assert(np2 == 8)
  }

  test("rerank predicate twin: stored-metadata predicate inside the shortlist probe = allowed-DF rerank") {
    val base = Files.createTempDirectory("vecidx_meta_rr")
    val idxDir = s"$base/idx"
    val tagged = emb.withColumn("lang",
      when(pmod(col("vec_id"), lit(2)) === 0, "en").otherwise("de"))
    VectorIndex.build(tagged, "vec_id", "embedding", idxDir, k = 8,
      maxIter = 5, metaCols = Seq("lang"))
    val queries = emb.filter(col("vec_id") < 16)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val sl = math.max(50L, VectorIndex.maxProbeCandidates(spark, idxDir, 2)).toInt
    val byPred = topk(VectorIndex.queryTopKRerankFiltered(
      spark, queries, "vec_id", "embedding", idxDir, emb, "vec_id", "embedding",
      k = 3, predicate = col("lang") === "en", shortlist = sl, nprobe = 2))
    val byAllowed = topk(VectorIndex.queryTopKRerankFiltered(
      spark, queries, "vec_id", "embedding", idxDir, emb, "vec_id", "embedding",
      k = 3, col("vec_id").isin(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0).select(col("vec_id"))),
      shortlist = sl, nprobe = 2))
    assert(byPred.nonEmpty && byPred == byAllowed,
      s"rerank metadata and id-set predicates must agree: ${byPred.take(4)} vs ${byAllowed.take(4)}")
    assert(byPred.forall(_._2 % 2 == 0), "only allowed neighbors may answer")
  }
}

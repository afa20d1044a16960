package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IvfReference, Similarity}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** The inverse of `quantizeInt8`: each code times its vector's scale. */
  private def dequantize(qs: org.apache.spark.sql.Column) =
    transform(qs.getField("q"), b => b.cast("double") * qs.getField("scale"))

  private lazy val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("brute force topk: ranks are 1..k, self excluded, cosine descending per query") {
    val r = Similarity.bruteForceCosineTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 4)
      .collect()
    val byQ = r.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 3)
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to 4))
      assert(sorted.forall(_.getAs[Long]("neighbor_id") != q))
      val sims = sorted.map(_.getAs[Double]("cosine"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("embedding decontamination flags planted near-benchmark vectors with best match") {
    // benchmark: two orthogonal unit vectors; corpus: one near-copy of each
    // (same direction, scaled — cosine 1.0), one mixture closer to bench 1,
    // and one orthogonal to both (must not be flagged)
    val bench = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(2.0f, 0.0f, 0.0f)),   // = bench 1 direction
      (11L, Seq(0.0f, 0.5f, 0.0f)),   // = bench 2 direction
      (12L, Seq(0.9f, 0.5f, 0.0f)),   // leans bench 1
      (13L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.embeddingDecontaminate(
      corpus, bench, "vec_id", "embedding", "vec_id", "embedding", 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(10L, 11L, 12L), s"orthogonal doc must survive: $got")
    assert(got(10L) == ((1L, 1.0)) && got(11L) == ((2L, 1.0)))
    assert(got(12L)._1 == 1L && got(12L)._2 > 0.8)
  }

  test("LSH topk achieves high recall on clustered vectors") {
    // Clustered corpus: 20 centers × 20 perturbed members. LSH recall is
    // only meaningful when true neighbors have high cosine (on uniformly
    // random vectors every cosine ≈ 0 and bucketing carries no signal).
    val rnd = new scala.util.Random(7)
    val dim = 32
    val centers = Seq.fill(20)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      m <- 0 until 20
    } yield ((ci * 20 + m).toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat).toSeq)
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 20 === 0)
    def pairs(r: Array[org.apache.spark.sql.Row]) =
      r.map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(Similarity.bruteForceCosineTopK(df, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5).collect())
    val approx = pairs(Similarity.lshCosineTopK(df, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, dim = dim, tables = 8, bitsPerTable = 8).collect())
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall too low: $recall")
  }

  test("int8-quantized candidate search overlaps exact top-k >= 90%") {
    import graft.functions.{VectorFunctions => VF}
    // the designed deployment: candidate generation runs on 4×-smaller
    // int8 reconstructions, exact re-rank keeps full precision — top-k
    // overlap against the all-float32 run must stay high
    val qemb = emb.withColumn("embedding",
      transform(dequantize(VF.quantizeInt8(col("embedding"))), _.cast("float")))
    val queries = emb.filter(col("vec_id") < 10)
    def topSets(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceCosineTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
        .collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    val exact = topSets(emb)
    val quant = topSets(qemb)
    val overlaps = exact.map { case (q, ex) => (ex & quant(q)).size.toDouble / ex.size }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.9, s"quantized top-10 overlap degraded to $mean")
  }

  test("IVF centroids + probe search returns ranked neighbors") {
    val cents = IvfReference.trainCentroids(emb, "embedding", "label")
    assert(cents.count() == emb.select("label").distinct().count())
    val r = IvfReference.ivfCosineTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", cents, k = 3, nprobe = 3)
    val rows = r.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(x => x.getAs[Int]("rank") <= 3))
  }

  test("prefix-filter jaccard join: exactly the brute-force pairs, recall 1.0") {
    import spark.implicits._
    // 60 docs over a shared vocab with planted high-overlap pairs
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 40).map("w" + _)
    def doc(): String = rnd.shuffle(vocab).take(12).mkString(" ")
    val base = (1L to 50L).map(i => (i, doc()))
    // planted: near-copies of docs 1..5 (swap one token) → jaccard 11/13 ≈ 0.846
    val planted = (1L to 5L).map(i =>
      (100L + i, base(i.toInt - 1)._2.split(" ").drop(1).mkString(" ") + " zz" + i))
    val docs = (base ++ planted).toDF("doc_id", "text")
    val t = 0.7
    val got = Similarity.jaccardSimilarityJoin(docs, "doc_id", "text", t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force over all pairs (test-only oracle)
    val sets = (base ++ planted).map { case (id, s) => id -> s.split(" ").toSet }
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= t
    } yield (ia, ib)).toSet
    assert(want.size >= 5, s"fixture must plant pairs: $want")
    assert(got == want, s"prefix filtering must be EXACT: got $got want $want")

    // t=0.55 with 100-distinct-token docs: 100·0.55 = 55.000000000000007
    // in doubles — the ceil-overshoot case that silently shortened the
    // prefix by one token. Exactness must hold here too.
    val vocab100 = (1 to 120).map("v" + _)
    val b2 = (1L to 30L).map(i => (i, rnd.shuffle(vocab100).take(100).mkString(" ")))
    val docs2 = b2.toDF("doc_id", "text")
    val got2 = Similarity.jaccardSimilarityJoin(docs2, "doc_id", "text", 0.55)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sets2 = b2.map { case (id, t2) => id -> t2.split(" ").toSet }
    val want2 = (for {
      (ia, sa) <- sets2; (ib, sb) <- sets2 if ia < ib
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= 0.55
    } yield (ia, ib)).toSet
    assert(want2.nonEmpty, "120-token vocab with 100-token docs must overlap heavily")
    assert(got2 == want2, s"exactness at the float-ceil boundary: got $got2 want $want2")
  }

  test("containmentJoin: exactly the brute-force pairs; asymmetric; out-of-vocab probes prune") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = (1 to 40).map("w" + _)
    val corpus = (1L to 50L).map(i => (i, rnd.shuffle(vocab).take(15).mkString(" ")))
    // probes: 4-token snippets of docs 1..8 (containment 1.0 in their
    // source), one mixed probe (half in-corpus, half fresh tokens), and
    // one fully out-of-vocab probe that must match NOTHING
    val snippets = (1L to 8L).map(i =>
      (200L + i, corpus(i.toInt - 1)._2.split(" ").take(4).mkString(" ")))
    val mixed = Seq((301L, corpus.head._2.split(" ").take(2).mkString(" ") + " qq1 qq2"))
    val alien = Seq((302L, "zz1 zz2 zz3 zz4"))
    val probes = (snippets ++ mixed ++ alien).toDF("pid", "ptext")
    val corpusDf = corpus.toDF("doc_id", "text")
    for (t <- Seq(1.0, 0.75, 0.5)) {
      val got = Similarity.containmentJoin(probes, "pid", "ptext",
          corpusDf, "doc_id", "text", t)
        .select("probe_id", "corpus_id").as[(Long, Long)].collect().toSet
      val want = (for {
        (pid, pt) <- snippets ++ mixed ++ alien
        (cid, ct) <- corpus
        pa = pt.split(" ").toSet; ca = ct.split(" ").toSet
        c = (pa & ca).size.toDouble / pa.size if c >= t
      } yield (pid, cid)).toSet
      assert(got == want, s"t=$t: got $got want $want")
      if (t == 1.0) {
        assert((1L to 8L).forall(i => got.contains((200L + i, i))),
          s"every snippet must rediscover its source: $got")
        assert(!got.exists(_._1 == 302L), "out-of-vocab probe must match nothing")
      }
    }
    // asymmetry: jaccard of a 4-token snippet vs its 15-token source is
    // ~4/15 — the jaccard join at 0.75 finds none of the snippet pairs
    val all = (corpus ++ snippets).toDF("doc_id", "text")
    val jacc = Similarity.jaccardSimilarityJoin(all, "doc_id", "text", 0.75)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!jacc.exists { case (a, b) => a <= 8 && b > 200 },
      s"fixture sanity: jaccard must structurally miss snippet-in-doc pairs: $jacc")
  }

  test("kmeans recovers planted well-separated clusters; assignment is a pure projection") {
    // three orthogonal-ish direction bundles with small jitter
    def mk(axis: Int, n: Int, base: Long) = (0 until n).map { j =>
      val v = Array.fill(12)(0.01f * ((j + axis) % 5 - 2))
      v(axis * 4) = 1.0f
      (base + j, v.toSeq)
    }
    val data = (mk(0, 20, 0L) ++ mk(1, 20, 100L) ++ mk(2, 20, 200L))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(data, "vec_id", "embedding", k = 3, maxIter = 10)
    assert(cents.length == 3 && cents.forall(_.length == 12))
    // every learned centroid is unit length
    cents.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    val assigned = data.withColumn("c",
        Similarity.assignCluster(col("embedding"), cents.map(_.toSeq).toSeq))
      .select(col("vec_id"), col("c")).as[(Long, Int)].collect().toMap
    // each planted bundle lands in ONE cluster, and the three differ
    val groups = Seq(0L until 20L, 100L until 120L, 200L until 220L)
      .map(r => r.map(assigned).toSet)
    groups.foreach(g => assert(g.size == 1, s"bundle split across clusters: $g"))
    assert(groups.flatten.toSet.size == 3, "three bundles → three distinct clusters")
  }

  test("kmeans: bounded training sample still recovers planted clusters") {
    def mk(axis: Int, n: Int, base: Long) = (0 until n).map { j =>
      val v = Array.fill(12)(0.01f * ((j + axis) % 5 - 2))
      v(axis * 4) = 1.0f
      (base + j, v.toSeq)
    }
    val data = (mk(0, 20, 0L) ++ mk(1, 20, 100L) ++ mk(2, 20, 200L))
      .toDF("vec_id", "embedding")
    // train on ~half the corpus (a deterministic hash-cutoff sample):
    // full-corpus assignment must still put each bundle in one distinct
    // cluster
    val cents = Similarity.kmeansCentroids(data, "vec_id", "embedding",
      k = 3, maxIter = 10, maxTrainRows = 30)
    val assigned = data.withColumn("c",
        Similarity.assignCluster(col("embedding"), cents.map(_.toSeq).toSeq))
      .select(col("vec_id"), col("c")).as[(Long, Int)].collect().toMap
    val groups = Seq(0L until 20L, 100L until 120L, 200L until 220L)
      .map(r => r.map(assigned).toSet)
    groups.foreach(g => assert(g.size == 1, s"bundle split under sampled training: $g"))
    assert(groups.flatten.toSet.size == 3)
  }

  test("kmeans training sample: partition-invariant, bounded, map-only (no sort of vectors)") {
    val data = (0L until 1000L)
      .map(i => (i, Seq.tabulate(8)(d => (i % 7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    def sampleIds(parts: Int): Set[Long] =
      Similarity.trainingSample(data.repartition(parts), "vec_id", "embedding", 200)
        .select(col("__h")).as[Long].collect().toSet
    val s1 = sampleIds(1)
    // same rows under any partitioning: membership is a pure per-row
    // predicate against a cutoff derived only from the corpus count
    assert(sampleIds(7) == s1 && sampleIds(32) == s1)
    // Binomial(1000, 0.2) — assert a generous but real bound
    assert(s1.size > 120 && s1.size < 300, s"sample size ${s1.size} outside binomial range")
    // corpora at or under the bound are returned whole
    val whole = Similarity.trainingSample(data, "vec_id", "embedding", 1000)
    assert(whole.count() == 1000L)
    // plan shape: the sampled path is scan → filter → project — the
    // embedding stream must never enter a Sort or a shuffle Exchange
    val plan = Similarity.trainingSample(data, "vec_id", "embedding", 200)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Sort"), s"unexpected sort in training-sample plan:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected exchange in training-sample plan:\n$plan")
  }

  test("kmeans: k larger than distinct directions leaves empty clusters intact") {
    val data = (0L until 6L).map(i => (i, Seq.fill(8)(if (i < 3) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(data, "vec_id", "embedding", k = 5, maxIter = 4)
    assert(cents.length == 5, "empty clusters keep their previous centroid")
  }

  test("exact assignment above 256 centroids: co-assignment, degenerate edges") {
    val rnd = new scala.util.Random(913L)
    val dim = 16
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    // 20 well-separated anchors; 300 fine centroids = anchors + small noise
    val anchors = (0 until 20).map(_ => unit(Array.fill(dim)(rnd.nextGaussian())))
    val cents: Seq[Seq[Double]] = (0 until 300).map { i =>
      val a = anchors(i % 20)
      unit(a.toArray.zip(Array.fill(dim)(rnd.nextGaussian() * 0.08)).map { case (x, e) => x + e })
    }
    assert(cents.size > 256, "fixture must exceed 256 centroids")
    // a vector near a random anchor (tighter noise than the centroid spread)
    val v = {
      val a = anchors(rnd.nextInt(20))
      unit(a.toArray.zip(Array.fill(dim)(rnd.nextGaussian() * 0.05)).map { case (x, e) => x + e })
    }
    // exact scalar multiples co-assign (the q94 oracle property), and the
    // assignment is a pure function (identical vectors agree trivially)
    val fdf = Seq((1L, v.map(_.toFloat)), (2L, v.map(x => (x * 2).toFloat)))
      .toDF("id", "e")
    val co = fdf.select(Similarity.assignCluster(col("e"), cents))
      .as[Int].collect()
    assert(co(0) == co(1), s"x2 copy must co-assign: ${co.toSeq}")

    // degenerate inputs → k-1, mirroring ArgmaxCosine
    val bad = Seq(
      (1L, Option.empty[Seq[Double]]),
      (2L, Option(Seq.empty[Double])),
      (3L, Option(Seq.fill(dim)(0.0))),
      (4L, Option(Seq(1.0, 2.0)))) // dim mismatch: all 300 norms positive → k-1
      .toDF("id", "e")
    val degs = bad.select(Similarity.assignCluster(col("e"), cents))
      .as[Int].collect().toSet
    assert(degs == Set(cents.size - 1), s"degenerates must hit k-1: $degs")
  }

  test("semanticDeduplicate drops scaled copies, keeps distinct vectors; keep-best honors score") {
    // i and i+3 share an axis but differ in the tail component → cosine
    // ≈ 0.96 < 0.999, so only exact scaled copies collapse
    def vec(i: Int): Seq[Float] = {
      val v = Array.fill(12)(0.0f); v(i % 3) = 1.0f; v(11) = 0.3f * (i / 3); v.toSeq
    }
    val originals = (0 until 6).map(i => (i.toLong, vec(i), 10 - i))
    val copies = (0 until 3).map(i => (100L + i, vec(i).map(_ * 2.0f), 100))
    val df = (originals ++ copies).toDF("vec_id", "embedding", "score")
    // keep min-id: the originals survive, all scaled copies drop
    val kept = Dedup.semanticDeduplicate(df, "vec_id", "embedding",
        k = 3, threshold = 0.999, maxIter = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == (0L until 6L).toSet, s"kept $kept")
    // keep-best: the high-score scaled copy survives instead of its source
    val best = Dedup.semanticDeduplicate(df, "vec_id", "embedding",
        k = 3, threshold = 0.999, maxIter = 4, scoreCol = Some("score"))
      .select("vec_id").as[Long].collect().toSet
    assert(best == Set(100L, 101L, 102L, 3L, 4L, 5L), s"best $best")
  }

  test("semanticDeduplicate randomized differential: exact copies collapse to min id") {
    // Exact scalar copies have identical cosine profiles, so co-clustering
    // is guaranteed for ANY learned clustering — the brute-force model is
    // therefore a true oracle (no blocking-recall caveat applies).
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3) {
      val n = 30 + trial * 25
      val base = (0 until n).map { i =>
        (i.toLong, Seq.fill(10)((rnd.nextGaussian() * 0.5).toFloat))
      }
      val dupOf = (0 until n).filter(_ => rnd.nextBoolean()).take(n / 3)
      val copies = dupOf.zipWithIndex.map { case (src, j) =>
        ((1000 + j).toLong, base(src)._2.map(x => x * (1.5f + j)))
      }
      val df = (base ++ copies).toDF("vec_id", "embedding")
      val kept = Dedup.semanticDeduplicate(df, "vec_id", "embedding",
          k = 1 + n / 10, threshold = 0.9999, maxIter = 4)
        .select("vec_id").as[Long].collect().toSet
      // reference model: min id per exact-duplicate group survives; every
      // id without a copy survives (random gaussians never hit 0.9999)
      val want = base.map(_._1).toSet
      assert(kept == want, s"trial $trial: kept ${kept.toSeq.sorted} want ${want.toSeq.sorted}")
    }
  }

  test("semanticDeduplicate: null embeddings pass through; empty corpus is a no-op") {
    val rows = Seq(
      (0L, Some(Seq(1.0f, 0.0f)), 1),
      (1L, Some(Seq(2.0f, 0.0f)), 2), // scaled copy of 0 → drops
      (2L, None, 3),                  // null embedding → passes through
      (3L, Some(Seq(0.0f, 1.0f)), 4))
    val df = rows.toDF("vec_id", "embedding", "score")
    val kept = Dedup.semanticDeduplicate(df, "vec_id", "embedding",
        k = 2, threshold = 0.999, maxIter = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 3L), s"kept $kept")
    val empty = df.filter(col("vec_id") < 0)
    assert(Dedup.semanticDeduplicate(empty, "vec_id", "embedding",
      k = 2, threshold = 0.999).count() == 0)
    val allNull = df.filter(col("vec_id") === 2L)
    assert(Dedup.semanticDeduplicate(allNull, "vec_id", "embedding",
      k = 2, threshold = 0.999).count() == 1, "all-null corpus passes through")
  }

  test("semantic dedup plan shape: assignment is join-free, pair stage has no all-pairs join") {
    val data = (0L until 40L)
      .map(i => (i, Seq.tabulate(8)(j => (math.sin(i * 0.7 + j) * 0.4).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(data, "vec_id", "embedding", k = 4, maxIter = 2)
    // assignment: a pure projection — the corpus is never joined against
    // the model (the centroid list rides as a literal)
    val assigned = data.withColumn("c",
      Similarity.assignCluster(col("embedding"), cents.map(_.toSeq).toSeq))
    val aPlan = assigned.queryExecution.executedPlan.toString
    assert(!aPlan.contains("Join"), s"assignment must not join:\n$aPlan")
    // pair stage: equi-join on the learned block key only
    val pairs = Dedup.embeddingNearDuplicates(assigned, "vec_id", "embedding", "c", 0.9)
    val pPlan = pairs.queryExecution.executedPlan.toString
    assert(!pPlan.contains("NestedLoop") && !pPlan.contains("CartesianProduct"),
      s"pair join must be an equi-join on the block key:\n$pPlan")
  }

  test("ivfCosineTopK works with string centroid ids (trainCentroids on a string group)") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), "east"),
      (2L, Seq(0.9f, 0.1f), "east"),
      (3L, Seq(0.0f, 1.0f), "west"),
      (4L, Seq(0.1f, 0.9f), "west")).toDF("vec_id", "embedding", "region")
    val cents = IvfReference.trainCentroids(df, "embedding", "region")
    val r = IvfReference.ivfCosineTopK(df, "vec_id", "embedding",
      df.filter(col("vec_id") === 1L), "vec_id", "embedding", cents, k = 1, nprobe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 2L)), s"same-cluster nearest neighbor: ${r.toSeq}")
  }
}

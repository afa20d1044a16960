package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("topKPerGroup deterministic with tie-break") {
    val df = Seq((1, "a", 10.0), (1, "b", 10.0), (1, "c", 5.0), (2, "d", 1.0)).toDF("g", "id", "v")
    val r = Relational.topKPerGroup(df, Seq(col("g")), Seq(col("v").desc, col("id").asc), 2)
      .select("g", "id", "rank").as[(Int, String, Int)].collect().toSet
    assert(r == Set((1, "a", 1), (1, "b", 2), (2, "d", 1)))
  }

  test("distinctCounts matches countDistinct (nulls excluded), no Expand in the plan") {
    val df = Seq(
      (1L, Some("a"), 10), (2L, Some("a"), 10), (3L, Some("b"), 20),
      (4L, None, 20), (5L, Some("c"), 30), (5L, Some("c"), 30))
      .toDF("id", "s", "v")
      .select(col("id"), col("s"), col("v"))
    val got = Relational.distinctCounts(df, rowCountAs = Some("n_rows"),
      "id" -> "n_ids", "s" -> "n_ss", "v" -> "n_vs")
    val row = got.collect().head
    assert(got.columns.toSeq == Seq("n_rows", "n_ids", "n_ss", "n_vs"))
    assert(row.getLong(0) == 6L && row.getLong(1) == 5L
      && row.getLong(2) == 3L && row.getLong(3) == 3L, s"got $row")
    // the whole point: no Expand-based row multiplication anywhere
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"re-agg form must not plan an Expand:\n$plan")
  }

  test("sessionize splits on gap") {
    val us = (t: Long) => t * 1000000L
    val df = Seq((1L, us(0), 1L), (1L, us(10), 2L), (1L, us(100), 3L), (2L, us(5), 4L))
      .toDF("user", "us", "eid")
    val r = Relational.sessionize(df, col("user"), col("us"), gapMicros = us(30), col("eid"))
      .select("user", "eid", "session_id").as[(Long, Long, Long)].collect().toSet
    assert(r == Set((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (2L, 4L, 1L)))
  }

  test("asofJoin: backward match, inclusive boundary, null when no prior right row") {
    val trades = Seq((1L, 10L, "t1"), (1L, 20L, "t2"), (1L, 5L, "t0"), (2L, 50L, "t3"))
      .toDF("key", "ts", "trade")
    val quotes = Seq((1L, 10L, 1.5), (1L, 18L, 2.5), (2L, 60L, 9.9))
      .toDF("key", "q_ts", "px")
    val r = Relational.asofJoin(trades, quotes, Seq("key"), "ts", "q_ts")
      .select("trade", "q_ts", "px").as[(String, Option[Long], Option[Double])]
      .collect().toSet
    assert(r == Set(
      ("t0", None, None),              // before any quote
      ("t1", Some(10L), Some(1.5)),    // equal ts matches (inclusive)
      ("t2", Some(18L), Some(2.5)),    // latest preceding, not first
      ("t3", None, None)))             // key 2's only quote is later
  }

  test("asofJoin rightTieBreak: largest tie-break value wins among equal-ts right rows") {
    val l = Seq((1L, 10L, "a")).toDF("key", "ts", "tag")
    val r = Seq((1L, 5L, 100L, 1.0), (1L, 5L, 300L, 3.0), (1L, 5L, 200L, 2.0))
      .toDF("key", "q_ts", "rid", "px")
    val m = Relational.asofJoin(l, r, Seq("key"), "ts", "q_ts",
        rightTieBreak = Some(col("rid")))
      .select("tag", "rid", "px").as[(String, Long, Double)].collect().toSet
    assert(m == Set(("a", 300L, 3.0)))
  }

  test("asofJoin strict excludes the equal-ts right row") {
    val l = Seq((1L, 10L, "a")).toDF("key", "ts", "tag")
    val r = Seq((1L, 10L, 7.0), (1L, 4L, 3.0)).toDF("key", "q_ts", "px")
    val strict = Relational.asofJoin(l, r, Seq("key"), "ts", "q_ts", strict = true,
      rightTieBreak = None)
      .select("tag", "px").as[(String, Option[Double])].collect().toSet
    assert(strict == Set(("a", Some(3.0))), "equal-ts quote skipped under strict <")
  }

  test("asofJoin matches a brute-force model on random data (inclusive + strict)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val keys = 1 to (3 + rnd.nextInt(4))
      val left = for (k <- keys; _ <- 1 to 8)
        yield (k.toLong, rnd.nextInt(100).toLong, rnd.nextLong())
      // right unique per (key, ts) — the operator's documented contract
      val right = (for (k <- keys; t <- rnd.shuffle((0 until 100).toList).take(10))
        yield (k.toLong, t.toLong, rnd.nextDouble())).distinct
      val l = left.toDF("key", "ts", "tag")
      val r = right.toDF("key", "q_ts", "px")
      for (strict <- Seq(false, true)) {
        val got = Relational.asofJoin(l, r, Seq("key"), "ts", "q_ts", strict = strict,
          rightTieBreak = None)
          .select("key", "ts", "tag", "q_ts", "px")
          .as[(Long, Long, Long, Option[Long], Option[Double])].collect().toSeq.sorted
        val byKey = right.groupBy(_._1)
        val want = left.map { case (k, ts, tag) =>
          val m = byKey.getOrElse(k, Seq.empty)
            .filter(q => if (strict) q._2 < ts else q._2 <= ts)
            .sortBy(_._2).lastOption
          (k, ts, tag, m.map(_._2), m.map(_._3))
        }.sorted
        assert(got == want, s"trial $trial strict=$strict")
      }
    }
  }

  test("asofJoin plan shape: one window pass, no nested-loop join") {
    val l = Seq((1L, 10L, "a")).toDF("key", "ts", "tag")
    val r = Seq((1L, 4L, 3.0)).toDF("key", "q_ts", "px")
    val plan = Relational.asofJoin(l, r, Seq("key"), "ts", "q_ts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"as-of must not nested-loop:\n$plan")
    assert(plan.contains("Window"), s"as-of rides a window pass:\n$plan")
  }

  test("transitive closure of a chain + diamond") {
    // 1→2→3→4 and 1→5→4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (5L, 4L)).toDF("src", "dst")
    val tc = Relational.transitiveClosure(edges, "src", "dst")
      .as[(Long, Long)].collect().toSet
    assert(tc == Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 4L), (3L, 4L), (5L, 4L)))
  }

  test("transitive closure guards its quadratic output behind an explicit node cap") {
    val edges = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Relational.transitiveClosure(edges, "src", "dst", maxNodes = 10L)
    }
    // the message must route callers to the linear-state alternatives
    assert(ex.getMessage.contains("descendantCounts")
      && ex.getMessage.contains("dagRelaxMax")
      && ex.getMessage.contains("connectedComponents"))
    // raising the cap is the explicit opt-in
    assert(Relational.transitiveClosure(edges, "src", "dst", maxNodes = 30L)
      .count() == 29L * 30L / 2)
  }

  test("dag depth = longest path in hops") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val d = Relational.dagRelaxMax(edges.withColumn("__w", lit(1L)), "src", "dst",
      Seq("__w" -> "depth")).as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("deep chain: closure and depth survive 50+ iterations (lineage checkpointing)") {
    val n = 55L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    // doubling closure: chain of 54 edges → all (i, j) i<j pairs
    val tc = Relational.transitiveClosure(edges, "src", "dst")
    assert(tc.count() == n * (n - 1) / 2)
    // hop-depth relaxation (unit weights): needs 54 iterations — the lineage-growth
    // case (localMaxEdges = 0 forces the distributed loop on this tiny fixture)
    val d = Relational.dagRelaxMax(edges.withColumn("__w", lit(1L)), "src", "dst",
      Seq("__w" -> "depth"), maxIter = 60, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(d(n) == n - 1)
    assert(d(1L) == 0L)
  }

  test("iteration releases checkpoint-pinned blocks: caller unpersist leaves nothing behind") {
    val sc = spark.sparkContext
    // flush leftovers from other suites so the delta below is ours alone
    val preexisting = sc.getPersistentRDDs.keySet.toSet
    val n = 55L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val tc = Relational.transitiveClosure(edges, "src", "dst") // >5 iters → checkpoints happen
    assert(tc.count() == n * (n - 1) / 2)
    val d = Relational.dagRelaxMax(edges.withColumn("__w", lit(1L)), "src", "dst",
      Seq("__w" -> "depth"), maxIter = 60, localMaxEdges = 0L)
    assert(d.count() == n)
    // results are still cached (callable), but through the CacheManager —
    // so the caller's plain unpersist() actually releases them
    tc.unpersist(blocking = true)
    d.unpersist(blocking = true)
    val leaked = sc.getPersistentRDDs.keySet.toSet -- preexisting
    assert(leaked.isEmpty, s"pinned RDDs leaked by iteration: $leaked")
  }

  test("cpmSchedule rejects an unknown relation_type instead of dropping the constraint") {
    val stages = Seq((1L, 5), (2L, 3)).toDF("stage_id", "duration_days")
    val deps = Seq((2L, 1L, "XX", 0))
      .toDF("stage_id", "depends_on_stage_id", "relation_type", "lag_days")
    val ex = intercept[Exception] {
      Relational.cpmSchedule(stages, deps).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("unknown relation_type")))
  }

  test("weighted longest path honors edge weights over hop count") {
    // 1→3 direct weight 10 beats 1→2→3 (1+1)
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 10L)).toDF("src", "dst", "w")
    val d = Relational.dagLongestPath(edges, "src", "dst", "w")
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 10L))
  }

  test("dagRelaxMax fuses depth + weighted lag in one loop, matches the separate ops") {
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 0L))
      .toDF("src", "dst", "lag")
    val fused = Relational.dagRelaxMax(
      edges.withColumn("__one", lit(1L)), "src", "dst",
      Seq("__one" -> "depth", "lag" -> "max_lag"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val depth = Relational.dagRelaxMax(edges.withColumn("__w", lit(1L)), "src", "dst",
      Seq("__w" -> "depth")).as[(Long, Long)].collect().toMap
    val lag = Relational.dagLongestPath(edges, "src", "dst", "lag")
      .as[(Long, Long)].collect().toMap
    assert(fused.keySet == depth.keySet)
    fused.foreach { case (n, (d, l)) => assert(d == depth(n) && l == lag(n), s"node $n") }
    // the interesting node: 3 is depth 2 (via 1→2→3) but lag 10 (via 1→3)
    assert(fused(3L) == ((2L, 10L)))
  }

  test("descendantCounts (exact bitset path) matches closure-derived counts, sinks get 0") {
    // diamond + tail: 1→{2,3}→4→5, plus 2→6
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (2L, 6L))
      .toDF("src", "dst")
    val got = Relational.descendantCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    val want = {
      val tc = Relational.transitiveClosure(edges, "src", "dst")
        .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).distinct.length.toLong)
      (1L to 6L).map(n => n -> tc.getOrElse(n, 0L)).toMap
    }
    assert(got == want, s"got $got want $want")
    assert(got(5L) == 0L && got(6L) == 0L, "sinks carry 0")
    assert(got(1L) == 5L, "root reaches everything")
  }

  test("descendantCounts exact path crosses a word boundary (>64 nodes) and deep chains") {
    // chain of 70 nodes: node i reaches 70 - i descendants; register needs 2 words
    val n = 70L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Relational.descendantCounts(edges, "src", "dst", maxIter = 80,
        exactMaxNodes = Relational.DescendantsExactMaxNodes, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    (1L to n).foreach(i => assert(got(i) == n - i, s"node $i"))
  }

  test("small-graph fast paths ≡ distributed loops on random DAGs (relax + descendants)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      // random DAG: edges only i→j with i<j, random weights incl. zeros
      val nNodes = 12 + rnd.nextInt(15)
      val es = (for {
        i <- 1 to nNodes; j <- (i + 1) to nNodes
        if rnd.nextDouble() < 0.18
      } yield (i.toLong, j.toLong, rnd.nextInt(10).toLong)).toList
      if (es.nonEmpty) {
        val edges = es.toDF("src", "dst", "w").withColumn("__one", lit(1L))
        val weights = Seq("__one" -> "depth", "w" -> "max_w")
        val local = Relational.dagRelaxMax(edges, "src", "dst", weights)
          .as[(Long, Long, Long)].collect().toSet
        val dist = Relational.dagRelaxMax(edges, "src", "dst", weights, localMaxEdges = 0L)
          .as[(Long, Long, Long)].collect().toSet
        assert(local == dist, s"trial $trial relax: local $local vs distributed $dist")
        val localD = Relational.descendantCounts(edges, "src", "dst")
          .as[(Long, Long)].collect().toSet
        val distD = Relational.descendantCounts(edges, "src", "dst", maxIter = 50,
            exactMaxNodes = Relational.DescendantsExactMaxNodes, localMaxEdges = 0L)
          .as[(Long, Long)].collect().toSet
        assert(localD == distD, s"trial $trial desc: local $localD vs distributed $distD")
      }
    }
  }

  test("descendantCounts sketch path (forced) approximates counts on a small graph") {
    // force the HLL path by setting exactMaxNodes below |V|; HLL is exact-ish
    // at tiny cardinalities (error ~1.6% at default lgK, 0 here)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (2L, 6L))
      .toDF("src", "dst")
    val got = Relational.descendantCounts(edges, "src", "dst", maxIter = 50,
        exactMaxNodes = 1, localMaxEdges = Relational.DagLocalMaxEdges)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 5L && got(4L) == 1L && got(5L) == 0L && got(6L) == 0L,
      s"sketch-path counts off: $got")
  }

  test("descendantCounts releases its caches: caller unpersist leaves nothing behind") {
    val sc = spark.sparkContext
    val preexisting = sc.getPersistentRDDs.keySet.toSet
    val n = 30L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val d = Relational.descendantCounts(edges, "src", "dst", maxIter = 40,
      exactMaxNodes = Relational.DescendantsExactMaxNodes, localMaxEdges = 0L)
    assert(d.count() == n)
    d.unpersist(blocking = true)
    val leaked = sc.getPersistentRDDs.keySet.toSet -- preexisting
    assert(leaked.isEmpty, s"pinned RDDs leaked by descendantCounts: $leaked")
  }

  test("distributed graph loops: pinned job counts, nothing left persisted after unpersist") {
    val sc = spark.sparkContext
    val n = 55L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    // every loop forced onto its distributed path, deep enough to reach
    // its cut rounds; the counts are the loops' traffic, pinned exactly
    val loops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "transitiveClosure" -> (() => Relational.transitiveClosure(chain, "src", "dst")),
      "connectedComponents" -> (() =>
        Relational.connectedComponents(chain, "src", "dst", localMaxEdges = 0L)),
      "dagRelaxMax" -> (() => Relational.dagRelaxMax(chain.withColumn("__w", lit(1L)),
        "src", "dst", Seq("__w" -> "depth"), maxIter = 60, localMaxEdges = 0L)),
      "descendantCounts exact" -> (() => Relational.descendantCounts(chain, "src", "dst",
        maxIter = 60, exactMaxNodes = Relational.DescendantsExactMaxNodes, localMaxEdges = 0L)),
      "descendantCounts sketch" -> (() => Relational.descendantCounts(chain, "src", "dst",
        maxIter = 60, exactMaxNodes = 0, localMaxEdges = 0L)),
      "pageRank" -> (() => Relational.pageRank(chain, "src", "dst", None,
        Relational.PageRankIterations, Relational.PageRankDamping, localMaxEdges = 0L)))
    val measured = loops.map { case (name, run) =>
      val preexisting = sc.getPersistentRDDs.keySet.toSet
      var out: org.apache.spark.sql.DataFrame = null
      val jobs = jobsStartedBy { out = run() }
      out.unpersist(blocking = true)
      val leaked = sc.getPersistentRDDs.keySet.toSet -- preexisting
      assert(leaked.isEmpty, s"$name left persisted RDDs behind: $leaked")
      name -> jobs
    }
    assert(measured == Seq("transitiveClosure" -> 65, "connectedComponents" -> 90,
      "dagRelaxMax" -> 339, "descendantCounts exact" -> 290, "descendantCounts sketch" -> 393,
      "pageRank" -> 62), s"jobs: $measured")
  }

  test("asofJoin rejects right payload columns that collide with left columns") {
    val l = Seq((1L, 10L, "a")).toDF("key", "ts", "tag")
    val r = Seq((1L, 4L, "b")).toDF("key", "q_ts", "tag") // tag collides
    val ex = intercept[IllegalArgumentException] {
      Relational.asofJoin(l, r, Seq("key"), "ts", "q_ts")
    }
    assert(ex.getMessage.contains("tag"))
  }

  test("cpmSchedule: FS/SS/FF/SF anchor arithmetic on a fixture plan") {
    // durations: s1=5, s2=3, s3=4, s4=2, s5=6
    val stages = Seq((1L, 5), (2L, 3), (3L, 4), (4L, 2), (5L, 6))
      .toDF("stage_id", "duration_days")
    // (child, parent, type, lag)
    val deps = Seq(
      (2L, 1L, "FS", 2), // s2.start ≥ s1.finish(5)+2 = 7
      (3L, 1L, "SS", 1), // s3.start ≥ s1.start(0)+1 = 1
      (4L, 2L, "FF", 0), // s4.finish ≥ s2.finish(10) → start ≥ 10-2 = 8
      (5L, 3L, "SF", 4)  // s5.finish ≥ s3.start(1)+4 → start ≥ 5-6 → floor 0
    ).toDF("stage_id", "depends_on_stage_id", "relation_type", "lag_days")
    val start = java.sql.Date.valueOf("2024-01-01")
    val byId = Relational.cpmSchedule(stages, deps, Some(start))
      .collect().map(r => r.getLong(0) -> (
        r.getLong(r.fieldIndex("early_start")),
        r.getLong(r.fieldIndex("early_finish")),
        r.getDate(r.fieldIndex("start_date")).toString)).toMap
    assert(byId(1L) == ((0L, 5L, "2024-01-01")))
    assert(byId(2L) == ((7L, 10L, "2024-01-08")))
    assert(byId(3L) == ((1L, 5L, "2024-01-02")))
    assert(byId(4L) == ((8L, 10L, "2024-01-09")))
    assert(byId(5L) == ((0L, 6L, "2024-01-01"))) // SF constraint non-binding → floor 0
  }

  test("connected components: chains, triangles, separate components, min label") {
    // component A: long chain 1-2-3-4-5-6-7 (exercises >1 propagation round)
    // component B: triangle 10-11-12 plus pendant 13
    // component C: single edge 20-21; node 30 is isolated (absent from edges)
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
      (10L, 11L), (11L, 12L), (10L, 12L), (12L, 13L),
      (20L, 21L)).toDF("id_a", "id_b")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // distributed loop forced (localMaxEdges = 0) — this is the test that
    // pins the iteration's behavior AND its cache hygiene; the fast path
    // is covered by the local≡distributed equivalence test below
    val result = Relational.connectedComponents(edges, "id_a", "id_b", localMaxEdges = 0L)
    val got = result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 7L).forall(got(_) == 1L))
    assert((10L to 13L).forall(got(_) == 10L))
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(!got.contains(30L)) // isolated nodes are the caller's to union in
    // the iteration leaves behind at most its own (caller-unpersistable)
    // cached result — no checkpoint-pinned intermediates
    result.unpersist(blocking = true)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- cachedBefore
    assert(leaked.isEmpty, s"pinned blocks leaked: $leaked")
  }

  test("connected components matches brute-force union-find on random graphs") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val edges = Seq.fill(20 + rnd.nextInt(40))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2).distinct
      // reference: sequential union-find with path walk
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val minOfRoot = nodes.groupBy(v => find(v.toInt)).map { case (r, vs) => r -> vs.min }
      val expected = nodes.map(v => v -> minOfRoot(find(v.toInt))).toMap
      // the DISTRIBUTED loop against the sequential model (the fast path
      // IS a union-find — comparing it to this model would be circular)...
      val got = Relational.connectedComponents(
          edges.toDF("id_a", "id_b"), "id_a", "id_b", localMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"n=$n edges=${edges.size}")
      // ...and the fast path (what Dedup.nearDupClusters now takes at this
      // size) against the distributed result
      val local = Dedup.nearDupClusters(edges.toDF("id_a", "id_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == got, s"fast path diverged: n=$n edges=${edges.size}")
    }
  }

  test("small-graph gates fetch the edge list once: no count job before the collect") {
    val cc = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val ccJobs = jobsStartedBy(Relational.connectedComponents(cc, "src", "dst"))
    val pr = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val prJobs = jobsStartedBy(Relational.pageRank(pr, "src", "dst"))
    assert((ccJobs, prJobs) == ((3, 2)), s"jobs: connectedComponents $ccJobs, pageRank $prJobs")
  }

  test("keepOnePerCluster keeps exactly the min id per cluster and passes singletons") {
    import graft.operators.Dedup
    val docs = Seq((1L, "a"), (2L, "a2"), (3L, "a3"), (7L, "solo"), (9L, "b"), (10L, "b2"))
      .toDF("doc_id", "text")
    // 1-2-3 chained near-dups; 9-10 pair; 7 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 10L)).toDF("id_a", "id_b")
    val kept = Dedup.keepOnePerCluster(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 7L, 9L))
  }

  test("rangeJoin: boundaries half-open, overlaps multi-match, equals the naive BETWEEN join") {
    val ranges = Seq(
      (0L, 10L, "a"), (10L, 30L, "b"),      // adjacent: 10 belongs to b only
      (25L, 50L, "c"),                      // overlaps b on [25,30)
      (100L, 101L, "d")).toDF("lo", "hi", "tag")
    val points = Seq(0L, 9L, 10L, 26L, 29L, 30L, 49L, 50L, 100L, 99L).toDF("p")
    def run(width: Long) = Relational.rangeJoin(points, "p", ranges, "lo", "hi", width)
      .select(col("p"), col("tag")).as[(Long, String)].collect().toSet
    val got = run(7L)
    val naive = points.join(ranges, col("p") >= col("lo") && col("p") < col("hi"))
      .select(col("p"), col("tag")).as[(Long, String)].collect().toSet
    assert(got == naive, "bucketed join must equal the naive inequality join")
    assert(got.contains((10L, "b")) && !got.contains((10L, "a")), "hi is exclusive, lo inclusive")
    assert(got.filter(_._1 == 26L).map(_._2) == Set("b", "c"), "overlapping ranges both match")
    assert(!got.exists(_._1 == 50L) && !got.exists(_._1 == 99L), "gaps and past-end points drop")
    // bucket width must not change results, only fan-out
    assert(run(1L) == naive && run(64L) == naive)
    // reversed/degenerate range: zero rows, not a descending-sequence blowup
    val reversed = Seq((50L, 10L, "bad"), (5L, 5L, "empty"), (0L, 3L, "ok"))
      .toDF("lo", "hi", "tag")
    val r2 = Relational.rangeJoin(Seq(2L, 20L).toDF("p"), "p", reversed, "lo", "hi", 4L)
      .select(col("p"), col("tag")).as[(Long, String)].collect().toSet
    assert(r2 == Set((2L, "ok")))
    // negative bounds: div bucketing stays consistent on both sides
    val neg = Seq((-10L, -2L, "n")).toDF("lo", "hi", "tag")
    val r3 = Relational.rangeJoin(Seq(-10L, -3L, -2L, 0L).toDF("p"), "p", neg, "lo", "hi", 3L)
      .select(col("p")).as[Long].collect().toSet
    assert(r3 == Set(-10L, -3L))
    // fractional bounds are rejected loudly, not silently mis-bucketed
    val frac = Seq((0.0, 5.5, "f")).toDF("lo", "hi", "tag")
    intercept[IllegalArgumentException] {
      Relational.rangeJoin(points, "p", frac, "lo", "hi", 2L)
    }
    // reserved helper column collides loudly
    intercept[IllegalArgumentException] {
      Relational.rangeJoin(points.withColumn("__b", lit(1)), "p", ranges, "lo", "hi", 2L)
    }
  }

  test("asofJoin: NULL right timestamps never match") {
    val left = Seq((1L, 100L, "L")).toDF("k", "ts", "lv")
    val right = Seq(
      (1L, Option.empty[Long], "phantom"),
      (1L, Some(200L), "late")).toDF("k", "q_ts", "payload")
    for (strict <- Seq(false, true)) {
      val r = Relational.asofJoin(left, right, Seq("k"), "ts", "q_ts", strict = strict,
          rightTieBreak = None)
        .select("lv", "payload").as[(String, Option[String])].collect()
      assert(r.toSeq == Seq(("L", None)),
        s"strict=$strict: a null-ts right row must not win when no real match exists")
    }
  }

  test("graph fast paths skip mixed src/dst endpoint types instead of narrowing ids") {
    // src int, dst long with an id beyond Int range: the local path's
    // single-type schema would wrap it — the guard must route this to
    // the distributed loop, which widens via union
    val big = 5000000000L
    val edges = Seq((1, 2L), (2, big)).toDF("s", "d")
      .select(col("s").cast("int").as("s"), col("d").as("d"))
    val cc = Relational.connectedComponents(edges, "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(cc(big) == 1L && cc(2L) == 1L, s"big id intact: $cc")
  }

  test("pageRank: symmetric cycle is uniform, ranks sum to 1, weights steer mass") {
    // two-node cycle: perfectly symmetric, so every iteration keeps the
    // uniform distribution exactly (closed form, no tolerance games)
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("s", "t")
    val rc = Relational.pageRank(cyc, "s", "t")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(rc(1L) - 0.5) < 1e-12 && math.abs(rc(2L) - 0.5) < 1e-12, s"$rc")

    // weighted fan: a splits 3:1 to b vs c; b and c cycle back. b must
    // outrank c, and ranks must sum to 1
    val fan = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("s", "t", "w")
    val rf = Relational.pageRank(fan, "s", "t", Some("w"), iterations = 20,
      damping = Relational.PageRankDamping, localMaxEdges = Relational.PageRankLocalMaxEdges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rf(2L) > rf(3L), s"weighted edge must steer mass: $rf")
    assert(math.abs(rf.values.sum - 1.0) < 1e-9, s"ranks must sum to 1: $rf")
  }

  test("pageRank: dangling redistribution matches a scalar reference loop; partition-invariant") {
    // a -> b, b dangling. Reference: the same fixed-iteration recurrence
    // computed with plain doubles.
    val edges = Seq((10L, 20L)).toDF("s", "t")
    val got = Relational.pageRank(edges, "s", "t")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    var ra = 0.5; var rb = 0.5
    for (_ <- 1 to 10) {
      val dm = rb // b has no out-edges
      val na = (1 - 0.85) / 2 + 0.85 * (0.0 + dm / 2)
      val nb = (1 - 0.85) / 2 + 0.85 * (ra + dm / 2)
      ra = na; rb = nb
    }
    assert(math.abs(got(10L) - ra) < 1e-12 && math.abs(got(20L) - rb) < 1e-12,
      s"got $got, reference ($ra, $rb)")
    assert(math.abs(got.values.sum - 1.0) < 1e-12, "dangling mass must be conserved")

    // partitioning must not change the result beyond double round-off
    val rep = Relational.pageRank(edges.repartition(7), "s", "t")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((k, v) <- got) assert(math.abs(rep(k) - v) < 1e-12, s"partition-variant at $k")

    // the DISTRIBUTED path (forced via localMaxEdges = 0) must agree
    // with the driver fast path on a graph exercising weights, a cycle,
    // AND a dangling node
    val mixed = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 4L, 2.0))
      .toDF("s", "t", "w")
    val fast = Relational.pageRank(mixed, "s", "t", Some("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = Relational.pageRank(mixed, "s", "t", Some("w"), iterations = 10, damping = 0.85,
        localMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast.keySet == dist.keySet)
    for ((k, v) <- fast) assert(math.abs(dist(k) - v) < 1e-12,
      s"distributed vs local mismatch at $k: ${dist(k)} vs $v")
    assert(math.abs(dist.values.sum - 1.0) < 1e-9, "distributed must conserve mass")

    // zero/negative/null-weight edges carry no transition probability:
    // both paths must drop them (letting one through would NaN the
    // out-weight normalization), and a node only touched by dropped
    // edges leaves the graph
    val dirty = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 4L, 2.0),
      (1L, 9L, 0.0), (9L, 2L, -5.0))
    val dirtyDf = dirty.toDF("s", "t", "w")
      .unionByName(Seq((4L, 1L)).toDF("s", "t").withColumn("w", lit(null).cast("double")))
    for (lme <- Seq(100000L, 0L)) {
      val r = Relational.pageRank(dirtyDf, "s", "t", Some("w"), iterations = 10, damping = 0.85,
          localMaxEdges = lme)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(!r.contains(9L), s"node on only-dropped edges must vanish (lme=$lme): $r")
      for ((k, v) <- fast) assert(math.abs(r(k) - v) < 1e-12,
        s"dropped edges must not perturb ranks (lme=$lme, node $k)")
    }
  }

  test("pageRank randomized differential: distributed path equals the driver kernel") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 2) {
      // random multigraph: duplicate (s,t) edges and self-loops occur
      // at these sizes; the dangling node is FORCED (edge into id 99,
      // which never sources) — with this seed every id in 0..11
      // sources somewhere, so without it the dangling-mass path (the
      // likeliest cross-path divergence) would silently go untested
      val edges = (1 to 60).map(_ =>
        (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong, (rnd.nextInt(5) + 1).toDouble)) :+
        ((rnd.nextInt(12).toLong, 99L, 2.0))
      val df = edges.toDF("s", "t", "w")
      val fast = Relational.pageRank(df, "s", "t", Some("w"), iterations = 5,
        damping = Relational.PageRankDamping, localMaxEdges = Relational.PageRankLocalMaxEdges)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val dist = Relational.pageRank(df, "s", "t", Some("w"), iterations = 5, damping = 0.85,
          localMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(fast.keySet == dist.keySet, s"trial $trial node sets differ")
      for ((k, v) <- fast) assert(math.abs(dist(k) - v) < 1e-12,
        s"trial $trial node $k: dist ${dist(k)} vs local $v")
      assert(math.abs(fast.values.sum - 1.0) < 1e-9, s"trial $trial mass")
    }
  }

  test("pageRank: binary node ids compare by value (distributed path), not reference") {
    // each logical id appears as a FRESH Array[Byte] instance per edge —
    // the driver fast path's Any-keyed index would split them by
    // reference into per-edge singleton nodes, so BinaryType must route
    // to the distributed path, where ids compare by value
    def b(x: Byte) = Array(x)
    val edges = Seq((b(1), b(2)), (b(2), b(3)), (b(3), b(1))).toDF("s", "t")
    val r = Relational.pageRank(edges, "s", "t")
      .collect().map(row => (row.getAs[Array[Byte]](0).toSeq, row.getDouble(1)))
    assert(r.length == 3, s"3-cycle must stay 3 nodes, got ${r.length}: $r")
    r.foreach { case (id, rank) =>
      assert(math.abs(rank - 1.0 / 3) < 1e-12, s"symmetric cycle must be uniform: $id -> $rank")
    }
  }

  test("cpmSchedule fails loudly when a dependency references a missing stage") {
    val stages = Seq((1L, 5L), (2L, 3L)).toDF("stage_id", "duration_days")
    val deps = Seq((2L, 9L, "FS", 0L))
      .toDF("stage_id", "depends_on_stage_id", "relation_type", "lag_days")
    val ex = intercept[Exception] {
      Relational.cpmSchedule(stages, deps).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("has no stages row"),
      s"expected a missing-stage error, got: ${ex.getMessage}")
    // SS, which reads neither duration, must ALSO validate both endpoints
    val depsSs = Seq((2L, 9L, "SS", 0L))
      .toDF("stage_id", "depends_on_stage_id", "relation_type", "lag_days")
    val ex2 = intercept[Exception] {
      Relational.cpmSchedule(stages, depsSs).collect()
    }
    assert(ex2.getMessage != null && ex2.getMessage.contains("has no stages row"))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.{MisraGriesSketch, Sketches}
import graft.sources.{Lease, ParquetRead}

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private def sketchOf(items: Seq[String], k: Int): Array[Long] =
    Sketches.kmvSketch(items.toDF("x"), col("x"), k).select("h").as[Long].collect()

  test("kmv: exact below k, within ~3/sqrt(k) relative error above") {
    val small = sketchOf((1 to 100).map("s" + _), 256)
    assert(Sketches.kmvEstimate(small, 256) == 100.0, "fewer than k distincts = exact count")
    val n = 20000
    val big = sketchOf((1 to n).map("item" + _), 256)
    assert(big.length == 256)
    val est = Sketches.kmvEstimate(big, 256)
    assert(math.abs(est - n) / n < 3.0 / math.sqrt(256), s"estimate $est too far from $n")
  }

  test("kmv union/intersection: disjoint ~0 overlap, identical ~full overlap, partial in between") {
    val k = 256
    val a = sketchOf((1 to 5000).map("a" + _), k)
    val b = sketchOf((1 to 5000).map("b" + _), k)
    val (u, i) = Sketches.kmvUnionIntersection(a, b, k)
    assert(math.abs(u - 10000) / 10000 < 0.25 && i < 0.05 * u, "disjoint sets: tiny intersection")
    val (u2, i2) = Sketches.kmvUnionIntersection(a, a, k)
    assert(u2 == Sketches.kmvEstimate(a, k) && math.abs(i2 - u2) < 1e-9,
      "identical sketches: intersection = union")
    // half-overlapping: a1..6000 vs a4001..10000 → true |∩|/|∪| = 0.2
    val c = sketchOf((1 to 6000).map("a" + _), k)
    val d = sketchOf((4001 to 10000).map("a" + _), k)
    val (u3, i3) = Sketches.kmvUnionIntersection(c, d, k)
    assert(math.abs(u3 - 10000) / 10000 < 0.25)
    assert(i3 > 0.08 * u3 && i3 < 0.35 * u3, s"overlap estimate $i3 of union $u3 off 0.2")
  }

  test("kmv sketch is deterministic data: repartition cannot change it") {
    val items = (1 to 3000).map("x" + _)
    val a = sketchOf(items, 128).toSeq
    val b = Sketches.kmvSketch(items.toDF("x").repartition(11), col("x"), 128)
      .select("h").as[Long].collect().toSeq
    assert(a == b)
  }

  test("kmv sketch excludes NULL inputs (count-distinct semantics)") {
    import spark.implicits._
    val df = Seq(Some("a"), None, Some("b"), None).toDF("v")
    val sk = graft.operators.Sketches.kmvSketch(df, col("v"), 8)
      .as[Long].collect()
    assert(sk.length == 2, s"two distinct non-null values: ${sk.toSeq}")
    assert(graft.operators.Sketches.kmvEstimate(sk, 8) == 2.0)
  }

  test("hll state: batched accumulation is merge-order robust and within error of exact") {
    // 3 keys × overlapping values split into 3 arbitrary batches. The
    // merged estimate must agree ACROSS merge orders and with the
    // one-shot sketch within a small tolerance — NOT exactly: register
    // max is order-invariant, but the Datasketches union gadget keeps
    // or drops its HIP estimator depending on the modes of the inputs
    // it absorbed (measured: ~0.3% spread across orders, ~0.2% vs
    // one-shot) — and land within HLL's error of the exact count.
    // Consumers therefore read HLL state through error-bound checks
    // (q96's boolean slack is ~30× this jitter), never via equality.
    val rows = (1 to 3000).map(i => (s"k${i % 3}", (i * 7919) % 1100))
    val df = rows.toDF("k", "v")
    val batches = Seq(
      df.filter(col("v") % 3 === 0), df.filter(col("v") % 3 === 1),
      df.filter(col("v") % 3 === 2))
    val states = batches.map(b =>
      Sketches.hllDistinctState(b, Seq("k"), col("v")))
    def estOf(ss: Seq[org.apache.spark.sql.DataFrame]): Map[String, Double] =
      Sketches.hllEstimate(Sketches.hllMergeStates(Seq("k"), ss: _*))
        .select(col("k"), col("distinct_est")).as[(String, Double)].collect().toMap
    val incEst = estOf(states)
    val permEst = estOf(Seq(states(2), states(0), states(1)))
    val oneShot = Sketches.hllEstimate(
        Sketches.hllDistinctState(df, Seq("k"), col("v")))
      .select(col("k"), col("distinct_est")).as[(String, Double)].collect().toMap
    val exact = df.groupBy("k").agg(countDistinct(col("v")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(incEst.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(incEst(k) - permEst(k)) <= n * 0.02,
        s"$k: merge order moved the estimate too far: ${incEst(k)} vs ${permEst(k)}")
      assert(math.abs(incEst(k) - oneShot(k)) <= n * 0.02,
        s"$k: merged-batch estimate ${incEst(k)} far from one-shot ${oneShot(k)}")
      assert(math.abs(incEst(k) - n) <= n * 0.10,
        s"$k: estimate ${incEst(k)} vs exact $n")
    }
  }

  test("hll state: re-accumulating a seen batch is a no-op; disjoint keys pass through merge") {
    val a = Seq(("x", 1), ("x", 2), ("y", 5)).toDF("k", "v")
    val b = Seq(("z", 9)).toDF("k", "v")
    val sa = Sketches.hllDistinctState(a, Seq("k"), col("v"))
    val est1 = Sketches.hllEstimate(Sketches.hllMergeStates(Seq("k"), sa, sa))
      .select(col("k"), col("distinct_est")).as[(String, Double)].collect().toMap
    val est0 = Sketches.hllEstimate(sa)
      .select(col("k"), col("distinct_est")).as[(String, Double)].collect().toMap
    assert(est1 == est0, "at-least-once redelivery must not inflate the estimate")
    // keys on one side only survive the merge (union IS full-outer)
    val sb = Sketches.hllDistinctState(b, Seq("k"), col("v"))
    val all = Sketches.hllEstimate(Sketches.hllMergeStates(Seq("k"), sa, sb))
      .select(col("k"), col("distinct_est")).as[(String, Double)].collect().toMap
    assert(all.keySet == Set("x", "y", "z"))
    assert(math.round(all("x")) == 2L && math.round(all("y")) == 1L
      && math.round(all("z")) == 1L)
    // nulls excluded like every distinct-count op
    val withNull = Seq(("x", Some(1)), ("x", None)).toDF("k", "v")
    val estN = Sketches.hllEstimate(
        Sketches.hllDistinctState(withNull, Seq("k"), col("v")))
      .select(col("distinct_est")).as[Double].head()
    assert(math.round(estN) == 1L)
  }

  test("misra-gries: MG invariants hold on a skewed stream (weight ≤ true ≤ weight+Δ; Δ ≤ n/(m+1))") {
    // zipf-ish: item i has ~3000/i occurrences, i = 1..60; m = 16
    val rows = (1 to 60).flatMap(i => Seq.fill(3000 / i)(s"w$i"))
    val rnd = new scala.util.Random(7)
    val df = rnd.shuffle(rows).toDF("t").repartition(5)
    val n = rows.size.toLong
    val exact = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val sk = MisraGriesSketch.frequentItems(df, col("t"), m = 16)
      .as[(String, Long, Long)].collect()
    assert(sk.nonEmpty && sk.length <= 16)
    val delta = sk.head._3
    assert(delta <= n / 17, s"delta $delta exceeds n/(m+1) = ${n / 17}")
    sk.foreach { case (item, w, _) =>
      val t = exact(item)
      assert(w <= t && t <= w + delta, s"$item: weight $w, true $t, delta $delta")
    }
    val tracked = sk.map(_._1).toSet
    exact.foreach { case (item, t) =>
      if (t > delta) assert(tracked(item),
        s"$item has true count $t > delta $delta but is not tracked")
    }
  }

  test("topKExact: equals the naive full groupBy top-k, partition-invariant, throws when m too small") {
    val rows = (1 to 40).flatMap(i => Seq.fill(if (i <= 5) 500 else 9)(s"u$i"))
    val rnd = new scala.util.Random(13)
    val df = rnd.shuffle(rows).toDF("t")
    val naive = df.groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t").asc).limit(5)
      .as[(String, Long)].collect().toSeq
    val twoPass = Sketches.topKExact(df, col("t"), k = 5, m = 16)
      .as[(String, Long)].collect().toSeq
    assert(twoPass == naive, s"two-pass $twoPass vs naive $naive")
    val repart = Sketches.topKExact(df.repartition(7), col("t"), k = 5, m = 16)
      .as[(String, Long)].collect().toSeq
    assert(repart == naive, "exact recount must make the result partition-invariant")
    // flat vocabulary, tiny m: the k-th count cannot clear Δ — the
    // operator must REFUSE rather than silently under-rank
    val flat = (1 to 200).flatMap(i => Seq.fill(5)(s"f$i"))
    val flatDf = rnd.shuffle(flat).toDF("t")
    val ex = intercept[IllegalArgumentException] {
      Sketches.topKExact(flatDf, col("t"), k = 3, m = 8)
    }
    assert(ex.getMessage.contains("Raise m"))
    // the delta error bound must SURVIVE a total counter wipe-out:
    // 'sketch gave up' (null item row, delta > 0) is distinguishable
    // from 'empty input' (delta 0)
    val wiped = MisraGriesSketch.frequentItems(flatDf, col("t"), m = 8)
      .select(col("item"), col("delta")).collect()
    if (wiped.forall(_.isNullAt(0))) {
      assert(wiped.length == 1 && wiped.head.getLong(1) > 0L,
        s"wiped sketch must carry delta: ${wiped.toSeq}")
    } else {
      assert(wiped.forall(r => !r.isNullAt(0)) && wiped.head.getLong(1) > 0L)
    }
    val emptyIn = MisraGriesSketch.frequentItems(
      Seq.empty[String].toDF("t"), col("t"), m = 8)
      .select(col("item"), col("delta")).collect()
    assert(emptyIn.length == 1 && emptyIn.head.isNullAt(0)
      && emptyIn.head.getLong(1) == 0L, s"empty input: ${emptyIn.toSeq}")
  }

  test("histogram state: nearest-rank table, null exclusion, multi-run merge with redelivery dedupe") {
    import spark.implicits._
    // nearest-rank definition, pinned on a 4-value fixture: value(q) =
    // min bucket whose cumulative count >= max(1, ceil(q*N))
    val one = Sketches.histDeltaState(
        Seq(("x", 1L), ("x", 2L), ("x", 3L), ("x", 4L)).toDF("k", "v"),
        Seq("k"), col("v"))
      .withColumn("run_id", lit(0L))
    val table = Sketches.histStateQuantiles(one, Seq("k"),
        Seq(0.25, 0.5, 0.51, 0.75, 1.0))
      .select("q", "value").as[(Double, Long)].collect().toMap
    assert(table == Map(0.25 -> 1L, 0.5 -> 2L, 0.51 -> 3L, 0.75 -> 3L, 1.0 -> 4L),
      s"nearest-rank table: $table")

    // float-ceil regression: 0.07 × 100 = 7.000000000000001 in doubles —
    // an unguarded ceil would return the rank-8 bucket for rank 7
    val hundred = Sketches.histDeltaState(
        (1L to 100L).map(("x", _)).toDF("k", "v"), Seq("k"), col("v"))
      .withColumn("run_id", lit(0L))
    val p7 = Sketches.histStateQuantiles(hundred, Seq("k"), Seq(0.07))
      .select("value").as[Long].collect().head
    assert(p7 == 7L, s"ceil(0.07*100) overshoot must not shift the rank: got $p7")

    // the guard must be SCALE-relative: 0.07 × 10^10 =
    // 700000000.0000001 in doubles, so a fixed 1e-9 epsilon stops
    // forgiving the overshoot (ceil -> 700,000,001 — verified failing
    // on the fixed guard before this constant shipped). State rows are
    // bucket-sized, so a 10-BILLION-row histogram is just 100 rows:
    // buckets 1..100 with 1e8 counts each — p7's rank is exactly
    // 7×10^8, the LAST row of bucket 7, not the first of bucket 8
    val big = (1L to 100L).map(b => ("x", b, 100000000L, 0L))
      .toDF("k", "bucket", "cnt", "run_id")
    val p07 = Sketches.histStateQuantiles(big, Seq("k"), Seq(0.07))
      .select("value").as[Long].collect().head
    assert(p07 == 7L, s"relative epsilon: ceil(0.07*1e10) overshoot shifted the rank: $p07")
    // ...while staying under real fractional parts at scale: p99.9
    // over ~10^9 rows has q*N frac = .001 — an oversized relative
    // guard (1e-12 was measured failing here) would swallow it and
    // land one rank LOW, on the previous bucket
    val uneven = Seq(("x", 1L, 999987011L, 0L), ("x", 2L, 1000988L, 0L))
      .toDF("k", "bucket", "cnt", "run_id")
    val p999 = Sketches.histStateQuantiles(uneven, Seq("k"), Seq(0.999))
      .select("value").as[Long].collect().head
    assert(p999 == 2L, s"guard must not swallow the genuine .001 fractional part: $p999")

    // null metric rows contribute to no quantile
    val withNulls = Sketches.histDeltaState(
      Seq(("x", Some(5L)), ("x", None), ("x", Some(5L))).toDF("k", "v"),
      Seq("k"), col("v"))
    assert(withNulls.agg(sum(col("cnt"))).collect().head.getLong(0) == 2L)

    // two runs merge by SUM; a duplicated run row dedupes by max first
    val r0 = Sketches.histDeltaState(Seq(("x", 1L), ("x", 1L)).toDF("k", "v"),
      Seq("k"), col("v")).withColumn("run_id", lit(0L))
    val r1 = Sketches.histDeltaState(Seq(("x", 2L)).toDF("k", "v"),
      Seq("k"), col("v")).withColumn("run_id", lit(1L))
    val redelivered = r0.unionByName(r1).unionByName(r0) // run 0 retried
    val med = Sketches.histStateQuantiles(redelivered, Seq("k"), Seq(0.5, 1.0))
      .select("q", "value").as[(Double, Long)].collect().toMap
    // multiset {1,1,2}: median rank ceil(1.5)=2 -> 1; max -> 2. A
    // double-counted run 0 would make N=5, rank 3 -> still 1 for the
    // median but max count wrong — assert the total too
    assert(med == Map(0.5 -> 1L, 1.0 -> 2L), s"$med")
    val n = redelivered.groupBy("run_id", "k", "bucket").agg(max("cnt").as("c"))
      .agg(sum("c")).collect().head.getLong(0)
    assert(n == 3L, s"redelivery dedupe must keep the multiset at 3, got $n")
  }

  test("KLL state: float quantiles within the rank bound, exact n, redelivery dedupe, compaction keeps the bound") {
    import spark.implicits._
    // 10k skewed doubles over two keys: key a ~ U(0,1)^2 (dense near
    // 0), key b ~ U(0,1) — deterministic via hashing, NOT an integer
    // metric (the histogram family's contract), which is the point
    val vals = spark.range(10000).select(
      when(col("id") % 2 === 0, lit("a")).otherwise(lit("b")).as("k"),
      (pmod(xxhash64(col("id")), lit(1000000L)).cast("double") / 1e6).as("u"))
      .withColumn("v", when(col("k") === "a", col("u") * col("u")).otherwise(col("u")))
      .localCheckpoint(true)
    // two parity-split delta runs + a verbatim redelivery of run 0
    val d0 = Sketches.kllDeltaState(vals.filter(col("u") < 0.5), Seq("k"), col("v"))
      .withColumn("run_id", lit(0L))
    val d1 = Sketches.kllDeltaState(vals.filter(col("u") >= 0.5), Seq("k"), col("v"))
      .withColumn("run_id", lit(1L))
    val states = d0.unionByName(d1).unionByName(d0).localCheckpoint(true)
    val got = Sketches.kllStateQuantiles(states, Seq("k"), Seq(0.5, 0.95))
      .select(col("k"), col("q"), col("value"), col("n"))
      .as[(String, Double, Double, Long)].collect()
      .map { case (k, q, v, n) => (k, q) -> (v, n) }.toMap
    // n is exact and deterministic: redelivered run 0 must not inflate it
    val nByKey = vals.groupBy("k").count().as[(String, Long)].collect().toMap
    for (k <- Seq("a", "b"); q <- Seq(0.5, 0.95))
      assert(got((k, q))._2 == nByKey(k), s"n must be exact for $k: $got")
    // value estimates sit within a generous rank window (±0.05 ≈ 4× the
    // k=200 99%-confidence bound) of the EXACT quantiles — the
    // error-bounded read contract (never estimate equality)
    def exactQ(k: String, q: Double): Double = {
      val xs = vals.filter(col("k") === k).select(col("v"))
        .as[Double].collect().sorted
      xs(math.min(xs.length - 1, math.max(0, math.ceil(q * xs.length).toInt - 1)))
    }
    for (k <- Seq("a", "b"); q <- Seq(0.5, 0.95)) {
      val (lo, hi) = (exactQ(k, math.max(0.001, q - 0.05)),
        exactQ(k, math.min(1.0, q + 0.05)))
      val v = got((k, q))._1
      assert(v >= lo && v <= hi, s"($k, $q): $v outside [$lo, $hi]")
    }
    // the skew shows up where it should: key a's median is far below b's
    assert(got(("a", 0.5))._1 < got(("b", 0.5))._1 - 0.1,
      s"squared-uniform median must sit well below uniform's: $got")
    // compaction folds to one row per key and keeps every bound above
    val dir = java.nio.file.Files.createTempDirectory("kll_state").toString
    states.write.mode("overwrite").parquet(dir)
    val (before, after) = Sketches.compactKllState(spark, dir, Seq("k"))
    assert(before == 6L && after == 2L, s"fold: $before -> $after")
    val compacted = Sketches.kllStateQuantiles(ParquetRead(spark, dir), Seq("k"),
        Seq(0.5, 0.95))
      .select(col("k"), col("q"), col("value"), col("n"))
      .as[(String, Double, Double, Long)].collect()
      .map { case (k, q, v, n) => (k, q) -> (v, n) }.toMap
    for (k <- Seq("a", "b"); q <- Seq(0.5, 0.95)) {
      assert(compacted((k, q))._2 == nByKey(k), "n must survive compaction")
      val (lo, hi) = (exactQ(k, math.max(0.001, q - 0.05)),
        exactQ(k, math.min(1.0, q + 0.05)))
      val v = compacted((k, q))._1
      assert(v >= lo && v <= hi, s"post-compact ($k, $q): $v outside [$lo, $hi]")
    }
  }

  test("kmv compaction under a foreign writer's lease is refused before it touches the sidecar or a parked swap") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.hadoop.fs.Path
    val stDir = s"${java.nio.file.Files.createTempDirectory("kmvlease")}/state"
    Sketches.kmvSketch((1 to 500).map("v" + _).toDF("x"), col("x"), 128)
      .withColumn("run_id", lit(0L)).write.parquet(stDir)
    Sketches.compactKmvState(spark, stDir, 64)
    assert(Sketches.readKmvCompactK(spark, stDir).contains(64))
    val fs = new Path(stDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parked = new Path(stDir + "__compact_old")
    // another writer holds the lease, mid-swap: its old dir is parked
    val held = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val writer = new Thread(() => Lease.withLease(spark, stDir) {
      require(fs.rename(new Path(stDir), parked))
      held.countDown()
      done.await(60, TimeUnit.SECONDS)
      require(fs.rename(parked, new Path(stDir)))
    })
    writer.start()
    try {
      assert(held.await(30, TimeUnit.SECONDS))
      intercept[Lease.LeaseHeldException] { Sketches.compactKmvState(spark, stDir, 32) }
      assert(Sketches.readKmvCompactK(spark, stDir).contains(64),
        "a refused compaction must leave the recorded bound unchanged")
      assert(fs.exists(parked) && !fs.exists(new Path(stDir)),
        "a refused compaction must not restore the live writer's parked dir")
    } finally { done.countDown(); writer.join(30000) }
    assert(spark.read.parquet(stDir).count() == 64L)
    Sketches.compactKmvState(spark, stDir, 32) // and compacts once free
    assert(Sketches.readKmvCompactK(spark, stDir).contains(32))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.{Relational, Skew}
import graft.multimodal.AvOps

class PlansAndSkewSpec extends SparkSpec {
  import spark.implicits._

  test("rolling hash: equal grams hash equal, count = n-k+1, matches reference polynomial") {
    val r = Seq("abcabc").toDF("t")
      .select(call_function("graft_rollhash", col("t"), lit(3)).as("h"))
      .as[Seq[Long]].head()
    assert(r.length == 4)
    assert(r(0) == r(3)) // "abc" == "abc"
    assert(r(0) != r(1) && r(1) != r(2))
    // reference polynomial: h("abc") = ((a*B)+b)*B+c with B=1000003
    val B = 1000003L
    val expected = (('a'.toLong * B) + 'b'.toLong) * B + 'c'.toLong
    assert(r(0) == expected)
    // shorter than k → empty
    val short = Seq("ab").toDF("t")
      .select(call_function("graft_rollhash", col("t"), lit(3)).as("h")).as[Seq[Long]].head()
    assert(short.isEmpty)
  }

  test("rolling hash works under codegen on the fixture corpus") {
    val n = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(call_function("graft_rollhash", col("text"), lit(8)).as("h"))
      .filter(size(col("h")) > 0).count()
    assert(n == 500)
  }

  test("winnow sliding-min matches the HOF transform/slice/array_min form on the corpus") {
    val w = 16
    val rh = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), call_function("graft_rollhash", col("text"), lit(8)).as("rh"))
    val hof = when(size(col("rh")) >= w,
      array_distinct(transform(sequence(lit(0), size(col("rh")) - w),
        i => array_min(slice(col("rh"), i + 1, lit(w))))))
      .otherwise(array_distinct(col("rh")))
    val diffs = rh.select(
      hof.as("a"), call_function("graft_winnow", col("rh"), lit(w)).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(diffs == 0)
  }

  test("winnow degenerate inputs: short, exact-window, empty, duplicate-heavy") {
    def winnow(xs: Seq[Long], w: Int): Seq[Long] =
      Seq(Tuple1(xs)).toDF("rh")
        .select(call_function("graft_winnow", col("rh"), lit(w)).as("f"))
        .as[Seq[Long]].head()
    assert(winnow(Seq(5L, 3L, 9L), 16) == Seq(5L, 3L, 9L)) // n < w → distinct of all
    assert(winnow(Seq(5L, 3L, 9L, 3L), 16) == Seq(5L, 3L, 9L)) // ...deduped, first occurrence
    assert(winnow(Seq(4L, 2L, 7L), 3) == Seq(2L)) // n == w → one window
    assert(winnow(Seq.empty, 4) == Seq.empty)
    assert(winnow(Seq(9L, 8L, 7L, 6L, 5L), 2) == Seq(8L, 7L, 6L, 5L)) // strictly falling
    assert(winnow(Seq(1L, 1L, 1L, 1L), 2) == Seq(1L))
  }

  test("winnow matches an independent Scala model on 200 random seeded arrays") {
    val rnd = new scala.util.Random(42)
    val cases = (0 until 200).map { i =>
      val n = rnd.nextInt(40)
      val w = 1 + rnd.nextInt(8)
      // small value range forces duplicate mins and dedup collisions
      (i.toLong, Seq.fill(n)(rnd.nextInt(6).toLong), w)
    }
    def model(xs: Seq[Long], w: Int): Seq[Long] =
      (if (xs.length >= w) xs.sliding(w).map(_.min).toSeq else xs).distinct
    val got = cases.groupBy(_._3).toSeq.flatMap { case (w, group) =>
      group.map(c => (c._1, c._2)).toDF("id", "rh")
        .select(col("id"), call_function("graft_winnow", col("rh"), lit(w)).as("f"))
        .as[(Long, Seq[Long])].collect().toSeq
    }.toMap
    val expected = cases.map(c => c._1 -> model(c._2, c._3)).toMap
    assert(got.size == cases.size)
    got.foreach { case (id, f) => assert(f == expected(id), s"case $id") }
  }

  test("salted equi-join equals plain join on skewed data") {
    val large = (1 to 2000).map(i => (if (i % 10 == 0) "hot" else s"k$i", i.toLong)).toDF("k", "id")
    val small = Seq(("hot", "H"), ("k5", "A"), ("k17", "B")).toDF("k", "v")
    val plain = large.join(small, "k").select("id", "v").as[(Long, String)].collect().toSet
    val salted = Skew.saltedEquiJoin(large, small, Seq("k"), "id")
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(salted == plain && plain.size == 202)
  }

  test("as-of join under one hot key: correct, and degrades to a sort not a row explosion") {
    // the union+window form's graceful-degradation claim
    // (Relational.asofJoin scaladoc): a hot key concentrates |L|+|R| rows
    // in ONE sort partition — linear in input — where a range join would
    // explode toward |L|×|R| candidate pairs. One user owns 90% of both
    // sides; a nested-loop/range plan at this size would carry ~16M
    // pairs, the window plan exactly 8k rows.
    val n = 4000
    val left = (1 to n).map(i =>
      (if (i % 10 != 0) 7L else i.toLong, i.toLong * 10, i.toLong)).toDF("user_id", "ts", "lid")
    val right = (1 to n).map(i =>
      (if (i % 10 != 0) 7L else i.toLong, i.toLong * 10 - 5, i.toLong)).toDF("user_id", "q_ts", "rid")
    val joined = Relational.asofJoin(left, right, Seq("user_id"), "ts", "q_ts")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"hot key must not trigger a pair-explosion plan:\n$plan")
    assert(plan.contains("Window"), s"expected the single keyed window pass:\n$plan")
    val rows = joined.count()
    assert(rows == n, s"left-outer as-of preserves |L| under skew: $rows")
    // spot-check the hot key's matches: each left ts=10i pairs with q_ts=10i-5
    val hot = joined.filter(col("user_id") === 7L)
      .select(col("ts"), col("q_ts")).as[(Long, Long)].collect()
    assert(hot.nonEmpty && hot.forall { case (ts, qts) => qts == ts - 5 })
  }

  test("skew profile surfaces hottest key") {
    val df = (1 to 100).map(i => (if (i <= 60) "hot" else s"k$i", i)).toDF("k", "v")
    val top = df.groupBy(col("k")).agg(count(lit(1)).as("n")).orderBy(col("n").desc)
      .as[(String, Long)].head()
    assert(top == (("hot", 60L)))
  }

  private def sineWav(freq: Double, seconds: Double, sr: Int = 8000, amp: Double = 0.5): Array[Byte] = {
    val n = (seconds * sr).toInt
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = (amp * math.sin(2 * math.Pi * freq * i / sr) * 32767).toInt.toShort
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("WAV audio kernel: known sine yields analytic rms/zcr/band energy; bad bytes -> null") {
    // 440 Hz sine, amplitude 0.5, 0.5 s at 8 kHz mono
    val df = Seq(
      (1L, sineWav(440.0, 0.5)),
      (2L, Array[Byte](1, 2, 3)), // not a WAV → null, not a task failure
      (3L, null)).toDF("id", "content")
    val rows = df.select(col("id"), AvOps.audioFeatures(col("content")).as("f"))
      .orderBy("id").collect()
    val f = rows(0).getStruct(1)
    assert(f.getDouble(f.fieldIndex("sample_rate")) == 8000.0)
    assert(f.getInt(f.fieldIndex("channels")) == 1)
    assert(f.getLong(f.fieldIndex("n_samples")) == 4000L)
    assert(math.abs(f.getDouble(f.fieldIndex("duration_sec")) - 0.5) < 1e-9)
    // sine: rms = amp/√2, peak ≈ amp, zcr = 2·f/sr
    assert(math.abs(f.getDouble(f.fieldIndex("rms")) - 0.5 / math.sqrt(2)) < 0.01)
    assert(math.abs(f.getDouble(f.fieldIndex("peak")) - 0.5) < 0.01)
    assert(math.abs(f.getDouble(f.fieldIndex("zero_cross_rate")) - 2 * 440.0 / 8000) < 0.005)
    // 8 bands over [0, 4000): 440 Hz lives in band 0 and dominates
    val bands = f.getSeq[Double](f.fieldIndex("band_energy"))
    assert(bands.length == 8)
    assert(bands(0) > 0.9 * bands.sum)
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(1))
  }

  test("WAV audio kernel downmixes stereo and survives sample-width conversion") {
    // stereo 16-bit: same 200 Hz sine on both channels
    val sr = 8000; val n = 800
    val pcm = new Array[Byte](n * 4)
    for (i <- 0 until n) {
      val v = (0.25 * math.sin(2 * math.Pi * 200.0 * i / sr) * 32767).toInt.toShort
      for (c <- 0 to 1) {
        pcm(4 * i + 2 * c) = (v & 0xff).toByte
        pcm(4 * i + 2 * c + 1) = ((v >> 8) & 0xff).toByte
      }
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 2, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val row = Seq((1L, out.toByteArray)).toDF("id", "content")
      .select(AvOps.audioFeatures(col("content")).as("f")).head().getStruct(0)
    assert(row.getInt(row.fieldIndex("channels")) == 2)
    assert(row.getLong(row.fieldIndex("n_samples")) == n.toLong)
    assert(math.abs(row.getDouble(row.fieldIndex("rms")) - 0.25 / math.sqrt(2)) < 0.01)
  }

  // MJPEG-in-AVI fixture builders shared with the e2e multimodal spec
  import AvFixtures.{jpegFrame, mjpegAvi}

  test("AVI keyframe kernel: demuxes MJPEG frames, honors idx1 flags, frames decode as JPEG") {
    // 3 frames: red (key), green (delta per idx1), blue (key)
    val avi = mjpegAvi(
      Seq(jpegFrame(0xff0000), jpegFrame(0x00ff00), jpegFrame(0x0000ff)),
      Seq(true, false, true))
    val ds = Seq(
      AvOps.AvRecord(7L, "video", avi),
      AvOps.AvRecord(8L, "video", Array[Byte](1, 2, 3)), // not an AVI → zero rows
      AvOps.AvRecord(9L, "video", null)).toDS()
    val frames = AvOps.videoKeyFrames(ds).collect().sortBy(_.frame_idx)
    // delta frame 1 skipped; stream positions preserved
    assert(frames.map(f => (f.id, f.frame_idx)).toSeq == Seq((7L, 0), (7L, 2)))
    // each emitted frame is a standalone JPEG with the planted dominant color
    val colors = frames.map { f =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f.frame_bytes))
      assert(img.getWidth == 32 && img.getHeight == 24)
      val c = new java.awt.Color(img.getRGB(16, 12))
      (c.getRed, c.getGreen, c.getBlue)
    }
    assert(colors(0)._1 > 200 && colors(0)._2 < 80 && colors(0)._3 < 80, s"not red: ${colors(0)}")
    assert(colors(1)._3 > 200 && colors(1)._1 < 80 && colors(1)._2 < 80, s"not blue: ${colors(1)}")
  }

  test("AVI keyframe kernel: everyN strides over keyframes; missing idx1 means all-key") {
    val avi = mjpegAvi(
      (0 until 6).map(i => jpegFrame(0x101010 * i)), Seq.empty) // no idx1 flags → all key
    val ds = Seq(AvOps.AvRecord(1L, "video", avi)).toDS()
    assert(AvOps.videoKeyFrames(ds).collect().map(_.frame_idx).sorted.toSeq == (0 until 6))
    assert(AvOps.videoKeyFrames(ds, everyN = 3).collect().map(_.frame_idx).sorted.toSeq == Seq(0, 3))
  }

  test("frame sampling fans one row into frame rows without collecting") {
    val payload = Array.tabulate[Byte](4096 * 6)(i => (i % 127).toByte)
    val ds = Seq(AvOps.AvRecord(7L, "video", payload)).toDS()
    val frames = AvOps.sampleFrames(ds, everyN = 2).collect()
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(frames.forall(_.frame_bytes.length == 4096))
    assert(frames.forall(_.id == 7L))
    // everyN <= 0 clamps to 1 (matching videoKeyFrames) rather than
    // throwing 'step cannot be 0' inside the task or emitting nothing
    assert(AvOps.sampleFrames(ds, everyN = 0).count() == 6)
    assert(AvOps.sampleFrames(ds, everyN = -3).count() == 6)
  }

  test("malformed AVI payloads degrade to rows, never task failures") {
    def u32le(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // truncated right after a LIST size field: the list-type fourcc read
    // would fall past the end of the payload
    val truncated = "RIFF".getBytes ++ u32le(12) ++ "AVI ".getBytes ++
      "LIST".getBytes ++ u32le(4)
    // thousands of nested LIST headers: each declares the remainder as
    // its body — unbounded recursion without the depth cap
    val deep = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("RIFF".getBytes); bos.write(u32le(12 * 4001 + 4)); bos.write("AVI ".getBytes)
      (0 until 4000).foreach { i =>
        bos.write("LIST".getBytes); bos.write(u32le(12L * (4000 - i) + 4)); bos.write("movi".getBytes)
      }
      bos.toByteArray
    }
    val ds = Seq(
      AvOps.AvRecord(1L, "video", truncated),
      AvOps.AvRecord(2L, "video", deep)).toDS()
    // must not throw — zero frames is the correct degradation
    assert(AvOps.videoKeyFrames(ds).count() == 0)
  }

  test("binary meta columns") {
    val df = Seq((1L, "abc".getBytes), (2L, Array.empty[Byte])).toDF("id", "content")
    val m = df.withColumn("n_bytes", length(col("content")).cast("bigint"))
      .withColumn("content_sha", sha2(col("content"), 256))
      .withColumn("is_empty", coalesce(length(col("content")) === 0, lit(true)))
      .orderBy("id").collect()
    assert(m(0).getAs[Long]("n_bytes") == 3L)
    assert(m(0).getAs[String]("content_sha").length == 64)
    assert(m(1).getAs[Boolean]("is_empty"))
  }

  test("q50 plan: both windows share ONE partition exchange; scan pruned to 2 columns") {
    val df = Queries.all.find(_.name == "q50_quantile_disc").get
      .run(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    // row_number and count(*) partition identically (l_returnflag), so the
    // sort-based window pair must reuse a single hash exchange — a second
    // hashpartitioning(l_returnflag) exchange means the plan regressed
    val exchanges = "hashpartitioning\\(l_returnflag".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 group exchange, got $exchanges:\n$plan")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("l_returnflag") && read.contains("l_extendedprice")
      && !read.contains("l_quantity"), read)
  }

  test("q54 plan: decontamination joins via broadcast (corpus side not shuffled to join)") {
    val df = Queries.all.find(_.name == "q54_decontaminate").get
      .run(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not sort-merge to meet the benchmark:\n$plan")
  }

  test("q52 plan: document scan pruned to doc_id + text") {
    val df = Queries.all.find(_.name == "q52_repetition_ratio").get
      .run(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    val read = "ReadSchema: [^\\n]*".r
      .findFirstIn(df.queryExecution.executedPlan.toString).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("lang"), read)
  }

  test("q55 plan: split assignment reads ONLY doc_id (text never scanned)") {
    val df = Queries.all.find(_.name == "q55_deterministic_split").get
      .run(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    val read = "ReadSchema: [^\\n]*".r
      .findFirstIn(df.queryExecution.executedPlan.toString).getOrElse("")
    // the split is a pure function of doc_id — a scan that also reads the
    // text column would drag the whole corpus through the hash projection
    assert(read.contains("doc_id") && !read.contains("text"), read)
  }

  test("q57 plan: redaction is scan -> project -> sort, no hash exchange") {
    val df = Queries.all.find(_.name == "q57_pii_redact").get
      .run(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    // redaction must stay embarrassingly parallel: the only exchange is the
    // final presentation orderBy (range), never a hash shuffle
    assert(!plan.contains("hashpartitioning"), s"unexpected hash exchange:\n$plan")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("source") && read.contains("text") && !read.contains("lang"), read)
  }

  test("q59 plan: classifier scoring is scan -> project -> sort, no hash exchange") {
    val df = Queries.all.find(_.name == "q59_quality_classifier").get
      .run(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    // per-document scoring is embarrassingly parallel: the only exchange
    // is the final presentation orderBy (range), never a hash shuffle
    assert(!plan.contains("hashpartitioning"), s"unexpected hash exchange:\n$plan")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("lang"), read)
  }

  test("q60 plan: domain cap runs through TopKPartial below the exchange") {
    val df = Queries.all.find(_.name == "q60_domain_cap").get
      .run(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    // the partial heap must sit below the exchange so each partition sends
    // at most k rows per domain; the window form would shuffle every row
    assert(plan.contains("TopKPartial"), s"expected native TopK operator:\n$plan")
    assert(!plan.contains("Window"), s"cap must not fall back to the window form:\n$plan")
  }

  test("q69/q70 plans: extraction and chunking are shuffle-free (presentation sort only)") {
    for (name <- Seq("q69_markup_strip", "q70_chunk_overlap")) {
      val df = Queries.all.find(_.name == name).get.run(spark, "/root/testdata/sf0.001")
      df.write.mode("overwrite").format("noop").save()
      val plan = df.queryExecution.executedPlan.toString
      // both are per-document projections (q70 adds a generator): at crawl
      // scale they must stay embarrassingly parallel — the only exchange
      // is the final presentation orderBy (range), never a hash shuffle
      assert(!plan.contains("hashpartitioning"), s"$name: unexpected hash exchange:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
  }

  test("q72 plan: both slices' counts from ONE token exchange with map-side partials") {
    val df = Queries.all.find(_.name == "q72_vocab_drift").get
      .run(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    // conditional aggregation: one hash exchange on tok serves BOTH slice
    // counts (an explode-per-slice or self-join form would double it), and
    // the partial aggregate must sit below the exchange (map-side combine
    // collapses the exploded token stream before any network move)
    val exchanges = "hashpartitioning\\(tok".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 token exchange, got $exchanges:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      s"expected map-side partial aggregation:\n$plan")
  }

  test("q73 plan: df joins back as broadcast — the doc-term frame never reshuffles on tok") {
    val df = Queries.all.find(_.name == "q73_term_stats").get
      .run(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    // df is vocab-cardinality (tiny after aggregation); a sort-merge join
    // here would reshuffle every (doc, term) row on tok for nothing
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"doc-term frame must not reshuffle:\n$plan")
    // KNOWN SHAPE (deliberate, same class as q63's documented tradeoff):
    // tf feeds both join inputs and AQE does NOT reuse its shuffle (the
    // canonical subplans diverge), so the stateless query scans + explodes
    // the corpus twice. The production form removes it for free: WRITE the
    // tf table (it is the operator's real output), derive df from the
    // written table — zero double-scan. Pinned so a regression to a THIRD
    // scan, or to a sort-merge reshuffle, is caught.
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 2, s"expected exactly 2 corpus scans (documented tradeoff), got $scans:\n$plan")
  }

  test("q93 plan: stages 0-2 share one aggregation; stage 3 rides the snapshot, not rescans") {
    val df = Queries.all.find(_.name == "q93_curate_funnel").get
      .run(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    // stage counts 0-2 come from ONE aggregation over the planted UNION
    // (two parquet scan branches: documents + the whitespace-variant
    // copies) — a per-stage count form would scan per stage. Stage 3's
    // whole near-dup subtree (exact dedup, banding self-join, verify
    // joins, anti-join) must read the eager gate-survivor SNAPSHOT
    // (checkpointed RDD), contributing ZERO additional parquet scans.
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 2, s"expected exactly 2 corpus scan branches (the union), got $scans:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).nonEmpty)
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"),
      s"stage 3 must be snapshot-backed:\n$plan")
  }

  test("q56/q58 plans: corpus scans pruned; no cartesian anywhere") {
    for (name <- Seq("q56_boilerplate_prune", "q58_pack_sequences")) {
      val df = Queries.all.find(_.name == name).get.run(spark, "/root/testdata/sf0.001")
      df.write.mode("overwrite").format("noop").save()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
      assert(read.contains("doc_id") && !read.contains("lang") && !read.contains("source"),
        s"$name: $read")
    }
  }

  test("q46 plans Expand-free: exact distincts re-aggregate, sketches ride a plain agg") {
    // the round-12 rework's contract: no Expand row-multiplication
    // anywhere in the query (the built-in multi-distinct plan it
    // replaced expanded every lineitem row 3×; measured 2.8× slower)
    val df = Queries.all.find(_.name == "q46_approx_distinct").get
      .run(spark, "/root/testdata/sf0.001")
    df.collect() // force execution so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"q46 must stay Expand-free:\n$plan")
  }

  test("saltedEquiJoin rejects a join key as the salt source") {
    val l = Seq((1L, "a")).toDF("k", "v")
    val r = Seq((1L, "b")).toDF("k", "w")
    intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedEquiJoin(l, r, Seq("k"), "k")
    }
  }
}

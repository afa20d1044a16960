package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.sources.ParquetRead
import graft.streaming.StreamOps

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  /** Sessions emit on watermark SEAL, which lands in the no-data batch
    * after the watermark advance — that batch can commit just after
    * `processAllAvailable` returns, so assertions poll (bounded).
    */
  private def pollSessions(q: org.apache.spark.sql.streaming.StreamingQuery, table: String)(
      ready: Array[StreamOps.SessionOut] => Boolean): Array[StreamOps.SessionOut] = {
    def read() = spark.table(table).as[StreamOps.SessionOut].collect()
    val deadline = System.currentTimeMillis() + 30000
    var got = read()
    while (!ready(got) && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); q.processAllAvailable(); got = read()
    }
    got
  }

  test("windowed counts with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    // late rows beyond the watermark are dropped and window state is
    // garbage-collected: bounded state at any scale
    val agg = df.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("sum_value"))
    val q = agg.writeStream.format("memory").queryName("wc").outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(0), "a", 1.0), (ts(5), "a", 2.0), (ts(12), "b", 3.0))
      // advance watermark far enough to close the first windows
      input.addData((ts(120), "a", 9.0))
      q.processAllAvailable()
      val rows = spark.table("wc").select("event_type", "n", "sum_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows.contains(("a", 2L, 3.0))) // window [0,10): two 'a' rows
      assert(rows.contains(("b", 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming dedup within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "k")
    val q = df.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("k")
      .writeStream.format("memory").queryName("dd").outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(0), "x"), (ts(1), "x"), (ts(2), "y"))
      q.processAllAvailable()
      val ks = spark.table("dd").select("k").as[String].collect().toSeq.sorted
      assert(ks == Seq("x", "y"))
    } finally q.stop()
  }

  test("streaming decontamination drops benchmark-overlapping docs at ingest") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = StreamOps.decontaminateStream(df, "doc_id", "text", bench, "text")
      .writeStream.format("memory").queryName("dc").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "prefix the quick brown fox jumps over the lazy dog suffix"), // leaked
        (2L, "completely unrelated clean content with plenty of words"))
      input.addData( // second micro-batch: stateless guard decides identically
        (3L, "more the quick brown fox jumps over the lazy dog again"),
        (4L, "another clean document streaming through the pipeline"))
      q.processAllAvailable()
      val ids = spark.table("dc").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(2L, 4L), "contaminated docs dropped in every batch")
    } finally q.stop()
  }

  test("streaming decontamination: Bloom path decides like the exact path") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    // exactMaxGrams = 0 forces the Bloom representation regardless of size
    val q = StreamOps.decontaminateStream(df, "doc_id", "text", bench, "text",
        exactMaxGrams = 0L)
      .writeStream.format("memory").queryName("dcb").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "prefix the quick brown fox jumps over the lazy dog suffix"), // leaked
        (2L, "completely unrelated clean content with plenty of words"))
      q.processAllAvailable()
      val ids = spark.table("dcb").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(2L), "bloom-backed guard drops the leaked doc, keeps the clean one")
    } finally q.stop()
  }

  test("decontamination filter is native: no ScalaUDF in either representation's plan") {
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    // range-backed (not a LocalRelation, which the optimizer would fold
    // the filter into); batch frames run the same code path as the stream
    val docs = spark.range(3).select(col("id").as("doc_id"),
      concat(lit("some document text number "), col("id")).as("text"))
    for (maxExact <- Seq(Long.MaxValue, 0L)) {
      val plan = StreamOps.decontaminateStream(docs, "doc_id", "text", bench, "text",
          exactMaxGrams = maxExact)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("ScalaUDF"),
        s"decontamination filter must stay codegen-native (exactMaxGrams=$maxExact):\n$plan")
      assert(plan.contains("graft_any_hash_in"),
        s"expected the native membership probe in the plan:\n$plan")
    }
  }

  test("stream-stream interval join enriches events with in-window updates only") {
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[(Long, Timestamp, Double)]
    val updates = MemoryStream[(Long, Timestamp, String)]
    // both sides carry watermarks and the condition bounds event time on
    // both inputs, which is what lets Spark garbage-collect join state
    val joined = events.toDF().toDF("user_id", "ev_ts", "value")
      .withWatermark("ev_ts", "1 hour")
      .join(updates.toDF().toDF("up_user", "up_ts", "tag").withWatermark("up_ts", "1 hour"),
        expr("user_id = up_user AND up_ts >= ev_ts - INTERVAL 10 minutes AND up_ts <= ev_ts"))
    val q = joined.select("user_id", "value", "tag")
      .writeStream.format("memory").queryName("enr").outputMode(OutputMode.Append()).start()
    try {
      updates.addData((1L, ts(0), "A"))
      // in-window event (5 min after the update), out-of-window event
      // (25 min after), and a key with no update at all
      events.addData((1L, ts(5), 10.0), (1L, ts(25), 20.0), (2L, ts(5), 30.0))
      q.processAllAvailable()
      val rows = spark.table("enr").as[(Long, Double, String)].collect().toSet
      assert(rows == Set((1L, 10.0, "A"))) // inner join: only the in-window pair
    } finally q.stop()
  }

  test("stateful sessionization emits closed sessions across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.SessionInput]
    val out = StreamOps.sessionizeStream(input.toDS(), gapUs = 30L * 60 * 1000000)
    val q = out.writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append()).start()
    try {
      input.addData(StreamOps.SessionInput(1L, ts(0), 1), StreamOps.SessionInput(1L, ts(5), 2))
      q.processAllAvailable()
      // second batch: 90min later → watermark (zero lateness) passes
      // session 1's end + gap, sealing it (2 events)
      input.addData(StreamOps.SessionInput(1L, ts(95), 3))
      q.processAllAvailable()
      val sessions = pollSessions(q, "sess")(_.nonEmpty)
      assert(sessions.length == 1)
      assert(sessions.head.n == 2)
    } finally q.stop()
  }

  test("out-of-order event within the watermark cannot regress session bounds") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.SessionInput]
    // 20-minute lateness so the out-of-order event passes the watermark
    val out = StreamOps.sessionizeStream(input.toDS(), gapUs = 30L * 60 * 1000000,
      lateness = "20 minutes")
    val q = out.writeStream.format("memory").queryName("sessOoo")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(StreamOps.SessionInput(1L, ts(10), 1), StreamOps.SessionInput(1L, ts(20), 2))
      q.processAllAvailable()
      // late but in-watermark event BEFORE the open session's last event:
      // lastUs must not move backward (nor start forward)
      input.addData(StreamOps.SessionInput(1L, ts(5), 3))
      q.processAllAvailable()
      // 90 min later: the advanced watermark seals it
      input.addData(StreamOps.SessionInput(1L, ts(115), 4))
      q.processAllAvailable()
      val sessions = pollSessions(q, "sessOoo")(_.nonEmpty)
      assert(sessions.length == 1)
      val st = sessions.head
      assert(st.n == 3)
      assert(st.session_start_us == ts(5).getTime * 1000L,
        s"start must absorb the late earlier event: ${st.session_start_us}")
      assert(st.session_end_us == ts(20).getTime * 1000L,
        s"end must not regress to the late event: ${st.session_end_us}")
    } finally q.stop()
  }

  test("late events before the open session form their own UNFRAGMENTED earlier session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.SessionInput]
    // lateness (3h) far exceeds the gap (30min): late events can be
    // in-watermark yet more than a gap before the open session's start.
    // Batch semantics demand (a) their OWN earlier session, not
    // absorption into the later one, and (b) NO fragmentation — a
    // second straggler within the gap of the first must merge with it,
    // which requires holding the early session in state until the
    // watermark seals it (emitting it on sight would split [10,20]
    // into [10,10] + [20,20] with wrong counts)
    val out = StreamOps.sessionizeStream(input.toDS(), gapUs = 30L * 60 * 1000000,
      lateness = "3 hours")
    val q = out.writeStream.format("memory").queryName("sessEarly")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(StreamOps.SessionInput(1L, ts(100), 1), StreamOps.SessionInput(1L, ts(110), 2))
      q.processAllAvailable()
      // 90 min before the open session's start (gap is 30): separate session
      input.addData(StreamOps.SessionInput(1L, ts(10), 3))
      q.processAllAvailable()
      // a LATER batch brings a straggler within the gap of the early
      // session — it must merge into [10,20], not fragment
      input.addData(StreamOps.SessionInput(1L, ts(20), 4))
      q.processAllAvailable()
      // advance the watermark far enough to seal everything: wm =
      // 500 - 180 = 320 min > 110 + 30 and > 250 + 30
      input.addData(StreamOps.SessionInput(1L, ts(250), 5))
      q.processAllAvailable()
      input.addData(StreamOps.SessionInput(1L, ts(500), 6))
      q.processAllAvailable()
      val sessions = pollSessions(q, "sessEarly")(_.length >= 3).sortBy(_.session_start_us)
      assert(sessions.length == 3, s"got ${sessions.toSeq}")
      assert(sessions(0).session_start_us == ts(10).getTime * 1000L
        && sessions(0).session_end_us == ts(20).getTime * 1000L
        && sessions(0).n == 2, s"early session fragmented or wrong: ${sessions(0)}")
      assert(sessions(1).session_start_us == ts(100).getTime * 1000L
        && sessions(1).session_end_us == ts(110).getTime * 1000L
        && sessions(1).n == 2, s"main session must not absorb the early events: ${sessions(1)}")
      assert(sessions(2).session_start_us == ts(250).getTime * 1000L
        && sessions(2).n == 1, s"${sessions(2)}")
    } finally q.stop()
  }

  test("differential: sessionizeStream ≡ batch sessionize over 120 random shuffled streams (lateness > gap)") {
    implicit val sqlCtx = spark.sqlContext
    // The property the two round-11 bug fixes were about, generalized:
    // for ANY admissible stream (every event within the lateness
    // window, arbitrary arrival order and batch boundaries), the
    // sealed sessions the stream emits must equal the batch
    // sessionize (q21's operator) of the same events. 120 seeded
    // random streams share ONE streaming query on disjoint user ids:
    // per-key state isolates the seeds, while the single watermark —
    // kept below every event until one far-future flush event — makes
    // all real events admissible and then seals every real session
    // via the EVENT-TIME TIMEOUT path (no per-seed query startup, so
    // 120 seeds cost one query). lateness (180 min) > gap (30 min),
    // so late arrivals routinely open earlier separate sessions and
    // merge stragglers — the exact regime of the over-merge and
    // cross-batch fragmentation bugs.
    val gapUs = 30L * 60 * 1000000L
    val baseMs = 1700000000000L
    val horizonUs = 150L * 60 * 1000000L // all real events in [0, 150 min)
    def mkTs(offsetUs: Long): Timestamp = {
      val us = baseMs * 1000L + offsetUs
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt) // µs precision incl. sub-ms
      t
    }
    val maxRounds = 6
    // per-seed generation: events, then a random shuffle + random
    // assignment to arrival rounds (batch boundaries)
    val perRound = Array.fill(maxRounds)(Seq.newBuilder[StreamOps.SessionInput])
    val realEvents = Seq.newBuilder[StreamOps.SessionInput]
    var eid = 0L
    for (seed <- 0 until 120) {
      val rnd = new scala.util.Random(9000 + seed)
      val users = (0 to rnd.nextInt(2)).map(u => seed.toLong * 10 + u)
      val events = (0 until (5 + rnd.nextInt(36))).map { _ =>
        eid += 1
        StreamOps.SessionInput(
          users(rnd.nextInt(users.size)), mkTs(rnd.nextLong().abs % horizonUs), eid)
      }
      realEvents ++= events
      val nBatches = 1 + rnd.nextInt(maxRounds)
      rnd.shuffle(events).foreach(e => perRound(rnd.nextInt(nBatches)) += e)
    }
    val all = realEvents.result()
    // batch oracle: q21's gaps-and-islands sessionize over the same rows
    val expected = graft.operators.Relational.sessionize(
        all.toDF().withColumn("us", unix_micros(col("ts"))),
        col("user_id"), col("us"), gapUs, col("event_id"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min("us").as("s"), max("us").as("e"), count(lit(1)).as("n"))
      .select(col("user_id"), col("s"), col("e"), col("n"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val input = MemoryStream[StreamOps.SessionInput]
    val out = StreamOps.sessionizeStream(input.toDS(), gapUs, lateness = "180 minutes")
    val q = out.writeStream.format("memory").queryName("sessDiff")
      .outputMode(OutputMode.Append()).start()
    try {
      perRound.foreach { b =>
        val batch = b.result()
        if (batch.nonEmpty) { input.addData(batch); q.processAllAvailable() }
      }
      // one flush event on a reserved key: watermark = 700 − 180 =
      // 520 min > every real end + gap, so every real session seals —
      // by TIMEOUT, since no real key sees another row. The flush
      // key's own session never seals and is excluded below.
      input.addData(StreamOps.SessionInput(-1L, mkTs(700L * 60 * 1000000L), 0L))
      q.processAllAvailable()
      val got = pollSessions(q, "sessDiff")(_.length >= expected.size)
        .filter(_.user_id >= 0)
        .map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n)).toSet
      val missing = expected -- got
      val extra = got -- expected
      assert(missing.isEmpty && extra.isEmpty,
        s"stream/batch divergence — missing (seed=user/10): ${missing.take(5)}; " +
          s"extra: ${extra.take(5)}")
    } finally q.stop()
  }

  test("event-time timeout flushes the last open session once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.SessionInput]
    val out = StreamOps.sessionizeStream(input.toDS(), gapUs = 30L * 60 * 1000000) // 30 min gap
    val q = out.writeStream.format("memory").queryName("sessTo")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(StreamOps.SessionInput(42L, ts(0), 1), StreamOps.SessionInput(42L, ts(0), 2))
      q.processAllAvailable()
      // an unrelated key 2h later advances the watermark past 42's
      // deadline (ts(0)+30min); key 42 gets no more events, so its session
      // can only appear via the hasTimedOut flush, which fires in the
      // no-data microbatch after the watermark moves
      input.addData(StreamOps.SessionInput(7L, ts(120), 3))
      q.processAllAvailable()
      def flushed() = spark.table("sessTo").as[StreamOps.SessionOut]
        .collect().filter(_.user_id == 42L)
      // the watermark-advance no-data batch can commit just after
      // processAllAvailable returns — poll briefly, bounded
      val deadline = System.currentTimeMillis() + 30000
      var got = flushed()
      while (got.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); q.processAllAvailable(); got = flushed()
      }
      assert(got.length == 1)
      assert(got.head.n == 2)
    } finally q.stop()
  }

  test("built-in session_window aggregation matches gap semantics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val q = df.withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n"))
      .writeStream.format("memory").queryName("sw").outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 5min apart (one session), then one 95min later
      // (second session); a far-future event closes everything
      input.addData((ts(0), 1L), (ts(5), 1L), (ts(95), 1L))
      q.processAllAvailable()
      input.addData((ts(600), 9L))
      q.processAllAvailable()
      val rows = spark.table("sw")
        .select("user_id", "session_start_us", "session_end_us", "n")
        .as[(Long, Long, Long, Long)].collect().filter(_._1 == 1L).sortBy(_._2)
      assert(rows.length == 2)
      // session bounds: start = first event, end = last event + gap
      assert(rows(0) == ((1L, ts(0).getTime * 1000L, (ts(5).getTime + 30 * 60000L) * 1000L, 2L)))
      assert(rows(1)._4 == 1L)
    } finally q.stop()
  }

  test("AvailableNow incremental pipeline processes only new files per run") {
    val base = Files.createTempDirectory("stream").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckDir = s"$base/ck"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))

    // Spark's own checkpointed parquet sink: its commit log makes the
    // output exactly-once, no foreachBatch needed
    def start() = spark.readStream.schema(schema).parquet(inDir)
      .withColumn("u", upper(col("v")))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckDir)
      .format("parquet")
      .option("path", outDir)
      .start()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("append").parquet(inDir)
    val q1 = start()
    q1.awaitTermination()
    assert(spark.read.parquet(outDir).count() == 2)

    // second run with one new file → only the delta is appended
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(inDir)
    val q2 = start()
    q2.awaitTermination()
    val out = spark.read.parquet(outDir).select("id", "u").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "A"), (2L, "B"), (3L, "C")))
  }

  test("streaming HLL state: delta-only sketching, redelivery no-op, differential vs batch, compaction") {
    val base = Files.createTempDirectory("hllstream").toString
    val inDir = s"$base/in"; val ckDir = s"$base/ck"; val stDir = s"$base/state"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    val Sk = graft.operators.Sketches
    def run(): Unit = StreamOps.availableNow(spark, inDir, schema, ckDir) { (b, _) =>
      Sk.hllDistinctState(b, Seq("k"), col("v")).write.mode("append").parquet(stDir)
    }.awaitTermination()
    def estimates(): Map[String, Double] =
      Sk.hllEstimate(Sk.hllMergeStates(Seq("k"), ParquetRead(spark, stDir)))
        .select("k", "distinct_est").as[(String, Double)].collect().toMap
    // run 1: two keys, values 0..499 (a) and 0..99 (b, overlapping ids on
    // purpose — distinct is per key)
    val batch1 = (0L until 500L).map(v => ("a", v)) ++ (0L until 100L).map(v => ("b", v))
    batch1.toDF("k", "v").write.mode("append").parquet(inDir)
    run()
    val afterRun1 = spark.read.parquet(stDir).count()
    assert(afterRun1 == 2, s"one delta sketch row per key: $afterRun1")

    // run 2 with NOTHING new: checkpoint yields no batch → state untouched
    run()
    assert(spark.read.parquet(stDir).count() == afterRun1, "no-op rerun must not append")

    // run 3: delta adds 500..749 to a (250 new) and re-sends 0..99 of b
    // (all already seen — a full redelivery-shaped overlap)
    val batch2 = (500L until 750L).map(v => ("a", v)) ++ (0L until 100L).map(v => ("b", v))
    batch2.toDF("k", "v").write.mode("append").parquet(inDir)
    run()
    assert(spark.read.parquet(stDir).count() == 4)

    // error-bound read (the q96 idiom: NEVER estimate equality; rsd at
    // lgK=12 is ~1.6%, bound with slack for merge-order jitter)
    val est = estimates()
    assert(math.abs(est("a") - 750.0) / 750.0 < 0.10, s"a: $est")
    assert(math.abs(est("b") - 100.0) / 100.0 < 0.10, s"b: $est")

    // differential vs BATCH: one-shot state over all data reads inside
    // the same bound; the streamed merge must land within a tight
    // relative gap of it (register-level agreement, modulo the
    // documented HIP jitter)
    val batchEst = Sk.hllEstimate(Sk.hllDistinctState(
        (batch1 ++ batch2).toDF("k", "v"), Seq("k"), col("v")))
      .select("k", "distinct_est").as[(String, Double)].collect().toMap
    for (k <- Seq("a", "b"))
      assert(math.abs(est(k) - batchEst(k)) / batchEst(k) < 0.02,
        s"stream vs batch $k: $est vs $batchEst")

    // redelivery no-op on the ESTIMATE: duplicate an entire delta file
    // append (at-least-once foreachBatch) — register max absorbs it
    val snapshot = estimates()
    spark.read.parquet(stDir).limit(2).write.mode("append").parquet(stDir)
    val redelivered = estimates()
    for (k <- Seq("a", "b"))
      assert(math.abs(redelivered(k) - snapshot(k)) / snapshot(k) < 0.005,
        s"redelivered delta must not move the estimate: $snapshot vs $redelivered")

    // compaction folds to one row per key; estimates stay inside bound
    val (b0, a0) = Sk.compactHllState(spark, stDir, Seq("k"))
    assert(b0 == 6 && a0 == 2, s"compaction: $b0 -> $a0")
    val compacted = estimates()
    for (k <- Seq("a", "b"))
      assert(math.abs(compacted(k) - snapshot(k)) / snapshot(k) < 0.01,
        s"compaction must preserve estimates: $snapshot vs $compacted")
  }

  test("streaming MG state: delta-only sketching, exact read-equality under redelivery and compaction") {
    val base = Files.createTempDirectory("mgstream").toString
    val inDir = s"$base/in"; val ckDir = s"$base/ck"; val stDir = s"$base/state"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val Sk = graft.operators.Sketches
    def run(): Unit = StreamOps.availableNow(spark, inDir, schema, ckDir) { (b, runId) =>
      Sk.frequentItems(b, col("v"), 8).withColumn("run_id", lit(runId))
        .write.mode("append").parquet(stDir)
    }.awaitTermination()
    def summary(): (Map[String, Long], Long) = {
      val rows = Sk.mgStateSummary(ParquetRead(spark, stDir)).collect()
      val delta = rows.head.getLong(2)
      (rows.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r.getLong(1)).toMap, delta)
    }
    // skewed stream, heavy items planted well above the achievable Δ
    // (Δ_r ≤ n_r/(m+1)): run 1 = hot×400 warm×250 + 100 distinct rares
    val batch1 = Seq.fill(400)("hot") ++ Seq.fill(250)("warm") ++
      (1 to 100).map(i => f"rare$i%03d")
    batch1.toDF("v").write.mode("append").parquet(inDir)
    run()
    val afterRun1 = spark.read.parquet(stDir).count()
    assert(afterRun1 <= 9, s"at most m+1 state rows per run: $afterRun1")

    // rerun with NOTHING new: checkpoint yields no batch → state untouched
    run()
    assert(spark.read.parquet(stDir).count() == afterRun1, "no-op rerun must not append")

    // run 2 delta: hot×300 cold×200 + 100 fresh rares
    val batch2 = Seq.fill(300)("hot") ++ Seq.fill(200)("cold") ++
      (101 to 200).map(i => f"rare$i%03d")
    batch2.toDF("v").write.mode("append").parquet(inDir)
    run()

    // the merged MG contract: weight ≤ true ≤ weight + Δ for every
    // summary item, Δ = Σ per-run deltas ≤ Σ n_r/(m+1); the planted
    // heavies clear Δ so they MUST be present
    val (items, delta) = summary()
    assert(delta <= (750 / 9) + (600 / 9), s"delta must sum per-run bounds: $delta")
    val truth = Map("hot" -> 700L, "warm" -> 250L, "cold" -> 200L)
    for ((it, t) <- truth) {
      assert(items.contains(it), s"$it (true $t > delta $delta) must survive: $items")
      assert(items(it) <= t && t <= items(it) + delta,
        s"$it: weight ${items(it)} must bound true $t within +$delta")
    }
    // differential vs one-shot batch sketch: same contract on all data
    val oneShot = Sk.frequentItems((batch1 ++ batch2).toDF("v"), col("v"), 8)
      .collect().filter(!_.isNullAt(0)).map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
    for ((it, (w, d)) <- oneShot if truth.contains(it))
      assert(w <= truth(it) && truth(it) <= w + d, s"one-shot $it out of bound")

    // redelivery: re-append one run's ENTIRE row set (at-least-once
    // foreachBatch retry — same run_id, identical rows). Unlike HLL's
    // jitter bound, the MG read must be EXACTLY unchanged.
    val snapshot = summary()
    val maxRun = spark.read.parquet(stDir).agg(max(col("run_id"))).collect().head.getLong(0)
    spark.read.parquet(stDir).where(col("run_id") === maxRun)
      .write.mode("append").parquet(stDir)
    assert(summary() == snapshot, "redelivered run must not move the summary at all")

    // compaction folds runs to one; reads stay exactly equal
    val (b0, a0) = Sk.compactMgState(spark, stDir)
    assert(b0 > a0, s"compaction must shrink state: $b0 -> $a0")
    assert(summary() == snapshot, "compaction must preserve the summary exactly")
  }

  test("crash and retry through availableNow: the uncommitted batch re-runs under its run id, MG state reads like a clean run") {
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("crashstream").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val Sk = graft.operators.Sketches
    val crash = new java.util.concurrent.atomic.AtomicBoolean(false)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    // MG state writer that appends its delta and THEN dies once: the
    // at-least-once window a real crash between write and commit opens.
    // foreachBatch bodies run on the driver, so the flag and the log
    // are plain driver-side objects
    def run(inDir: String, ckDir: String, stDir: String): Unit =
      StreamOps.availableNow(spark, inDir, schema, ckDir) { (b, runId) =>
        seen.add(runId)
        Sk.frequentItems(b, col("v"), 8).withColumn("run_id", lit(runId))
          .write.mode("append").parquet(stDir)
        if (crash.compareAndSet(true, false))
          throw new IllegalStateException("injected crash after the state append")
      }.awaitTermination()
    def summary(stDir: String): Set[(String, Long, Long)] =
      Sk.mgStateSummary(ParquetRead(spark, stDir)).as[(String, Long, Long)].collect().toSet
    // fewer distinct items than counters: every run's MG sketch is exact
    // and order-insensitive, so only redelivery could move the read
    val batch1 = Seq.fill(40)("hot") ++ Seq.fill(25)("warm") ++ Seq("rare1", "rare2")
    val batch2 = Seq.fill(30)("hot") ++ Seq.fill(20)("cold")
    val (inDir, ckDir, stDir) = (s"$base/in", s"$base/ck", s"$base/state")
    val (cleanIn, cleanCk, cleanSt) = (s"$base/clean_in", s"$base/clean_ck", s"$base/clean_state")

    batch1.toDF("v").write.mode("append").parquet(inDir)
    crash.set(true)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(inDir, ckDir, stDir)
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected crash")),
      s"the first run must fail with the injected crash: $ex")
    val afterCrash = spark.read.parquet(stDir).count()
    assert(afterCrash > 0, "the crashed attempt appended its delta before dying")
    // the rerun re-executes the uncommitted batch under the SAME run id
    run(inDir, ckDir, stDir)
    assert(seen.asScala.toList == List(1L, 1L), s"run ids seen: $seen")
    assert(spark.read.parquet(stDir).count() == 2 * afterCrash,
      "the retry re-appended the whole delta: the state holds it twice")
    batch2.toDF("v").write.mode("append").parquet(inDir)
    run(inDir, ckDir, stDir)
    assert(seen.asScala.toList == List(1L, 1L, 2L), s"run ids seen: $seen")

    // a clean run of the same two batches into a second dir
    batch1.toDF("v").write.mode("append").parquet(cleanIn)
    run(cleanIn, cleanCk, cleanSt)
    batch2.toDF("v").write.mode("append").parquet(cleanIn)
    run(cleanIn, cleanCk, cleanSt)
    val clean = summary(cleanSt)
    assert(clean.map(r => (r._1, r._2)) == Set(("hot", 70L), ("warm", 25L), ("cold", 20L),
      ("rare1", 1L), ("rare2", 1L)), s"clean run: $clean")
    assert(summary(stDir) == clean, "crash + retry must read exactly like the clean run")
  }

  test("streaming histogram state: incremental quantiles equal a full rescan exactly") {
    val base = Files.createTempDirectory("histstream").toString
    val inDir = s"$base/in"; val ckDir = s"$base/ck"; val stDir = s"$base/state"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    val Sk = graft.operators.Sketches
    val qs = Seq(0.5, 0.9, 0.99)
    def run(): Unit = StreamOps.availableNow(spark, inDir, schema, ckDir) { (b, runId) =>
      Sk.histDeltaState(b, Seq("k"), col("v")).withColumn("run_id", lit(runId))
        .write.mode("append").parquet(stDir)
    }.awaitTermination()
    def read(): Map[(String, Double), Long] =
      Sk.histStateQuantiles(ParquetRead(spark, stDir), Seq("k"), qs)
        .select("k", "q", "value").as[(String, Double, Long)].collect()
        .map { case (k, q, v) => (k, q) -> v }.toMap
    // run 1: a = 1..100 (+ skew: 100 extra copies of 7), b = 1..10
    val batch1 = (1L to 100L).map(("a", _)) ++ Seq.fill(100)(("a", 7L)) ++
      (1L to 10L).map(("b", _))
    batch1.toDF("k", "v").write.mode("append").parquet(inDir)
    run()
    // run 2 delta: a grows 101..200, b re-sends 1..10 (values repeat —
    // counts must ADD, this is a histogram not a set)
    val batch2 = (101L to 200L).map(("a", _)) ++ (1L to 10L).map(("b", _))
    batch2.toDF("k", "v").write.mode("append").parquet(inDir)
    run()

    // EXACT differential: nearest-rank quantiles of the full multiset
    val got = read()
    def nearestRank(values: Seq[Long], q: Double): Long = {
      val sorted = values.sorted
      val qn = q * sorted.size
      sorted(math.max(1, math.ceil(qn - (1e-9 + qn * 4e-15)).toLong).toInt - 1)
    }
    val all = (batch1 ++ batch2).groupBy(_._1).view.mapValues(_.map(_._2).toSeq)
    for (k <- Seq("a", "b"); q <- qs)
      assert(got((k, q)) == nearestRank(all(k), q),
        s"($k, $q): got ${got((k, q))}, want ${nearestRank(all(k), q)}")

    // redelivery: re-append the last run's rows verbatim → bit-equal read
    val maxRun = spark.read.parquet(stDir).agg(max(col("run_id"))).collect().head.getLong(0)
    spark.read.parquet(stDir).where(col("run_id") === maxRun)
      .write.mode("append").parquet(stDir)
    assert(read() == got, "redelivered run must not move any quantile")

    // compaction: fewer rows, identical quantiles
    val (b0, a0) = Sk.compactHistState(spark, stDir, Seq("k"))
    assert(b0 > a0, s"compaction must shrink state: $b0 -> $a0")
    assert(read() == got, "compaction must preserve quantiles exactly")
  }

  test("streaming KLL state: delta-only float quantiles within bound; exact n; redelivery + compaction hold the bound") {
    val base = Files.createTempDirectory("kllstream").toString
    val inDir = s"$base/in"; val ckDir = s"$base/ck"; val stDir = s"$base/state"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val Sk = graft.operators.Sketches
    val qs = Seq(0.5, 0.95)
    def run(): Unit = StreamOps.availableNow(spark, inDir, schema, ckDir) { (b, runId) =>
      Sk.kllDeltaState(b, Seq("k"), col("v")).withColumn("run_id", lit(runId))
        .write.mode("append").parquet(stDir)
    }.awaitTermination()
    def read(): Map[(String, Double), (Double, Long)] =
      Sk.kllStateQuantiles(ParquetRead(spark, stDir), Seq("k"), qs)
        .select("k", "q", "value", "n").as[(String, Double, Double, Long)]
        .collect().map { case (k, q, v, n) => (k, q) -> (v, n) }.toMap
    // two delta runs of non-integer values (the metric class the exact
    // histogram family refuses): key a ~ i/1000 for i in 1..2000 split
    // across runs, key b a narrow band
    val batch1 = (1 to 1000).map(i => ("a", i / 1000.0)) ++
      (1 to 100).map(i => ("b", 5.0 + i / 100.0))
    val batch2 = (1001 to 2000).map(i => ("a", i / 1000.0)) ++
      (101 to 200).map(i => ("b", 5.0 + i / 100.0))
    batch1.toDF("k", "v").write.mode("append").parquet(inDir)
    run()
    batch2.toDF("k", "v").write.mode("append").parquet(inDir)
    run()
    val got = read()
    val all = (batch1 ++ batch2).groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
    def exactQ(k: String, q: Double): Double = {
      val xs = all(k)
      xs(math.min(xs.length - 1, math.max(0, math.ceil(q * xs.length).toInt - 1)))
    }
    // n exact per key at every q row; values inside a ±0.05 rank window
    for (k <- Seq("a", "b"); q <- qs) {
      val (v, n) = got((k, q))
      assert(n == all(k).size.toLong, s"($k, $q): n $n != ${all(k).size}")
      val (lo, hi) = (exactQ(k, math.max(0.001, q - 0.05)),
        exactQ(k, math.min(1.0, q + 0.05)))
      assert(v >= lo && v <= hi, s"($k, $q): $v outside [$lo, $hi]")
    }
    // redelivery: re-append the last run's state rows verbatim — the
    // (run, key) max-dedupe must keep n EXACT (a double-counted run
    // would read n = 2100/3000) and values inside the bound. NOT
    // bit-equality: KLL merge order varies across reads even on
    // identical state (the documented error-bounded contract — this
    // assertion once failed as == when a re-read moved a median by
    // 0.002 with no redelivery at all).
    val maxRun = spark.read.parquet(stDir).agg(max(col("run_id"))).collect().head.getLong(0)
    spark.read.parquet(stDir).where(col("run_id") === maxRun)
      .write.mode("append").parquet(stDir)
    val redelivered = read()
    for (k <- Seq("a", "b"); q <- qs) {
      val (v, n) = redelivered((k, q))
      assert(n == all(k).size.toLong,
        s"redelivered run must not inflate n: ($k, $q) read $n")
      val (lo, hi) = (exactQ(k, math.max(0.001, q - 0.05)),
        exactQ(k, math.min(1.0, q + 0.05)))
      assert(v >= lo && v <= hi, s"redelivered ($k, $q): $v outside [$lo, $hi]")
    }
    // compaction folds to one row per key; n stays exact, values stay
    // inside the same rank window (error-bounded contract, not bit-equal)
    val (b0, a0) = Sk.compactKllState(spark, stDir, Seq("k"))
    assert(b0 > a0 && a0 == 2L, s"compaction must fold: $b0 -> $a0")
    val post = read()
    for (k <- Seq("a", "b"); q <- qs) {
      val (v, n) = post((k, q))
      assert(n == all(k).size.toLong, "n must survive compaction exactly")
      val (lo, hi) = (exactQ(k, math.max(0.001, q - 0.05)),
        exactQ(k, math.min(1.0, q + 0.05)))
      assert(v >= lo && v <= hi, s"post-compact ($k, $q): $v outside [$lo, $hi]")
    }
  }

  test("streaming KMV state: merged sketch equals batch exactly; provenance reads; compaction lossless") {
    val base = Files.createTempDirectory("kmvstream").toString
    val inDir = s"$base/in"; val ckDir = s"$base/ck"; val stDir = s"$base/state"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val Sk = graft.operators.Sketches
    val k = 64
    def run(): Unit = StreamOps.availableNow(spark, inDir, schema, ckDir) { (b, runId) =>
      Sk.kmvSketch(b, col("v"), k).withColumn("run_id", lit(runId))
        .write.mode("append").parquet(stDir)
    }.awaitTermination()
    // run 1: 200 distinct tokens; run 2: 100 overlapping + 150 fresh
    val batch1 = (1 to 200).map(i => s"tok$i")
    batch1.toDF("v").write.mode("append").parquet(inDir)
    run()
    val batch2 = (101 to 350).map(i => s"tok$i")
    batch2.toDF("v").write.mode("append").parquet(inDir)
    run()

    // the merged sketch is BIT-IDENTICAL to the batch sketch over all
    // data — set semantics, no estimate tolerance needed
    val merged = Sk.kmvStateSketch(spark.read.parquet(stDir), k)
    val oneShot = Sk.kmvSketch((batch1 ++ batch2).toDF("v"), col("v"), k)
      .collect().map(_.getLong(0))
    assert(merged.toSeq == oneShot.toSeq, "merged state must equal the one-shot sketch")

    // provenance: maxRunId = 1 reconstructs run 1's sketch exactly,
    // and the before/after estimates answer the newness question
    val before = Sk.kmvStateSketch(spark.read.parquet(stDir), k, maxRunId = 1L)
    val run1Only = Sk.kmvSketch(batch1.toDF("v"), col("v"), k)
      .collect().map(_.getLong(0))
    assert(before.toSeq == run1Only.toSeq, "maxRunId must reconstruct the historical sketch")
    val (estBefore, estAfter) = (Sk.kmvEstimate(before, k), Sk.kmvEstimate(merged, k))
    assert(math.abs(estBefore - 200.0) / 200.0 < 0.5 &&
      math.abs(estAfter - 350.0) / 350.0 < 0.5, s"estimates: $estBefore, $estAfter")

    // redelivery: duplicate the whole state → identical sketch
    spark.read.parquet(stDir).write.mode("append").parquet(stDir)
    assert(Sk.kmvStateSketch(spark.read.parquet(stDir), k).toSeq == merged.toSeq)

    // compaction: ≤ k rows survive, union sketch unchanged
    val (b0, a0) = Sk.compactKmvState(spark, stDir, k)
    assert(b0 > a0 && a0 <= k, s"compaction: $b0 -> $a0")
    assert(Sk.kmvStateSketch(spark.read.parquet(stDir), k).toSeq == merged.toSeq,
      "compaction must be lossless for the union sketch")
    // folds carry the HORIZON run id, so provenance reads AT or after
    // it stay exact after compaction...
    val atHorizon = Sk.kmvStateSketch(spark.read.parquet(stDir), k, maxRunId = 2L)
    assert(atHorizon.toSeq == merged.toSeq,
      "post-compaction read at the horizon must stay exact")
    // ...while reads reaching BEHIND the horizon refuse loudly instead
    // of silently answering every newness question with a partial set
    val ex = intercept[IllegalArgumentException] {
      Sk.kmvStateSketch(spark.read.parquet(stDir), k, maxRunId = 1L)
    }
    assert(ex.getMessage.contains("behind the"), s"wrong refusal: ${ex.getMessage}")

    // compaction-k guard (r13 ADVICE): the compaction recorded k in the
    // sidecar, so a directory read with a LARGER k refuses loudly
    // instead of returning a truncated sketch that kmvEstimate would
    // report as an exact count
    assert(Sk.readKmvCompactK(spark, stDir).contains(k), "sidecar must record k")
    val exK = intercept[IllegalArgumentException] {
      Sk.kmvStateSketch(spark, stDir, k * 2, Long.MaxValue)
    }
    assert(exK.getMessage.contains("exceeds the compaction k"), exK.getMessage)
    assert(Sk.kmvStateSketch(spark, stDir, k, Long.MaxValue).toSeq == merged.toSeq,
      "reads at the compaction k keep working through the front door")
    // a second, SMALLER-k compaction tightens the bound (min over runs)
    Sk.compactKmvState(spark, stDir, k / 2)
    assert(Sk.readKmvCompactK(spark, stDir).contains(k / 2))
    intercept[IllegalArgumentException] {
      Sk.kmvStateSketch(spark, stDir, k, Long.MaxValue)
    }
    assert(Sk.kmvStateSketch(spark, stDir, k / 2, Long.MaxValue).toSeq ==
      merged.take(k / 2).toSeq, "half-k sketch is the k-smallest prefix")
  }

  test("incremental upload: checkpoint + idempotent sink = exactly-once to the store") {
    val base = Files.createTempDirectory("upstream").toString
    val inDir = s"$base/in"; val ckDir = s"$base/ck"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    UploadRegistry.reset()
    // the checkpoint delivers each new file at least once, the sink's
    // path-keyed upsert makes redelivery idempotent; the noop write
    // materializes the per-row outcome frame (the upload IS the effect)
    def run(): Unit = StreamOps.availableNow(spark, inDir, schema, ckDir) { (b, _) =>
      graft.sources.IdempotentBlobSink.upload(
          b.select(concat(lit("docs/"), col("id")).as("path"), col("v").cast("binary").as("content")),
          "path", "content", () => new UploadRegistry.Store)
        .write.mode("overwrite").format("noop").save()
    }.awaitTermination()

    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("append").parquet(inDir)
    run()
    assert(UploadRegistry.blobs.size() == 2 && UploadRegistry.puts.get() == 2)

    // rerun with nothing new: the checkpoint yields no batch rows, so the
    // store sees ZERO additional puts — the reference's skip-processed rerun
    run()
    assert(UploadRegistry.puts.get() == 2, "no-op rerun must not touch the store")

    // a new file uploads only the delta
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(inDir)
    run()
    assert(UploadRegistry.puts.get() == 3)
    assert(new String(UploadRegistry.blobs.get("docs/3")) == "c")
  }

  test("streaming token-index ingest: delta-only, rerun no-op, probes match one-shot, redelivery-invariant") {
    import graft.operators.{Similarity, TokenIndex}
    val base = Files.createTempDirectory("tistream").toString
    val inDir = s"$base/in"; val ckDir = s"$base/ck"; val idxDir = s"$base/idx"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def run(): Unit = StreamOps.availableNow(spark, inDir, schema, ckDir) { (b, runId) =>
      TokenIndex.append(b, "doc_id", "text", idxDir, runId)
    }.awaitTermination()
    val b1 = Seq((1L, "quick brown fox jumps high"), (2L, "lazy dog sleeps all day"),
      (3L, "quick dog runs far")).toDF("doc_id", "text")
    val b2 = Seq((4L, "brown dog barks loud"), (5L, "fox and dog play quick games"))
      .toDF("doc_id", "text")
    b1.write.mode("append").parquet(inDir)
    run()
    val afterRun1 = spark.read.parquet(s"$idxDir/postings").count()
    assert(afterRun1 > 0)
    // rerun with nothing new: checkpoint yields no batch, index untouched
    run()
    assert(spark.read.parquet(s"$idxDir/postings").count() == afterRun1,
      "no-op rerun must not append")
    // second file lands: only the delta is tokenized and appended
    b2.write.mode("append").parquet(inDir)
    run()
    val probes = Seq((100L, "quick dog"), (101L, "brown")).toDF("pid", "ptext")
    def probe(): Seq[(Long, Long, Double)] =
      TokenIndex.containmentJoinIndexed(spark, probes, "pid", "ptext", idxDir, 1.0)
        .select(col("probe_id").cast("long"), col("corpus_id").cast("long"),
          round(col("containment"), 9))
        .as[(Long, Long, Double)].collect().sorted.toSeq
    val want = Similarity.containmentJoin(probes, "pid", "ptext",
        b1.unionByName(b2), "doc_id", "text", 1.0)
      .select(col("probe_id").cast("long"), col("corpus_id").cast("long"),
        round(col("containment"), 9))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(want.nonEmpty && probe() == want,
      "streamed index must answer exactly like the one-shot over the full corpus")
    // at-least-once redelivery: a foreachBatch retry re-appends batch 2
    // verbatim under ITS run id (stream ids are batchId+1 → run 2);
    // every read path absorbs the duplicate rows
    TokenIndex.append(b2, "doc_id", "text", idxDir, 2L)
    assert(probe() == want, "redelivered batch must not change probe answers")
    // and compaction folds the duplicates without changing answers
    TokenIndex.compact(spark, idxDir)
    assert(probe() == want, "compaction must be lossless")
  }

  test("streaming takedowns: deletes exclude from both indexes, reruns no-op, redelivery free, compact physical") {
    import graft.operators.{TokenIndex, VectorIndex}
    val base = Files.createTempDirectory("delstream").toString
    val inDir = s"$base/in"; val ckDir = s"$base/ck"
    val tokDir = s"$base/tok"; val vecDir = s"$base/vec"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    // co-indexed corpus: ids 1..4 with text AND an embedding
    val corpus = Seq(
      (1L, "alpha beta gamma delta", Seq(1.0f, 0.0f)),
      (2L, "beta gamma epsilon zeta", Seq(0.9f, 0.1f)),
      (3L, "alpha beta gamma zeta", Seq(0.0f, 1.0f)),
      (4L, "unrelated words entirely here", Seq(0.1f, 0.9f)))
      .toDF("id", "text", "emb")
    TokenIndex.append(corpus, "id", "text", tokDir, 0L)
    VectorIndex.build(corpus, "id", "emb", vecDir, k = 2, maxIter = 3)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    // one takedown feed serves both indexes over the same corpus
    def run(): Unit = StreamOps.availableNow(spark, inDir, schema, ckDir) { (b, _) =>
      TokenIndex.delete(b, "id", tokDir)
      VectorIndex.delete(b, "id", vecDir)
    }.awaitTermination()
    val probes = Seq((10L, "beta gamma")).toDF("pid", "ptext")
    def tokHits(): Seq[Long] =
      TokenIndex.containmentJoinIndexed(spark, probes, "pid", "ptext", tokDir, 1.0)
        .select(col("corpus_id").cast("long")).as[Long].collect().sorted.toSeq
    val q = Seq((100L, Seq(0.95f, 0.05f))).toDF("id", "emb")
    def vecHits(): Seq[Long] =
      VectorIndex.queryTopK(spark, q, "id", "emb", vecDir, k = 4, nprobe = 2)
        .select(col("neighbor_id").cast("long")).as[Long].collect().sorted.toSeq
    assert(tokHits() == Seq(1L, 2L, 3L) && vecHits() == Seq(1L, 2L, 3L, 4L))
    // takedown batch 1 streams in: id 2 gone from BOTH indexes
    Seq(2L).toDF("id").write.mode("append").parquet(inDir)
    run()
    assert(tokHits() == Seq(1L, 3L), "streamed takedown must exclude from containment")
    assert(vecHits() == Seq(1L, 3L, 4L), "streamed takedown must exclude from ANN")
    // rerun with nothing new: checkpoint yields no batch, ledgers untouched
    val ledgerRows = spark.read.parquet(s"$vecDir/tombstones").count()
    run()
    assert(spark.read.parquet(s"$vecDir/tombstones").count() == ledgerRows,
      "no-op rerun must not append to the ledger")
    // at-least-once redelivery: the same batch re-applied manually is
    // absorbed (multiplicity-blind consumers — no run-id bookkeeping)
    VectorIndex.delete(Seq(2L).toDF("id"), "id", vecDir)
    TokenIndex.delete(Seq(2L).toDF("id"), "id", tokDir)
    assert(tokHits() == Seq(1L, 3L) && vecHits() == Seq(1L, 3L, 4L))
    // a second takedown batch, then compact: physical on both sides
    Seq(4L).toDF("id").write.mode("append").parquet(inDir)
    run()
    assert(vecHits() == Seq(1L, 3L))
    val (vb, va) = VectorIndex.compact(spark, vecDir)
    TokenIndex.compact(spark, tokDir)
    assert(vb - va == 2L, s"both takedowns must drop physically: $vb -> $va")
    assert(!new java.io.File(vecDir, "tombstones").exists() &&
      !new java.io.File(tokDir, "tombstones").exists(), "ledgers retire")
    assert(tokHits() == Seq(1L, 3L) && vecHits() == Seq(1L, 3L))
  }

  test("streaming vector-index ingest: delta-only, rerun no-op, probes exact, drift baseline intact") {
    import graft.operators.VectorIndex
    val base = Files.createTempDirectory("vistream").toString
    val inDir = s"$base/in"; val ckDir = s"$base/ck"; val idxDir = s"$base/idx"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def run(): Unit = StreamOps.availableNow(spark, inDir, schema, ckDir) { (b, runId) =>
      VectorIndex.append(b, "vec_id", "embedding", idxDir, runId)
    }.awaitTermination()
    // build once on a bootstrap sample (run 0 = the drift baseline),
    // then stream the growing corpus
    val boot = SynthEmbeddings.clustered(spark, 600, dim = 16, clusters = 8,
      noise = 0.1, seed = 5L, pointSeed = 15L)
    VectorIndex.build(boot, "vec_id", "embedding", idxDir, k = 16, maxIter = 5)
    val b1 = SynthEmbeddings.clustered(spark, 200, dim = 16, clusters = 8,
      noise = 0.1, seed = 5L, pointSeed = 25L, idOffset = 10000L, shift = 0.0)
    val b2 = SynthEmbeddings.clustered(spark, 200, dim = 16, clusters = 8,
      noise = 0.1, seed = 5L, pointSeed = 35L, idOffset = 20000L, shift = 0.0)
    b1.select("vec_id", "embedding").write.mode("append").parquet(inDir)
    run()
    val afterRun1 = spark.read.parquet(s"$idxDir/postings").count()
    assert(afterRun1 == 800, s"bootstrap 600 + streamed delta 200: $afterRun1")
    run()
    assert(spark.read.parquet(s"$idxDir/postings").count() == afterRun1,
      "no-op rerun must not append")
    b2.select("vec_id", "embedding").write.mode("append").parquet(inDir)
    run()
    // probes answer over bootstrap + both streamed batches, exactly as
    // a batch-appended index would (same frozen centroids, same rule)
    val queries = SynthEmbeddings.clustered(spark, 50, dim = 16, clusters = 8,
      noise = 0.1, seed = 5L, pointSeed = 45L, idOffset = 90000L, shift = 0.0).localCheckpoint(true)
    def topk(dir: String): Seq[(Long, Long, Double, Int)] =
      VectorIndex.queryTopK(spark, queries, "vec_id", "embedding", dir, k = 3, nprobe = 2)
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
          round(col("cosine"), 9), col("rank"))
        .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    val batchDir = s"$base/batch_idx"
    VectorIndex.build(boot, "vec_id", "embedding", batchDir, k = 16, maxIter = 5)
    VectorIndex.append(b1, "vec_id", "embedding", batchDir, 1L)
    VectorIndex.append(b2, "vec_id", "embedding", batchDir, 2L)
    val got = topk(idxDir)
    assert(got.nonEmpty && got == topk(batchDir),
      "streamed index must equal the batch-appended index")
    // run ids: stream batches landed as runs 1 and 2 — run 0 (the
    // build baseline) is untouched, so the drift read stays anchored
    val drift = VectorIndex.assignmentDrift(spark, idxDir)
      .select(col("run_id"), col("rel_drop"))
      .as[(Long, Double)].collect().toMap
    assert(drift.keySet == Set(0L, 1L, 2L), s"stream must not collide with run 0: $drift")
    assert(drift(0L) == 0.0 && math.abs(drift(1L)) < 0.1 && math.abs(drift(2L)) < 0.1,
      s"in-distribution stream batches read near-zero drift: $drift")
    // --- drift-triggered re-build MID-STREAM (r15): two drifted
    // streamed batches sustain the signal, rebuildIfDrifted re-trains
    // on the full corpus, and the stream keeps going — its WAL still
    // knows b1..b4 were processed (no re-append), so the index is
    // exactly {rebuilt corpus as run 0} + {post-rebuild deltas}.
    val b3 = SynthEmbeddings.clustered(spark, 200, dim = 16, clusters = 8,
      noise = 0.1, seed = 5L, pointSeed = 55L, idOffset = 30000L, shift = 1.6)
    val b4 = SynthEmbeddings.clustered(spark, 200, dim = 16, clusters = 8,
      noise = 0.1, seed = 5L, pointSeed = 65L, idOffset = 40000L, shift = 1.6)
    b3.select("vec_id", "embedding").write.mode("append").parquet(inDir)
    run() // run 3: first drifted batch — flagged but not sustained
    val corpusAtB3 = boot.unionByName(b1).unionByName(b2).unionByName(b3)
      .select("vec_id", "embedding")
    assert(!VectorIndex.rebuildIfDrifted(corpusAtB3, "vec_id", "embedding",
      idxDir, k = 16, maxIter = 5))
    b4.select("vec_id", "embedding").write.mode("append").parquet(inDir)
    run() // run 4: sustained
    val corpusAtB4 = corpusAtB3.unionByName(b4.select("vec_id", "embedding"))
      .localCheckpoint(true)
    assert(VectorIndex.rebuildIfDrifted(corpusAtB4, "vec_id", "embedding",
      idxDir, k = 16, maxIter = 5),
      "two drifted streamed runs must trigger the re-build")
    // stream continues after the re-build: only the NEW file appends
    val b5 = SynthEmbeddings.clustered(spark, 200, dim = 16, clusters = 8,
      noise = 0.1, seed = 5L, pointSeed = 75L, idOffset = 50000L, shift = 1.6)
    b5.select("vec_id", "embedding").write.mode("append").parquet(inDir)
    run() // batchId 4 → run 5
    val posts = spark.read.parquet(s"$idxDir/postings")
    assert(posts.count() == 1400 + 200,
      "rebuilt corpus (1400 as run 0) + one post-rebuild delta (200)")
    val driftAfter = VectorIndex.assignmentDrift(spark, idxDir)
      .select(col("run_id"), col("rel_drop")).as[(Long, Double)].collect().toMap
    assert(driftAfter.keySet == Set(0L, 5L),
      s"fresh baseline + the post-rebuild streamed run only: $driftAfter")
    assert(math.abs(driftAfter(5L)) < 0.1,
      s"the drifted distribution is the new normal after re-build: $driftAfter")
    // probes equal a batch-built index over the same final corpus
    val batchDir2 = s"$base/batch_idx2"
    VectorIndex.build(corpusAtB4, "vec_id", "embedding", batchDir2, k = 16, maxIter = 5)
    VectorIndex.append(b5, "vec_id", "embedding", batchDir2, 5L)
    assert(topk(idxDir) == topk(batchDir2),
      "stream-across-rebuild must equal the batch-built index")
  }

  test("streaming image-signature ingest: delta-only decode, rerun no-op, verdicts match one-shot, compactable") {
    import graft.multimodal.ImageFixtures
    import graft.operators.Dedup
    val base = Files.createTempDirectory("imgstream").toString
    val inDir = s"$base/in"; val ckDir = s"$base/ck"; val stDir = s"$base/state"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("img_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    def imgs(seeds: Seq[Long], variant: Int, idOff: Long = 0L) =
      seeds.map(s => (s + idOff, ImageFixtures.fixtureBytes(s, variant)))
        .toDF("img_id", "content")
    def run(): Unit = StreamOps.availableNow(spark, inDir, schema, ckDir) { (b, runId) =>
      Dedup.imageSignatures(b, "img_id", "content").withColumn("batch_id", lit(runId))
        .write.mode("append").parquet(stDir)
    }.awaitTermination()
    imgs(Seq(0L, 10L, 20L), 0).write.mode("append").parquet(inDir)
    run()
    val after1 = spark.read.parquet(stDir).count()
    assert(after1 == 3)
    run() // nothing new: checkpoint yields no batch
    assert(spark.read.parquet(stDir).count() == after1, "rerun must be a no-op")
    imgs(Seq(30L, 40L), 0).write.mode("append").parquet(inDir)
    run()
    assert(spark.read.parquet(stDir).count() == 5)
    // probe: a disguised copy flags to its source, a fresh seed survives
    val batch = imgs(Seq(10L), 1, 1000L).unionByName(imgs(Seq(55L), 0, 1000L))
    def verdicts() = Dedup.imageNearDuplicatesVsState(
        batch, "img_id", "content", spark.read.parquet(stDir))
      .select(col("img_id"), coalesce(col("dup_of"), lit(-1L)))
      .as[(Long, Long)].collect().toMap
    val streamed = verdicts()
    assert(streamed == Map(1010L -> 10L, 1055L -> -1L), s"$streamed")
    // batch ids are WAL-pinned (+1 for the bootstrap-run-0 rule) and
    // the state compacts with the generic maintenance
    assert(spark.read.parquet(stDir).select(min(col("batch_id"))).head().getLong(0) == 1L)
    val (b, a) = Dedup.compactSignatureStateKeys(spark, stDir, Seq("img_id"),
      versionCol = Some("batch_id"), retain = None)
    assert(b == 5 && a == 5, s"nothing redundant to fold yet: $b -> $a")
    assert(verdicts() == streamed, "compaction must not change verdicts")
  }

  test("streaming sequence-signature ingest (audio + video): delta-only decode, rerun no-op, vs-state probes, compactable") {
    import graft.multimodal.AvWriter
    import graft.operators.Dedup
    val base = Files.createTempDirectory("avstream").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("clip_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    // AUDIO lifecycle
    val aIn = s"$base/a_in"; val aCk = s"$base/a_ck"; val aSt = s"$base/a_state"
    Files.createDirectories(java.nio.file.Paths.get(aIn))
    def runA(): Unit = StreamOps.availableNow(spark, aIn, schema, aCk) { (b, runId) =>
      Dedup.audioSignatures(b, "clip_id", "content").withColumn("batch_id", lit(runId))
        .write.mode("append").parquet(aSt)
    }.awaitTermination()
    Seq(10L -> AvWriter.fixtureWav(10L, 0), 20L -> AvWriter.fixtureWav(20L, 0))
      .toDF("clip_id", "content").write.mode("append").parquet(aIn)
    runA()
    assert(spark.read.parquet(aSt).count() == 32, "16 windows per clip")
    runA() // nothing new: checkpoint yields no batch
    assert(spark.read.parquet(aSt).count() == 32, "rerun must be a no-op")
    Seq(30L -> AvWriter.fixtureWav(30L, 0))
      .toDF("clip_id", "content").write.mode("append").parquet(aIn)
    runA()
    assert(spark.read.parquet(aSt).count() == 48)
    val aBatch = Seq(110L -> AvWriter.fixtureWav(20L, 1), // disguise of 20
        155L -> AvWriter.fixtureWav(55L, 0))              // fresh
      .toDF("clip_id", "content")
    def aVerdicts() = Dedup.audioNearDuplicatesVsState(
        aBatch, "clip_id", "content", spark.read.parquet(aSt))
      .select(col("clip_id"), coalesce(col("dup_of"), lit(-1L)))
      .as[(Long, Long)].collect().toMap
    val aGot = aVerdicts()
    assert(aGot == Map(110L -> 20L, 155L -> -1L), s"$aGot")
    // batch ids WAL-pinned; composite-key maintenance keeps verdicts
    assert(spark.read.parquet(aSt).select(min(col("batch_id"))).head().getLong(0) == 1L)
    val (ab, aa) = Dedup.compactSignatureStateKeys(spark, aSt,
      Seq("clip_id", "window_idx"), versionCol = Some("batch_id"), retain = None)
    assert(ab == 48 && aa == 48, s"nothing redundant to fold yet: $ab -> $aa")
    assert(aVerdicts() == aGot, "compaction must not change verdicts")
    // ORIENTED-VERIFIED image state: same machinery, one cycle — the
    // streamed rows carry the grid blob, so the probe verifies from
    // state without the archive bytes
    val oIn = s"$base/o_in"; val oCk = s"$base/o_ck"; val oSt = s"$base/o_state"
    Files.createDirectories(java.nio.file.Paths.get(oIn))
    val oSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("img_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    Seq(1L -> graft.multimodal.ImageFixtures.fixtureBytes(11L, 0))
      .toDF("img_id", "content").write.mode("append").parquet(oIn)
    StreamOps.availableNow(spark, oIn, oSchema, oCk) { (b, runId) =>
      Dedup.imageOrientedSignatures(b, "img_id", "content").withColumn("batch_id", lit(runId))
        .write.mode("append").parquet(oSt)
    }.awaitTermination()
    val oState = spark.read.parquet(oSt)
    assert(oState.count() == 1 &&
      oState.head().getAs[Array[Byte]]("grids").length == 2304)
    val oGot = Dedup.imageNearDuplicatesOrientedVerifiedVsState(
        Seq(10L -> graft.multimodal.ImageFixtures.fixtureBytes(11L, 5))
          .toDF("img_id", "content"),
        "img_id", "content", oState.drop("batch_id"))
      .select(col("img_id"), col("dup_of")).as[(Long, Option[Long])]
      .collect().toSeq
    assert(oGot == Seq(10L -> Some(1L)), s"$oGot")
    // VIDEO: same machinery, one cycle
    val vIn = s"$base/v_in"; val vCk = s"$base/v_ck"; val vSt = s"$base/v_state"
    Files.createDirectories(java.nio.file.Paths.get(vIn))
    Seq(1L -> AvWriter.fixtureClip(11L, 0.9f))
      .toDF("clip_id", "content").write.mode("append").parquet(vIn)
    StreamOps.availableNow(spark, vIn, schema, vCk) { (b, runId) =>
      Dedup.videoSignatures(b, "clip_id", "content").withColumn("batch_id", lit(runId))
        .write.mode("append").parquet(vSt)
    }.awaitTermination()
    assert(spark.read.parquet(vSt).count() == 4, "4 keyframes")
    val vGot = Dedup.videoNearDuplicatesVsState(
        Seq(10L -> AvWriter.fixtureClip(11L, 0.45f)).toDF("clip_id", "content"),
        "clip_id", "content", spark.read.parquet(vSt))
      .select(col("clip_id"), col("dup_of")).as[(Long, Option[Long])]
      .collect().toSeq
    assert(vGot == Seq(10L -> Some(1L)), s"$vGot")
  }
}

/** Static registry so the hermetic store is serializable-by-reference in
  * local mode and put counts are observable from the driver.
  */
object UploadRegistry {
  val blobs = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
  val puts = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { blobs.clear(); puts.set(0) }
  class Store extends graft.sources.IdempotentBlobSink.BlobStore with Serializable {
    def currentVersion(path: String): Option[String] =
      Option(blobs.get(path)).map(b => java.util.Arrays.hashCode(b).toString)
    def put(path: String, bytes: Array[Byte], expectedVersion: Option[String]): Either[String, String] = {
      puts.incrementAndGet(); blobs.put(path, bytes); Right(s"mem://$path")
    }
  }
}

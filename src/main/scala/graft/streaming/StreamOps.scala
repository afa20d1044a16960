package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import java.sql.Timestamp

/** Structured Streaming re-expression of the engine's incremental
  * semantics (SURVEY.md §2.10).
  *
  * The reference pipeline is "incremental by re-run": each run reads
  * everything, anti-joins against state, processes the delta
  * (`/root/reference/test.py:99-111,142-146`). Structured Streaming's
  * checkpointed file source + the `AvailableNow` trigger is the idiomatic
  * Spark form of exactly that contract: each invocation processes only
  * files not yet recorded in the checkpoint, then terminates. One
  * driver, [[availableNow]], owns that wiring; what a run does with its
  * delta is the batch writer it is handed. The other two operators are
  * the streaming bodies with no batch twin to hand over.
  */
object StreamOps {

  /** Run `onBatch` over each micro-batch of the parquet files under
    * `inputDir` that the checkpoint at `checkpointDir` has not seen yet,
    * then terminate: one `AvailableNow` run of a checkpointed
    * file source. The caller awaits the returned query.
    *
    * `onBatch` receives the batch and its RUN ID, `batchId + 1`. Stream
    * run ids start at 1 for two reasons. Run 0 belongs to the
    * pre-stream ingest (a bootstrap append, or `VectorIndex.build`'s
    * training corpus), and per-run dedup on the read paths assumes one
    * run id = one batch content, so a stream's batch 0 must not collide
    * with it. Run 0 is also `VectorIndex.assignmentDrift`'s baseline
    * row: a stream batch merged into it under the read's per-run max
    * would corrupt the baseline itself. The stream owns ids ≥ 1 within
    * its checkpoint lineage; callers that interleave MANUAL appends
    * with a live stream keep their ids out of that range (0 or
    * negatives).
    *
    * Failure semantics: `foreachBatch` is at-least-once. A batch whose
    * `onBatch` fails re-runs on the next invocation with the SAME file
    * set and the same run id (the checkpoint pins a batch's files in its
    * offset log before the batch executes), so a writer is safe here
    * when a redelivered run is a no-op on its reads. Each state writer's
    * scaladoc argues that for its own state. A pipeline whose output is
    * a plain parquet directory wants Spark's own file sink
    * (`writeStream.format("parquet")` under the same trigger), which
    * keeps the sink's exactly-once commit log.
    */
  def availableNow(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      checkpointDir: String)(
      onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, batchId: Long) => onBatch(batch, batchId + 1))
      .start()

  /** False-positive rate of [[decontaminateStream]]'s Bloom filter. */
  val BloomFpp = 1e-4
  /** Reference grams up to which [[decontaminateStream]] probes an exact set. */
  val ExactMaxGrams = 2000000L

  /** Streaming benchmark-contamination guard: documents arrive as a
    * stream (the live crawl); the benchmark is STATIC, so its distinct
    * hashed n-grams are materialized ONCE at stream definition into a
    * broadcast hash set — every micro-batch is then a stateless filter
    * (per-doc cost O(doc grams), set lookups O(1)): no stream join, no
    * state store, nothing watermark-dependent. Emits only the CLEAN
    * documents, so test-set leakage is dropped at ingest, before it ever
    * reaches the corpus store. Gram construction is bit-identical to the
    * batch [[graft.operators.Dedup.flagContaminated]] at its default
    * n-gram length ([[graft.operators.Dedup.ContaminationGramN]]), so
    * batch and streaming decide identically.
    *
    * The reference-set representation auto-selects on size: up to
    * [[ExactMaxGrams]] distinct grams it is an exact SORTED PRIMITIVE
    * `long[]` probed by binary search (8 bytes per gram — a 2M-gram
    * eval suite is ~16 MB; a boxed `Set[Long]` would be ~48 B/entry —
    * and zero false positives); above that it switches to a Bloom
    * filter (~2.4 bytes/gram at [[BloomFpp]]), same shape, so a
    * corpus-sized reference set costs ~250 MB per executor instead of
    * ~16 GB. Bloom false positives only ever DROP a clean document
    * (never leak a contaminated one) — the safe direction for
    * decontamination. Both probes are native codegen expressions
    * ([[graft.plans.AnyHashInSortedSet]] / [[graft.plans.AnyHashInBloom]])
    * — no Scala closure in the per-batch filter, so the stream filter
    * fuses into whole-stage codegen exactly like the batch path.
    */
  def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String): DataFrame =
    decontaminateStream(docs, idCol, textCol, benchmark, benchTextCol, ExactMaxGrams)

  /** [[decontaminateStream]] with the exact/Bloom size fork explicit. */
  private[graft] def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, exactMaxGrams: Long): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val n = graft.operators.Dedup.ContaminationGramN
    val grams = benchmark
      .select(graft.functions.HashFunctions.hashedWordShingles(
        graft.functions.TextFunctions.tokens(col(benchTextCol)), n).as("__sh"))
      .select(explode(col("__sh")).as("__h")).distinct()
      .persist() // two actions (count + collect-or-bloom): one job each
    val docGrams = GraftSqlBridge.expression(
      graft.functions.HashFunctions.hashedWordShingles(
        graft.functions.TextFunctions.tokens(col(textCol)), n))
    val hit: Column =
      try {
        val nGrams = grams.count()
        if (nGrams <= exactMaxGrams) {
          val sorted = grams.collect().map(_.getLong(0))
          java.util.Arrays.sort(sorted)
          GraftSqlBridge.column(graft.plans.AnyHashInSortedSet(docGrams, sorted))
        } else {
          val bloom = grams.stat.bloomFilter("__h", math.max(nGrams, 1L), BloomFpp)
          GraftSqlBridge.column(
            graft.plans.AnyHashInBloom(docGrams, graft.plans.BloomHolder(bloom)))
        }
      } finally grams.unpersist(blocking = false)
    // null gram arrays (null text) are clean by definition — the probe
    // yields null for them, which coalesces to keep
    docs.filter(coalesce(!hit, lit(true)))
  }

  final case class SessionInput(user_id: Long, ts: Timestamp, event_id: Long)
  final case class SessionState(sessionStartUs: Long, lastUs: Long, n: Long)
  final case class SessionsState(open: List[SessionState])
  final case class SessionOut(user_id: Long, session_start_us: Long, session_end_us: Long, n: Long)
  /** Watermark delay of [[sessionizeStream]]: rows later than the newest
    * event seen are dropped. */
  val SessionLateness = "0 seconds"

  /** Custom stateful sessionization via flatMapGroupsWithState with an
    * EVENT-time timeout. A session is emitted only once the WATERMARK
    * seals it (`watermark > session end + gap`): past that point no
    * admissible event — every future row has `ts ≥ watermark` — can
    * still merge into it, so emission is FINAL, exactly the append-mode
    * contract of the built-in `session_window` aggregation. Until
    * sealed, a session stays in state; the state therefore holds a LIST
    * of open sessions (bounded: sessions inside the lateness window,
    * ≤ ~lateness/gap per key), which is what makes the stream
    * batch-consistent when `lateness > gap` — a late event can open an
    * EARLIER separate session, and a later straggler within the gap of
    * it must still merge (a single-open-session design emits the early
    * session immediately and fragments such stragglers into overlapping
    * sessions).
    *
    * Each invocation is one merge-sweep over START-SORTED intervals:
    * batch events as point intervals plus every open session from
    * state; sorting by start makes the merge predicate one-sided
    * (`next.start − cur.end ≤ gap`), reproducing the batch sessionize
    * on everything the watermark let through.
    *
    * Event-time (not processing-time) timeout is deliberate: timeouts
    * fire only when the watermark advances, i.e. driven by data, so a
    * test's `processAllAvailable` terminates, results are reproducible
    * regardless of wall-clock scheduling, and rows later than
    * [[SessionLateness]] are dropped by the watermark instead of double-emitting
    * a sealed session. The batch analog is Relational.sessionize; this
    * is the always-on form with per-key state. When the per-session
    * output is only an aggregate, the built-in
    * `groupBy(session_window(ts, gap), key)` is the better form: Spark
    * owns session merge, state and eviction, and its state store format
    * is upgrade-stable. Use this one when per-event logic inside the
    * session is genuinely required.
    */
  def sessionizeStream(events: Dataset[SessionInput], gapUs: Long): Dataset[SessionOut] =
    sessionizeStream(events, gapUs, SessionLateness)

  /** [[sessionizeStream]] with the watermark's lateness explicit. */
  private[graft] def sessionizeStream(events: Dataset[SessionInput], gapUs: Long,
      lateness: String): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = math.max(gapUs / 1000L, 1L)
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionsState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SessionInput], state: GroupState[SessionsState]) =>
          // one body serves both paths: on a timeout wake-up `rows` is
          // empty and the sweep degenerates to re-partitioning the open
          // list against the advanced watermark
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val items = (rows.map { r =>
            // true microseconds: getTime truncates to ms, the sub-ms
            // fraction lives in getNanos — without it the stream
            // diverges from the batch sessionize for sub-ms gaps
            val us = r.ts.getTime * 1000L + (r.ts.getNanos / 1000) % 1000L
            SessionState(us, us, 1)
          }.toSeq ++ state.getOption.map(_.open).getOrElse(Nil))
            .sortBy(st => (st.sessionStartUs, st.lastUs))
          val merged = scala.collection.mutable.ArrayBuffer.empty[SessionState]
          items.foreach { it =>
            merged.lastOption match {
              case Some(st) if it.sessionStartUs - st.lastUs <= gapUs =>
                merged(merged.size - 1) = SessionState(st.sessionStartUs,
                  math.max(st.lastUs, it.lastUs), st.n + it.n)
              case _ => merged += it
            }
          }
          // seal iff watermark STRICTLY passed end + gap: an event at
          // exactly `ts == watermark == end + gap` is still admitted by
          // Spark AND still merges, so `<=` would emit one batch early
          val (done, open) = merged.partition(st => st.lastUs + gapUs < wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionsState(open.toList))
            // next seal point: the earliest open session's end + gap;
            // must sit strictly above the current watermark or
            // setTimeoutTimestamp throws (possible when a barely-on-time
            // row lands with the watermark already near its deadline)
            val deadline = open.map(_.lastUs).min / 1000L + gapMs
            state.setTimeoutTimestamp(math.max(deadline, state.getCurrentWatermarkMs() + 1L))
          }
          done.sortBy(_.sessionStartUs)
            .map(st => SessionOut(user, st.sessionStartUs, st.lastUs, st.n)).iterator
      }
  }
}

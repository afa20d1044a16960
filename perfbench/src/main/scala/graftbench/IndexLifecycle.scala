package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, Similarity, TokenIndex, VectorIndex}

import IndexLifecycle._

/** One closed-loop client driving a token index and an IVF vector index
  * through a seeded schedule of rounds. A round appends the next batch
  * of documents and vectors (the first round redelivers its documents
  * verbatim), takes down a seeded 5% of live ids, probes containment,
  * compacts both indexes, and probes containment again (the answer must
  * not change), then BM25 and top-k. Probes are BM25 over seeded terms,
  * containment of seeded 12-token snippets, and IVF top-1 of seeded
  * planted copies (2 × a live vector, whose nearest neighbour is its
  * source).
  *
  * Every operation counts in the latency percentiles, one item each. */
final class IndexLifecycle(data: String, work: String, seed: Long, smoke: Boolean) extends Workload {
  private val batches = if (smoke) 3 else 6
  private val ti = s"$work/token_index"
  private val vi = s"$work/vector_index"
  private val rnd = new Random(seed)
  private val vocab = Seq("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "customer",
    "vector", "join", "dup")

  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var texts: Map[Long, String] = Map.empty
  private var vectors: Map[Long, Array[Float]] = Map.empty
  private var docBatch: Map[Int, Seq[Long]] = Map.empty
  private var vecBatch: Map[Int, Seq[Long]] = Map.empty
  private val liveDocs = mutable.LinkedHashSet.empty[Long]
  private val liveVecs = mutable.LinkedHashSet.empty[Long]
  private var pendingDeletes = false

  private val answers = mutable.ArrayBuffer.empty[Answer]
  private val wrong = mutable.ArrayBuffer.empty[String]
  private val pending = mutable.Queue.empty[(String, () => Unit)]
  private var round = 0
  // traced-run ledger
  private val compactions = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private var tiBytesWritten = 0L
  private var textBytesIngested = 0L

  def latencyKinds: Set[String] = Set("ti.append", "vi.append", "delete", "compact", "bm25", "containment", "topk")

  /** Loads the inputs, splits the corpus into seeded batches and builds
    * both indexes afresh from the first. */
  override def setup(spark: SparkSession): Unit = {
    docs = spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
    vecs = spark.read.parquet(s"$data/embeddings.parquet").select("vec_id", "embedding")
    texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    vectors = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    Seq(ti, vi).foreach(d => Main.deleteDir(new File(d)))
    liveDocs.clear(); liveVecs.clear()
    def split(ids: Iterable[Long]) = new Random(seed).shuffle(ids.toSeq.sorted)
      .zipWithIndex.groupBy(_._2 % batches).map { case (b, xs) => b -> xs.map(_._1).sorted }
    docBatch = split(texts.keys); vecBatch = split(vectors.keys)
    Main.concurrently(Seq(
      () => TokenIndex.append(batchOf(docs, "doc_id", docBatch(0)), "doc_id", "text", ti, 0L),
      () => VectorIndex.build(batchOf(vecs, "vec_id", vecBatch(0)), "vec_id", "embedding", vi,
        k = math.max(2, math.sqrt(vecBatch(0).size.toDouble).toInt), maxIter = 1)))
    liveDocs ++= docBatch(0); liveVecs ++= vecBatch(0)
  }

  private def batchOf(df: DataFrame, idCol: String, ids: Seq[Long]) =
    df.join(broadcast(df.sparkSession.createDataFrame(ids.map(Tuple1(_))).toDF(idCol)), idCol)

  /** One unrecorded probe of each kind, concurrently. */
  def warmup(spark: SparkSession): Unit = Main.concurrently(Seq(
    () => runProbe(spark, Bm25(Seq("scan", "join")), record = false),
    () => runProbe(spark, Contain(liveDocs.take(2).toSeq), record = false),
    () => runProbe(spark, TopK(liveVecs.take(2).toSeq), record = false)))

  def next(spark: SparkSession): Op = {
    if (pending.isEmpty) schedule(spark)
    val (kind, body) = pending.dequeue()
    val (_, s) = Main.timed(body())
    Op(kind, 1, s)
  }

  override def atBoundary: Boolean = pending.isEmpty

  /** Queues the next round's operations. */
  private def schedule(spark: SparkSession): Unit = {
    round += 1
    val r = round
    if (r < batches) {
      // the first round's documents are delivered twice, as an at-least-once retry would
      for (_ <- 1 to (if (r == 1) 2 else 1)) pending += ("ti.append" -> (() => {
        val b = batchOf(docs, "doc_id", docBatch(r))
        tiWrite(Trace.span("ti.append")(Trace.span("build")(
          TokenIndex.append(b, "doc_id", "text", ti, r.toLong))))
        textBytesIngested += docBatch(r).map(i => texts(i).getBytes("UTF-8").length.toLong).sum
        liveDocs ++= docBatch(r)
      }))
      pending += ("vi.append" -> (() => {
        Trace.span("vi.append")(Trace.span("build")(
          VectorIndex.append(batchOf(vecs, "vec_id", vecBatch(r)), "vec_id", "embedding", vi, r.toLong)))
        liveVecs ++= vecBatch(r)
      }))
    }
    pending += ("delete" -> (() => {
      val docsGone = rnd.shuffle(liveDocs.toSeq).take(math.max(1, liveDocs.size / 20))
      tiWrite(Trace.span("ti.delete")(Trace.span("build")(
        TokenIndex.delete(spark.createDataFrame(docsGone.map(Tuple1(_))).toDF("doc_id"), "doc_id", ti))))
      liveDocs --= docsGone
      pendingDeletes = true
      val vecsGone = rnd.shuffle(liveVecs.toSeq).take(math.max(1, liveVecs.size / 20))
      Trace.span("vi.delete")(Trace.span("build")(
        VectorIndex.delete(spark.createDataFrame(vecsGone.map(Tuple1(_))).toDF("vec_id"), "vec_id", vi)))
      liveVecs --= vecsGone
    }))
    // drawn when first used, so they see the post-takedown live set
    lazy val contain = Contain(rnd.shuffle(liveDocs.toSeq).take(4))
    pending += ("containment" -> (() => runProbe(spark, contain, record = true)))
    pending += ("compact" -> (() => {
      val ((pb, pa), _, _) = tiWrite(Trace.span("ti.compact")(Trace.span("build")(
        TokenIndex.compact(spark, ti))))
      pendingDeletes = false
      val (vb, va) = Trace.span("vi.compact")(Trace.span("build")(VectorIndex.compact(spark, vi)))
      if (Trace.enabled) compactions += ((pb, pa, vb, va))
    }))
    pending += ("containment" -> (() => {
      val before = answers.reverseIterator.find(_.probe == contain).map(_.rows)
      val after = runProbe(spark, contain, record = true)
      if (before.exists(_ != after)) wrong += s"index $contain: answer changed across compaction"
    }))
    pending += ("bm25" -> (() => runProbe(spark, Bm25(rnd.shuffle(vocab).take(3)), record = true)))
    pending += ("topk" -> (() => runProbe(spark, TopK(rnd.shuffle(liveVecs.toSeq).take(4)), record = true)))
  }

  private def tiWrite[T](body: => T): T =
    if (!Trace.enabled) body
    else {
      val before = dirBytes(new File(ti))
      val r = body
      tiBytesWritten += math.max(0L, dirBytes(new File(ti)) - before)
      r
    }

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
  private def dirBytes(f: File): Long = files(f).filter(_.getName.endsWith(".parquet")).map(_.length).sum

  private def runProbe(spark: SparkSession, p: Probe, record: Boolean): Set[String] = {
    import spark.implicits._
    val rows: Set[String] = p match {
      case Bm25(terms) => Trace.span("ti.bm25") {
        val df = Trace.span("build")(TokenIndex.bm25Indexed(spark, ti, terms))
        Trace.span("plan")(df.queryExecution.executedPlan)
        Trace.span("exec")(df.collect()).map(r => f"${r.getLong(0)}:${r.getDouble(1)}%.4f:${r.getLong(2)}").toSet
      }
      case Contain(ids) => Trace.span("ti.containment") {
        val df = Trace.span("build")(TokenIndex.containmentJoinIndexed(spark,
          snippets(spark, ids), "snip_id", "snip_text", ti, threshold = 1.0))
        Trace.span("plan")(df.queryExecution.executedPlan)
        Trace.span("exec")(df.collect()).map(r => s"${r.getAs[Long]("probe_id")}:${r.getAs[Long]("corpus_id")}").toSet
      }
      case TopK(ids) => Trace.span("vi.topk") {
        val q = ids.map(i => (i + Offset, vectors(i).map(_ * 2.0f).toSeq)).toDF("qid", "emb")
        val df = Trace.span("build")(VectorIndex.queryTopK(spark, q, "qid", "emb", vi, k = 1))
        Trace.span("plan")(df.queryExecution.executedPlan)
        val got = Trace.span("exec")(df.collect())
          .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
        if (record) ids.foreach { i =>
          if (got.get(i + Offset) != Some(i)) wrong += s"index top-1 of planted copy of $i: ${got.get(i + Offset)}"
        }
        got.map { case (a, b) => s"$a:$b" }.toSet
      }
    }
    if (record) answers += Answer(p, rows, liveDocs.toSet, fresh = !pendingDeletes)
    rows
  }

  private val Offset = 1000000000L

  private def snippets(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, texts(i).trim.split("\\s+").take(12).mkString(" "))).toDF("snip_id", "snip_text")
  }

  /** The last containment answer (equal before and after compaction, as
    * checked in the loop) and the last BM25 answer asked with no takedown
    * pending, recomputed from the live corpus by the one-shot operators. */
  def check(spark: SparkSession): Seq[String] = {
    def live(ids: Set[Long]) = batchOf(docs, "doc_id", ids.toSeq)
    val bad = mutable.ArrayBuffer.empty[String]
    def containment() = answers.reverseIterator.find(_.probe.isInstanceOf[Contain]).foreach { a =>
      val Contain(ids) = a.probe
      val want = Similarity.containmentJoin(snippets(spark, ids), "snip_id", "snip_text",
          live(a.live), "doc_id", "text", 1.0)
        .collect().map(r => s"${r.getAs[Long]("probe_id")}:${r.getAs[Long]("corpus_id")}").toSet
      if (want != a.rows) bad.synchronized { bad += s"index containment $ids: ${a.rows.size} rows, one-shot ${want.size}" }
    }
    def bm25() = answers.reverseIterator.find(a => a.fresh && a.probe.isInstanceOf[Bm25]).foreach { a =>
      val Bm25(terms) = a.probe
      val want = Retrieval.bm25(live(a.live), "doc_id", "text", terms).collect()
        .map(r => f"${r.getLong(0)}:${r.getDouble(1)}%.4f:${r.getLong(2)}").toSet
      if (want != a.rows) bad.synchronized { bad += s"index bm25 $terms: ${a.rows.size} rows differ from one-shot ${want.size}" }
    }
    Main.concurrently(Seq(() => containment(), () => bm25()))
    wrong.toSeq ++ bad
  }

  override def layers(spark: SparkSession, spans: Seq[Trace.Span],
      own: Map[Int, Trace.Counters]): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    for ((prefix, ops) <- Seq("ti" -> Seq("append", "delete", "compact", "bm25", "containment"),
        "vi" -> Seq("append", "delete", "compact", "topk")); op <- ops)
      m ++= Layers.named(spans, own, s"$prefix.$op", s"$prefix.$op")
    for ((prefix, dir) <- Seq("ti" -> ti, "vi" -> vi)) {
      val fs = files(new File(dir)).filter(_.getName.endsWith(".parquet"))
      m(s"$prefix.files_live") = fs.size.toDouble
      m(s"$prefix.mb_on_disk") = fs.map(_.length).sum / 1048576.0
    }
    m("ti.write_amp") = if (textBytesIngested > 0) tiBytesWritten.toDouble / textBytesIngested else 0.0
    m("ti.compact.postings_before") = Main.median(compactions.map(_._1.toDouble).toSeq)
    m("ti.compact.postings_after") = Main.median(compactions.map(_._2.toDouble).toSeq)
    m("vi.compact.rows_before") = Main.median(compactions.map(_._3.toDouble).toSeq)
    m("vi.compact.rows_after") = Main.median(compactions.map(_._4.toDouble).toSeq)
    m.toMap
  }
}

object IndexLifecycle {
  sealed trait Probe
  final case class Bm25(terms: Seq[String]) extends Probe
  final case class Contain(ids: Seq[Long]) extends Probe
  final case class TopK(ids: Seq[Long]) extends Probe
  /** A recorded probe answer with the live document set it was asked against;
    * `fresh` when no takedown awaits compaction (BM25 stats are exact). */
  final case class Answer(probe: Probe, rows: Set[String], live: Set[Long], fresh: Boolean)
}

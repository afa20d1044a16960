package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.pipeline.CorpusPipeline

/** One closed-loop analyst cycling through a fixed mix of DataFrame and
  * SQL-text queries from `SparkEntry.queries`, plus one corpus curation
  * (`CorpusPipeline.curate` with q44's configuration) per cycle, in an
  * order the seed shuffles afresh every cycle. Each operation is built,
  * planned and executed; its rows are collected.
  *
  * The documents table has the same content for every seed, in an order
  * the seed permutes: the warm-up curates it in id order, and every timed
  * curation must return exactly that survivor set. The warm-up also
  * writes each query's rows, which the DuckDB oracle checks against
  * `SparkEntry.oracleSql` outside the JVM; every timed query must
  * return exactly those rows.
  *
  * Op kinds are the query names and `curate`, one item each. */
final class AnalystSql(data: String, work: String, seed: Long) extends Workload {
  private val mix = Seq(
    "q01_pricing_summary", "q21_sessionize", "q113_sql_front_door", "q122_sql_join_chain")
  private val Curate = "curate"
  private val cfg = CorpusPipeline.Config(
    minTokens = 5, minTypeTokenRatio = 0.05, nearDupThreshold = 0.9, snapshotGate = true)
  private val queries = graft.SparkEntry.queries
  private val rnd = new Random(seed)
  private var order = Seq.empty[String]
  private var reference = Set.empty[Long]
  private var last = Set.empty[Long]
  private val wrong = mutable.ArrayBuffer.empty[String]
  /** Digest of each query's rows as the warm-up wrote them. */
  private val written = mutable.Map.empty[String, String]
  /** Rows of every timed query, checked after the timed region. */
  private val timedRows = mutable.ArrayBuffer.empty[(String, Array[Row])]

  def latencyKinds: Set[String] = mix.toSet + Curate

  private def documents(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(s"$data/$name.parquet")

  private def curate(docs: DataFrame): Set[Long] = Trace.span(Curate) {
    val cur = Trace.span("build")(CorpusPipeline.curate(docs, "doc_id", "text", cfg))
    Trace.span("plan")(cur.queryExecution.executedPlan)
    Trace.span("exec")(cur.select("doc_id").collect()).map(_.getLong(0)).toSet
  }

  def warmup(spark: SparkSession): Unit = {
    val out = new File(work, "sql_results")
    Main.deleteDir(out)
    Main.concurrently(mix.map(q => () => queries(q)(spark, data).write.parquet(s"$out/$q.parquet")) :+
      (() => reference = curate(documents(spark, "documents_by_id"))))
    val oracle = graft.SparkEntry.oracleSql
    Files.write(new File(work, "sql_oracle.json").toPath,
      Json.obj(mix.map(q => q -> oracle(q))).text.getBytes(UTF_8))
  }

  override def references(spark: SparkSession): Unit =
    mix.foreach(q => written(q) = rowsDigest(spark.read.parquet(s"$work/sql_results/$q.parquet").collect()))

  def next(spark: SparkSession): Op = {
    if (order.isEmpty) order = rnd.shuffle(mix :+ Curate)
    val q = order.head
    order = order.tail
    val (rows, s) = Main.timed(op(spark, q))
    rows.foreach(r => timedRows += q -> r)
    Op(q, 1, s)
  }

  /** Runs query `q`, returning its rows, or the curation, checking its survivors. */
  private def op(spark: SparkSession, q: String): Option[Array[Row]] =
    if (q == Curate) {
      val got = curate(documents(spark, "documents"))
      if (got != reference)
        wrong += s"curate: ${got.size} survivors, ${(got diff reference).size} not in the id-order set"
      last = got
      None
    } else {
      val df = Trace.span("build")(queries(q)(spark, data))
      Trace.span("plan")(df.queryExecution.executedPlan)
      Some(Trace.span("exec")(df.collect()))
    }

  /** Order-independent digest of a result: its rows' cells, sorted. */
  private def rowsDigest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
      .foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  override def atBoundary: Boolean = order.isEmpty

  /** Every timed query returned the rows the oracle checks; the last
    * timed curation's survivors (equal to the id-order set, as checked in
    * the loop) have distinct fingerprints and all pass the quality gate. */
  def check(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    val docs = documents(spark, "documents")
    val surv = docs.join(broadcast(last.toSeq.toDF("doc_id")), "doc_id")
    var (n, prints, gated) = (0L, 0L, 0L)
    Main.concurrently(Seq(
      () => {
        val r = surv.agg(count(lit(1)), countDistinct(TextFunctions.fingerprint(col("text")))).head()
        n = r.getLong(0); prints = r.getLong(1)
      },
      () => gated = CorpusPipeline.qualityFilter(
        CorpusPipeline.annotate(surv, "doc_id", "text", cfg), cfg).count()))
    val bad = mutable.ArrayBuffer.empty[String]
    if (n == 0) bad += "curate: no survivors"
    if (prints != n) bad += s"curate: $n survivors share ${n - prints} fingerprints"
    if (gated != n) bad += s"curate: ${n - gated} survivors fail the quality gate"
    timedRows.foreach { case (q, r) =>
      if (rowsDigest(r) != written(q)) bad += s"$q: ${r.length} rows differ from the checked ones"
    }
    wrong.toSeq ++ bad
  }

  override def layers(spark: SparkSession, spans: Seq[Trace.Span],
      own: Map[Int, Trace.Counters]): Map[String, Double] = {
    val docs = documents(spark, "documents")
    // the gate and dedup stages curate runs, each executed on its own
    val annotated = CorpusPipeline.annotate(docs, "doc_id", "text", cfg)
    val (_, gateS) = Main.timed(CorpusPipeline.qualityFilter(annotated, cfg).count())
    val gated = CorpusPipeline.qualityFilter(annotated, cfg).drop("__toks")
    val (_, dedupS) = Main.timed(CorpusPipeline.dedup(gated, "doc_id", "text", cfg).count())
    val (observed, in, out) = CorpusPipeline.curateObserved(docs, "doc_id", "text", cfg)
    observed.write.format("noop").mode("overwrite").save()
    val docsIn = in.get("n_docs").asInstanceOf[Long].toDouble
    val docsOut = out.get("n_docs").asInstanceOf[Long].toDouble
    val curateIds = spans.filter(_.name == Curate).map(_.id).toSet
    def phase(name: String) = spans.filter(s => s.name == name && curateIds(s.parent))
    val phases = phase("build") ++ phase("exec")
    val wall = phases.map(_.seconds).sum
    val cpu = phases.map(s => Trace.inclusive(spans, own, s.id).cpuNs).sum / 1e9
    Map(
      "curate.op_s" -> Main.median(spans.filter(_.name == Curate).map(_.seconds)),
      "curate.gate_s" -> gateS,
      "curate.dedup_s" -> dedupS,
      "curate.build_s" -> Main.median(phase("build").map(_.seconds)),
      "curate.exec_s" -> Main.median(phase("exec").map(_.seconds)),
      "curate.core_util" -> (if (wall > 0) cpu / (wall * Main.cores) else 0.0),
      "curate.docs_in" -> docsIn,
      "curate.docs_out" -> docsOut,
      "curate.survivor_ratio" -> (if (docsIn > 0) docsOut / docsIn else 0.0))
  }
}

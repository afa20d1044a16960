package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.multimodal.ImageOps
import graft.operators.Incremental
import graft.pipeline.{FotoFixture, FotoPipeline}

import FotoWeekly.Done

/** The reference's own job, run weekly. The seed assigns each forms
  * submission to the backfill export (half of them) or to one of `weeks`
  * weekly exports; exports are cumulative, so week k holds every earlier
  * submission plus that week's. One cycle runs the backfill, each week,
  * and a re-run of the last export, against the metadata written so far;
  * the loop then starts a new cycle on fresh output.
  *
  * Op kinds: `backfill`, `week` and `rerun`; the latency summary covers
  * the weekly runs and the re-run. Items are images processed. */
final class FotoWeekly(work: String, seed: Long, smoke: Boolean) extends Workload {
  private val images = if (smoke) 24 else 32
  private val weeks = 2
  private val keys = Seq("kode_proyek", "minggu", "nama_file")
  private val corpus = s"$work/foto_corpus"
  private def export(k: Int) = s"$work/foto_exports/$k"

  /** Images submitted in export k (cumulative). */
  private val submitted = mutable.Map.empty[Int, Long]
  private var cycle = 0
  private var stage = 0
  private val done = mutable.ArrayBuffer.empty[Done]
  // traced-run ledger
  private val newworkS = mutable.ArrayBuffer.empty[Double]
  private val filesWritten = mutable.ArrayBuffer.empty[(Long, Long)]
  private val backfillS = mutable.ArrayBuffer.empty[Double]
  private var backfillReq = -1

  def latencyKinds: Set[String] = Set("week", "rerun")

  /** Generates the photo corpus and writes the seeded exports. */
  override def setup(spark: SparkSession): Unit = {
    FotoFixture.generate(spark, corpus, images)
    val wide = spark.read.parquet(s"$corpus/wide")
      // equal shares for every seed: half in the backfill, the rest split evenly
      .withColumn("__h", ntile(2 * weeks).over(Window.orderBy(xxhash64(col("foto_1"), lit(seed)), col("foto_1"))))
      .withColumn("__week", when(col("__h") <= weeks, 0).otherwise(col("__h") - weeks))
    Main.concurrently((0 to weeks).map(k => () =>
      wide.filter(col("__week") <= k).drop("__h", "__week").write.mode("overwrite").parquet(export(k))))
  }

  /** The images each export submits, and a content digest of the inputs. */
  override def references(spark: SparkSession): Unit = {
    // order-independent content hash of a table
    def h(df: DataFrame) = df.select(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head().get(0).toString
    (0 to weeks).foreach(k => submitted(k) = longForm(spark.read.parquet(export(k))).count())
    digest = (s"$corpus/blobs" +: (0 to weeks).map(export)).map(d => h(spark.read.parquet(d))).mkString("-")
  }

  private var digest = ""
  override def inputDigest: String = digest

  private def longForm(wide: DataFrame) =
    FotoPipeline.unpivotSlots(wide, Seq("kode_proyek", "minggu"), FotoPipeline.slotPairs(2))

  /** One pipeline run of export `k` into `out`; returns the new metadata files. */
  private def run(spark: SparkSession, k: Int, out: String): Seq[String] = {
    val before = listParquet(s"$out/metadata")
    val beforeImg = listParquet(s"$out/images")
    val work = Trace.span("build") {
      val state = Incremental.readState(spark, s"$out/metadata", keys).select(keys.map(col): _*)
      val fresh = Trace.span("foto.newwork") {
        FotoPipeline.newWork(longForm(spark.read.parquet(export(k))), state,
          FotoFixture.slotDim(spark))
      }
      FotoPipeline.processImages(
        fresh.join(spark.read.parquet(s"$corpus/blobs"), Seq("link_foto")), "content")
    }
    Trace.span("exec") {
      Trace.span("foto.write") {
        FotoPipeline.writeOutputs(work, s"$out/images", s"$out/metadata")
      }
    }
    val added = (listParquet(s"$out/metadata") -- before).toSeq
    if (Trace.enabled) {
      val newFiles = added ++ (listParquet(s"$out/images") -- beforeImg)
      filesWritten += ((newFiles.size.toLong, newFiles.map(f => new File(f).length).sum))
    }
    added
  }

  private def listParquet(dir: String): Set[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).map(_.getPath).filter(_.endsWith(".parquet")).toSet
  }

  /** One untimed backfill into scratch output, so the timed cycle runs
    * mostly compiled code rather than paying the JIT for it. */
  def warmup(spark: SparkSession): Unit = {
    val out = new File(s"$work/foto_warmup")
    run(spark, 0, out.getPath)
    Main.deleteDir(out)
  }

  def next(spark: SparkSession): Op = {
    val out = s"$work/foto_out/$cycle"
    if (stage == 0) Main.deleteDir(new File(out))
    val k = math.min(stage, weeks)
    val expected = if (stage == 0) submitted(0) else if (stage > weeks) 0L else submitted(k) - submitted(k - 1)
    if (Trace.enabled && stage >= 1 && stage <= weeks) newworkProbe(spark, k, out)
    if (Trace.enabled && stage == 0) backfillReq = Trace.currentRequest
    val (files, s) = Main.timed(run(spark, k, out))
    done += Done(cycle, stage, files, expected)
    if (Trace.enabled && stage == 0) backfillS += s
    val kind = if (stage == 0) "backfill" else if (stage > weeks) "rerun" else "week"
    stage += 1
    if (stage > weeks + 1) { stage = 0; cycle += 1 }
    Op(kind, expected, s)
  }

  override def atBoundary: Boolean = stage == 0

  /** Traced runs only: the Incremental anti-join executed on its own. */
  private def newworkProbe(spark: SparkSession, k: Int, out: String): Unit = {
    val state = Incremental.readState(spark, s"$out/metadata", keys).select(keys.map(col): _*)
    val (_, s) = Main.timed(FotoPipeline.newWork(longForm(spark.read.parquet(export(k))),
      state, FotoFixture.slotDim(spark)).count())
    newworkS += s
  }

  /** Every run added the rows its export's delta holds (the re-run none),
    * each cycle's metadata holds one row per distinct photo submitted, and
    * the last cycle's images pass FotoFixture's golden contract. */
  def check(spark: SparkSession): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = bad.synchronized { bad += msg }
    def cycleCheck(c: Int, ds: Seq[Done]): Unit = {
      val meta = spark.read.parquet(s"$work/foto_out/$c/metadata")
      val rows = meta.select(input_file_name().as("f")).groupBy("f").count().collect()
        .map(r => new File(new java.net.URI(r.getString(0))).getPath -> r.getLong(1)).toMap
      ds.foreach { d =>
        val got = d.metaFiles.map(f => rows.getOrElse(new File(f).getPath, 0L)).sum
        if (got != d.expected) fail(s"foto cycle $c stage ${d.stage}: added $got rows, expected ${d.expected}")
      }
      val total = rows.values.sum
      val distinct = meta.select(keys.map(col): _*).distinct().count()
      val want = submitted(math.min(ds.map(_.stage).max, weeks))
      if (total != want || distinct != want)
        fail(s"foto cycle $c: metadata has $total rows ($distinct distinct), expected $want")
    }
    def goldenCheck(): Unit = {
      val (violations, checked) = FotoFixture.checkGolden(spark, s"$work/foto_out/${done.map(_.cycle).max}")
      if (violations != 0 || checked == 0) fail(s"foto golden: $violations violations in $checked images")
    }
    Main.concurrently((() => goldenCheck()) +:
      done.toSeq.groupBy(_.cycle).toSeq.map { case (c, ds) => () => cycleCheck(c, ds) })
    bad.toSeq
  }

  override def layers(spark: SparkSession, spans: Seq[Trace.Span],
      own: Map[Int, Trace.Counters]): Map[String, Double] = {
    val weekly = done.filter(d => d.traced && d.stage >= 1 && d.stage <= weeks)
    val exportRows = weekly.map(d => submitted(d.stage).toDouble).toSeq
    val deltaRows = weekly.map(_.expected.toDouble).toSeq
    val m = mutable.LinkedHashMap[String, Double]()
    m("foto.export_rows") = Main.median(exportRows)
    m("foto.delta_rows") = Main.median(deltaRows)
    m("foto.delta_ratio") = if (exportRows.sum > 0) deltaRows.sum / exportRows.sum else 0.0
    m("foto.newwork_s") = Main.median(newworkS.toSeq)
    m ++= Layers.named(spans, own, "foto.write", "foto.write")
    m("foto.files_written") = Main.median(filesWritten.map(_._1.toDouble).toSeq)
    m("foto.mb_written") = Main.median(filesWritten.map(_._2 / 1048576.0).toSeq)
    val io = imageOps(spark)
    m ++= io
    // the backfill against its own ImageOps work: the per-image call
    // times of the sample, times the images the backfill processed
    val backfillCpuS = spans.filter(s => s.req == backfillReq && s.parent == 0)
      .map(s => Trace.inclusive(spans, own, s.id).cpuNs).sum / 1e9
    m("foto.backfill_s") = Main.median(backfillS.toSeq)
    m("foto.backfill.cpu_s") = backfillCpuS
    m("imageops.backfill_cpu_s") = submitted(0) *
      (io("imageops.decode_ms") + io("imageops.resize_ms") + io("imageops.encode_ms")) / 1000
    m.toMap
  }

  /** Per-image ImageOps calls in the client thread, over a seeded
    * sample of the corpus blobs (median ms per call; MB summed). */
  private def imageOps(spark: SparkSession): Map[String, Double] = {
    val n = if (smoke) 4 else 16
    val blobs = spark.read.parquet(s"$corpus/blobs")
      .orderBy(xxhash64(col("link_foto"), lit(seed))).limit(n)
      .collect().map(_.getAs[Array[Byte]]("content"))
    val dec, res, enc = mutable.ArrayBuffer.empty[Double]
    var mbOut = 0.0
    blobs.foreach { b =>
      val (im, d) = Main.timed(ImageOps.decode(b).get)
      val (small, r) = Main.timed(ImageOps.boundedResize(im, ImageOps.DefaultMaxDim))
      val (bytes, e) = Main.timed(ImageOps.encodeJpeg(small, ImageOps.DefaultQuality))
      dec += d * 1000; res += r * 1000; enc += e * 1000
      mbOut += bytes.length / 1048576.0
    }
    Map("imageops.decode_ms" -> Main.median(dec.toSeq),
      "imageops.resize_ms" -> Main.median(res.toSeq),
      "imageops.encode_ms" -> Main.median(enc.toSeq),
      "imageops.mb_in" -> blobs.map(_.length).sum / 1048576.0,
      "imageops.mb_out" -> mbOut)
  }
}

object FotoWeekly {
  /** A completed pipeline run: the metadata files it wrote and the rows it should have added. */
  final case class Done(cycle: Int, stage: Int, metaFiles: Seq[String], expected: Long,
      traced: Boolean = Trace.enabled)
}

package graft.pipeline

import java.awt.Color
import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.ImageOps
import graft.sources.ParquetRead

/** Deterministic synthetic photo corpus for benching the reference's
  * LITERAL workload (`test.py`: forms export → unpivot → dedup →
  * decode/resize/encode → partitioned write + metadata), which until
  * r15 was spec-only — nothing timed it (VERDICT r14 item 4).
  *
  * Layout under `dir`:
  *  - `wide/`: the forms-export shape — one row per submission with
  *    TWO photo slots (`foto_1/deskripsi_1`, `foto_2/deskripsi_2`),
  *    every 7th row's slot 2 null (exercises the null-slot filter),
  *    URLs carrying a space (exercises filename normalization).
  *  - `blobs/`: `(link_foto, content)` — the fetched bytes the
  *    reference downloads per URL, here synthesized: image `i` is a
  *    real JPEG of dims `dims(i)` (spread 400-2199 × 300-1499, so a
  *    majority resize and a minority pass through untouched).
  *
  * Everything is a pure function of the image id, so the golden
  * contract (SURVEY §5.2) is CHECKABLE: expected output dims replay
  * with the reference's truncation arithmetic from the id alone.
  */
object FotoFixture {

  /** Bump to invalidate cached corpora when the generator changes. */
  val Version = "foto-fixture-v1"

  def dims(i: Long): (Int, Int) =
    ((400 + i * 37 % 1800).toInt, (300 + i * 53 % 1200).toInt)

  /** One real JPEG: solid per-id color + one white block (enough
    * structure that JPEG compression does real work; Graphics2D fills,
    * never per-pixel loops — 50k-image corpora generate in seconds). */
  def makeJpeg(i: Long): Array[Byte] = {
    val (w, h) = dims(i)
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = im.createGraphics()
    try {
      g.setColor(new Color((i * 7 % 255).toInt, (i * 13 % 255).toInt, (i * 29 % 255).toInt))
      g.fillRect(0, 0, w, h)
      g.setColor(Color.WHITE)
      g.fillRect((i % w).toInt / 2, (i % h).toInt / 2,
        math.max(2, w / 10), math.max(2, h / 10))
    } finally g.dispose()
    ImageOps.encodeJpeg(im, 0.9f)
  }

  private def url(id: org.apache.spark.sql.Column) =
    concat(lit("https://forms.example.com/u/img "), id, lit(".jpg"))

  /** Image id `2r+1` (slot 2 of row r) is absent when r % 7 == 0. */
  private def presentFilter = !(pmod(col("id"), lit(2)) === 1 &&
    pmod((col("id") - 1) / 2, lit(7)) === 0)

  /** Generate the corpus (both tables) for `nImages` ids; the caller
    * owns caching/markers. Image synthesis is distributed (one
    * executor-local JPEG encode per id — the same kernel the pipeline
    * itself uses). */
  def generate(spark: SparkSession, dir: String, nImages: Int): Unit = {
    val mk = udf((i: Long) => makeJpeg(i))
    val par = spark.sparkContext.defaultParallelism
    val half = (nImages + 1) / 2
    spark.range(half).repartition(par)
      .select(
        concat(lit("P"), pmod(col("id"), lit(13))).as("kode_proyek"),
        pmod(col("id"), lit(10)).cast("string").as("minggu"),
        url(col("id") * 2).as("foto_1"),
        concat(lit("site photo "), col("id") * 2).as("deskripsi_1"),
        when(pmod(col("id"), lit(7)) === 0, lit(null).cast("string"))
          .otherwise(url(col("id") * 2 + 1)).as("foto_2"),
        concat(lit("progress photo "), col("id") * 2 + 1).as("deskripsi_2"))
      .write.mode("overwrite").parquet(s"$dir/wide")
    spark.range(nImages).repartition(par)
      .filter(presentFilter)
      .select(url(col("id")).as("link_foto"), mk(col("id")).as("content"))
      .write.mode("overwrite").parquet(s"$dir/blobs")
  }

  /** The 2-slot folder dimension (the reference's slot→folder xlsx). */
  def slotDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "foto_mingguan"), (2, "progress")).toDF("slot", "folder")
  }

  /** Run the WHOLE pipeline over a generated corpus into `outDir`
    * (fresh state → everything is new work): unpivot → normalize →
    * anti-join empty state → broadcast dim → blob join →
    * decode/resize/encode → partitioned sink + metadata append.
    * Returns the metadata row count, read back from the written
    * output ([[FotoPipeline.writeOutputs]] evaluates the pipeline once
    * and writes both sinks from that one snapshot). */
  def runPipeline(spark: SparkSession, corpusDir: String, outDir: String): Long = {
    val wide = ParquetRead(spark, s"$corpusDir/wide")
    val blobs = ParquetRead(spark, s"$corpusDir/blobs")
    val emptyState = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("kode_proyek", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("minggu", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("nama_file", org.apache.spark.sql.types.StringType))))
    val long = FotoPipeline.unpivotSlots(wide,
      Seq("kode_proyek", "minggu"), FotoPipeline.slotPairs(2))
    val work = FotoPipeline.newWork(long, emptyState, slotDim(spark))
      .join(blobs, Seq("link_foto"))
    val processed = FotoPipeline.processImages(work, "content")
    FotoPipeline.writeOutputs(processed, s"$outDir/images", s"$outDir/metadata")
    ParquetRead(spark, s"$outDir/metadata").count()
  }

  /** SURVEY §5.2 golden contract over a pipeline run's output: every
    * image re-decodes, its dims equal the reference's truncation
    * arithmetic replayed from the id (scale = maxDim/max(w,h) only when
    * < 1, maxDim = [[ImageOps.DefaultMaxDim]]; `int()` truncation), and
    * each image key `(kode_proyek, minggu, nama_file)` is stored once —
    * the reference overwrites by path, so every extra copy of a key is a
    * violation (a key violates with its failing copies or its extra
    * copies, whichever are more). Returns the number of VIOLATING rows
    * (0 = green) and the row count checked, from one job. */
  def checkGolden(spark: SparkSession, outDir: String): (Long, Long) = {
    val maxDim = ImageOps.DefaultMaxDim
    val outDims = udf((bytes: Array[Byte]) =>
      ImageOps.decodeDims(bytes).map { case (w, h) => Array(w, h) }.orNull)
    val imgs = ParquetRead(spark, s"$outDir/images")
      .withColumn("img_id",
        regexp_extract(col("nama_file"), "img_(\\d+)\\.jpg", 1).cast("long"))
      .withColumn("od", outDims(col("compressed")))
    val checked = imgs
      .withColumn("in_w", (lit(400) + col("img_id") * 37 % 1800).cast("int"))
      .withColumn("in_h", (lit(300) + col("img_id") * 53 % 1200).cast("int"))
      .withColumn("mx", greatest(col("in_w"), col("in_h")))
      // replay boundedResize's EXACT double-op order: scale is computed
      // FIRST (maxDim / mx), THEN multiplied — (w * (maxDim / mx)) and
      // (w * maxDim / mx) can truncate differently by 1 ulp near
      // integer boundaries (the r13 guardedCeil lesson)
      .withColumn("__scale", lit(maxDim.toDouble) / col("mx"))
      .withColumn("exp_w", when(col("mx") <= maxDim, col("in_w"))
        .otherwise(greatest(floor(col("in_w") * col("__scale")), lit(1)).cast("int")))
      .withColumn("exp_h", when(col("mx") <= maxDim, col("in_h"))
        .otherwise(greatest(floor(col("in_h") * col("__scale")), lit(1)).cast("int")))
    val bad = col("od").isNull || col("img_id").isNull ||
      col("od")(0) =!= col("exp_w") || col("od")(1) =!= col("exp_h") ||
      col("od")(0) > maxDim || col("od")(1) > maxDim
    val r = checked.groupBy(col("kode_proyek"), col("minggu"), col("nama_file"))
      .agg(count(lit(1)).as("n"), count(when(bad, 1)).as("bad"))
      .agg(coalesce(sum(greatest(col("bad"), col("n") - 1)), lit(0L)),
        coalesce(sum(col("n")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}

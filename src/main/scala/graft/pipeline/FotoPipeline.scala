package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.multimodal.ImageOps
import graft.operators.Incremental
import graft.sources.ParquetRead

/** Spark-first re-expression of the reference's v2 pipeline
  * (`/root/reference/test.py` — Excel-driven incremental photo ETL):
  *
  *   forms export (wide, 8 photo-slot column pairs)
  *     → unpivot to long                         (test.py:115-137)
  *     → null-slot filter                        (test.py:136-137)
  *     → normalize names/keys                    (test.py:129-130,139-140)
  *     → anti-join vs processed-state            (test.py:103-107,142-146)
  *     → broadcast slot→folder dim lookup        (test.py:23-32,148-151)
  *     → image decode/resize/encode              (test.py:44-59)
  *     → partitioned sink + metadata append      (test.py:172-201)
  *
  * Every stage is a declarative DataFrame op (Catalyst pushes the null
  * filter below the unpivot, broadcast-joins the 8-row dim, and keeps
  * everything except the image UDF in whole-stage codegen). The pipeline
  * is one shuffle-free DAG when the state side is broadcastable, and it
  * is evaluated once per run: [[writeOutputs]] snapshots the sink
  * projection and feeds both writes from it.
  */
object FotoPipeline {

  /** The reference's 8 photo slots: (photo URL column, description column). */
  def slotPairs(n: Int): Seq[(String, String)] =
    (1 to n).map(i => (s"foto_$i", s"deskripsi_$i"))

  /** Wide → long: one row per non-null photo slot, keeping the composite
    * business key. Uses `stack`-style unpivot over struct pairs so URL and
    * description travel together.
    */
  def unpivotSlots(wide: DataFrame, keyCols: Seq[String], slots: Seq[(String, String)]): DataFrame = {
    val pairs = slots.zipWithIndex.map { case ((u, d), i) =>
      struct(lit(i + 1).as("slot"), col(u).as("link_foto"), coalesce(col(d), lit("")).as("deskripsi_foto"))
    }
    wide.select(keyCols.map(col) :+ explode(array(pairs: _*)).as("s"): _*)
      .select(keyCols.map(col) :+ col("s.slot") :+ col("s.link_foto") :+ col("s.deskripsi_foto"): _*)
      .filter(col("link_foto").isNotNull)
  }

  /** Reference name normalization (`test.py:139-140`): URL-decode, take
    * the path basename, spaces → underscores.
    */
  def normalizeFilename(url: Column): Column =
    regexp_replace(element_at(split(url_decode(url), "/"), -1), " ", "_")

  /** `minggu` normalization (`test.py:130`): string-cast + underscore. */
  def normalizeKeyPart(c: Column): Column = regexp_replace(c.cast("string"), " ", "_")

  /** Full delta computation: long-form rows not yet present in state,
    * joined against the slot→folder dimension (unmatched slots become
    * error rows rather than dropped — reference behavior, test.py:148-151).
    */
  def newWork(longRows: DataFrame, state: DataFrame, slotDim: DataFrame): DataFrame = {
    val keyed = longRows
      .withColumn("nama_file", normalizeFilename(col("link_foto")))
      .withColumn("minggu", normalizeKeyPart(col("minggu")))
      .withColumn("kode_proyek", col("kode_proyek").cast("string"))
    val fresh = Incremental.newRows(keyed, state, Seq("kode_proyek", "minggu", "nama_file"))
    fresh.join(broadcast(slotDim), Seq("slot"), "left")
      .withColumn("error", when(col("folder").isNull, lit("unknown_slot")))
  }

  /** Image stage + metadata projection: the reference's 6-column output
    * record (`test.py:186-193`) with the compressed payload alongside,
    * compressed at [[ImageOps.DefaultMaxDim]] and [[ImageOps.DefaultQuality]].
    */
  def processImages(work: DataFrame, contentCol: String): DataFrame = {
    val processed = ImageOps.withImageColumns(work, contentCol)
    processed.withColumn("size_gambar_kb", ImageOps.sizeKb(col("compressed")))
      .withColumn("link_foto_out",
        concat_ws("/", col("kode_proyek"), col("minggu"), col("nama_file")))
  }

  /** Partitioned sink (`test.py:172-173` hive-style layout) + metadata
    * append (`test.py:197-201`). Partition pruning for downstream readers
    * comes free from partitionBy.
    *
    * The pipeline runs ONCE: the union of both sinks' columns is
    * snapshotted with an eager `localCheckpoint`, and both writes read
    * that snapshot — two writes straight off `processed` would each
    * re-run the export scan, the state anti-join, the blob join and the
    * image decode/resize/encode. localCheckpoint over persist() for the
    * reason `Similarity.jaccardSimilarityJoin` records: the columnar
    * cache encode costs more cpu than the checkpoint's row snapshot.
    * Lifetime: the snapshot's blocks are not referenced once this
    * returns and are reclaimed by the ContextCleaner.
    *
    * Metadata is the incremental state, so it lands last: a run that
    * dies between the writes re-processes its delta next time. Its
    * images are then already in `imagesDir`, which a crash leaves with
    * more rows than `metadataDir` (both counts from parquet footers, no
    * job). In that case only the images whose key is not yet in
    * `imagesDir` are appended — the reference's overwrite-by-path upload
    * (`test.py:70-81`) stores each key once the same way. Keys compare
    * as the strings the sink writes: the partition values are read back
    * as strings, not type-inferred. After a clean run the counts are
    * equal and both writes append as they are.
    */
  def writeOutputs(processed: DataFrame, imagesDir: String, metadataDir: String): Unit = {
    val spark = processed.sparkSession
    val sinkRows = processed
      .select(col("kode_proyek"), col("minggu"), col("nama_file"), col("compressed"),
        col("link_foto_out"), col("deskripsi_foto"), col("size_gambar_kb"))
      .localCheckpoint(true)
    val images = sinkRows
      .select(col("kode_proyek"), col("minggu"), col("nama_file"), col("compressed"))
    def rows(dir: String) = ParquetRead.rowCount(spark, ParquetRead.dataFiles(spark, dir))
    val landed = rows(imagesDir)
    val fresh =
      if (landed == 0 || landed <= rows(metadataDir)) images
      else images.join(
        spark.read.schema("kode_proyek string, minggu string, nama_file string")
          .parquet(imagesDir),
        Seq("kode_proyek", "minggu", "nama_file"), "left_anti")
    fresh.write.mode("append").partitionBy("kode_proyek", "minggu").parquet(imagesDir)
    sinkRows
      .select(col("kode_proyek"), col("minggu"), col("link_foto_out").as("link_foto"),
        col("deskripsi_foto"), col("nama_file"), col("size_gambar_kb"))
      .write.mode("append").parquet(metadataDir)
  }
}

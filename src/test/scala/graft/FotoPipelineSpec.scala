package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.Files
import javax.imageio.ImageIO

import org.apache.spark.sql.functions._
import graft.pipeline.{FotoFixture, FotoPipeline}
import graft.sources.{IdempotentBlobSink, ParquetRead}

class FotoPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def jpegBytes(w: Int, h: Int): Array[Byte] = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(im, "jpeg", bos)
    bos.toByteArray
  }

  test("unpivot slots: wide form → long rows, null slots dropped, missing desc defaults empty") {
    val wide = Seq(
      ("P1", "7", "http://x/a%20b.jpg", "desc a", "http://x/c.jpg", null: String),
      ("P2", "9", null: String, null: String, "http://x/d.jpg", "desc d"))
      .toDF("kode_proyek", "minggu", "foto_1", "deskripsi_1", "foto_2", "deskripsi_2")
    val long = FotoPipeline.unpivotSlots(wide, Seq("kode_proyek", "minggu"), FotoPipeline.slotPairs(2))
    val rows = long.orderBy("kode_proyek", "slot").collect()
    assert(rows.length == 3)
    assert(rows(1).getAs[String]("deskripsi_foto") == "") // null desc → ""
  }

  test("filename normalization: url-decode, basename, underscores") {
    val r = Seq("http://host/path/Foto%20Satu%20x.jpg").toDF("u")
      .select(FotoPipeline.normalizeFilename(col("u"))).as[String].head()
    assert(r == "Foto_Satu_x.jpg")
  }

  test("xlsx front door: forms export read natively feeds the same unpivot → work chain") {
    // the reference's literal entry point (`pd.read_excel(EXCEL_FILE)`,
    // test.py:113): a Forms export in actual xlsx form, read by the
    // native source, flows through the same pipeline with no special
    // casing — proving the engine covers the reference end to end from
    // its real input format, not just from pre-converted parquet
    // MULTI-FILE export (one workbook per submission batch, equal
    // headers): the read unions the directory, one task per workbook
    val tmp = Files.createTempDirectory("foto_xlsx").toString
    val cols = Seq("kode_proyek", "minggu", "foto_1", "deskripsi_1", "foto_2", "deskripsi_2")
    graft.sources.Xlsx.write(
      Seq(("P One", "7", "http://x/Foto%20a.jpg", "pondasi", "http://x/b.jpg", "atap"))
        .toDF(cols: _*), s"$tmp/forms_export_1.xlsx")
    graft.sources.Xlsx.write(
      Seq(("P Two", "9", "http://x/c.jpg", "dinding", null: String, null: String))
        .toDF(cols: _*), s"$tmp/forms_export_2.xlsx")
    // Xlsx.read returns a LAZY plan (each action re-parses every workbook:
    // zip + StAX, CPU-bound) — this frame feeds several downstream actions,
    // so persist per the source's multi-action cache contract
    val wide = graft.sources.Xlsx.read(spark, tmp).persist()
    val long = FotoPipeline.unpivotSlots(wide, Seq("kode_proyek", "minggu"), FotoPipeline.slotPairs(2))
    val state = Seq.empty[(String, String, String)].toDF("kode_proyek", "minggu", "nama_file")
    val dim = Seq((1, "Foto Pertama"), (2, "Foto Kedua")).toDF("slot", "folder")
    val work = FotoPipeline.newWork(long, state, dim)
    val rows = work.select("kode_proyek", "minggu", "nama_file").collect()
    assert(rows.length == 3, s"two slots for P One + one for P Two: ${rows.toSeq}")
    assert(work.filter(col("nama_file") === "Foto_a.jpg").count() == 1,
      "url-decode + underscore normalization applied to the xlsx-read url")
    // kode_proyek passes through raw (normalization happens at path build);
    // minggu IS key-normalized — both exactly as from a parquet read
    assert(work.select("kode_proyek").distinct().as[String].collect().toSet ==
      Set("P One", "P Two"))
    assert(work.select("minggu").distinct().as[String].collect().toSet == Set("7", "9"))
  }

  test("end-to-end delta pipeline: normalize → anti-join → dim join → image → sinks; rerun no-op") {
    val tmp = Files.createTempDirectory("foto").toString
    val wide = Seq(("KDJMI PROV", "minggu 7", "http://x/a.jpg", "pondasi", "http://x/b.jpg", "atap"))
      .toDF("kode_proyek", "minggu", "foto_1", "deskripsi_1", "foto_2", "deskripsi_2")
    val long = FotoPipeline.unpivotSlots(wide, Seq("kode_proyek", "minggu"), FotoPipeline.slotPairs(2))
    val state = Seq.empty[(String, String, String)].toDF("kode_proyek", "minggu", "nama_file")
    val dim = Seq((1, "Foto Pertama"), (2, "Foto Kedua")).toDF("slot", "folder")

    val work = FotoPipeline.newWork(long, state, dim)
    assert(work.count() == 2)
    assert(work.filter(col("error").isNotNull).count() == 0)
    assert(work.select("minggu").distinct().as[String].head() == "minggu_7")

    val withBytes = work.withColumn("content", lit(jpegBytes(2048, 1024)))
    val processed = FotoPipeline.processImages(withBytes, "content")
    FotoPipeline.writeOutputs(processed, s"$tmp/images", s"$tmp/meta")

    val meta = spark.read.parquet(s"$tmp/meta")
    assert(meta.columns.sorted.toSeq ==
      Seq("deskripsi_foto", "kode_proyek", "link_foto", "minggu", "nama_file", "size_gambar_kb"))
    assert(meta.count() == 2)

    // partitioned layout {kode_proyek}/{minggu}
    val imgDirs = new java.io.File(s"$tmp/images").listFiles().filter(_.isDirectory).map(_.getName)
    assert(imgDirs.exists(_.startsWith("kode_proyek=")))

    // rerun with updated state → zero new work (reference invariant test.py:203-204)
    val state2 = state.unionByName(meta.select("kode_proyek", "minggu", "nama_file"))
    assert(FotoPipeline.newWork(long, state2, dim).count() == 0)
  }

  test("writeOutputs evaluates the image stage once for both sinks") {
    val tmp = Files.createTempDirectory("foto_once").toString
    val wide = Seq(
      ("P1", "minggu 7", "http://x/a.jpg", "pondasi", "http://x/b.jpg", "atap"),
      ("P2", "minggu 8", "http://x/c.jpg", "dinding", null: String, null: String))
      .toDF("kode_proyek", "minggu", "foto_1", "deskripsi_1", "foto_2", "deskripsi_2")
    val long = FotoPipeline.unpivotSlots(wide, Seq("kode_proyek", "minggu"), FotoPipeline.slotPairs(2))
    val state = Seq.empty[(String, String, String)].toDF("kode_proyek", "minggu", "nama_file")
    val dim = Seq((1, "Foto Pertama"), (2, "Foto Kedua")).toDF("slot", "folder")
    // an identity UDF upstream of the image stage counts how many times
    // each row is pulled through it; nondeterministic so the optimizer
    // neither duplicates nor drops it
    val evaluated = spark.sparkContext.longAccumulator("foto_content_evaluations")
    val counted = udf { (b: Array[Byte]) => evaluated.add(1); b }.asNondeterministic()
    val work = FotoPipeline.newWork(long, state, dim)
      .withColumn("content", counted(lit(jpegBytes(64, 48))))
    FotoPipeline.writeOutputs(FotoPipeline.processImages(work, "content"),
      s"$tmp/images", s"$tmp/meta")

    val meta = spark.read.parquet(s"$tmp/meta")
    assert(meta.columns.sorted.toSeq ==
      Seq("deskripsi_foto", "kode_proyek", "link_foto", "minggu", "nama_file", "size_gambar_kb"))
    val written = meta.count()
    assert(written == 3)
    assert(spark.read.parquet(s"$tmp/images").count() == written)
    assert(evaluated.value == written,
      s"the image stage ran ${evaluated.value} times for $written rows written")
    val imgDirs = new java.io.File(s"$tmp/images").listFiles().filter(_.isDirectory).map(_.getName)
    assert(imgDirs.toSet == Set("kode_proyek=P1", "kode_proyek=P2"))
  }

  test("fixture corpus: runPipeline output passes the golden contract") {
    val tmp = Files.createTempDirectory("foto_golden").toString
    FotoFixture.generate(spark, s"$tmp/corpus", 8)
    // 8 image ids over 4 submissions; row 0's slot 2 (image 1) is absent
    val rows = FotoFixture.runPipeline(spark, s"$tmp/corpus", s"$tmp/out")
    assert(rows == 7)
    val (violations, checked) = FotoFixture.checkGolden(spark, s"$tmp/out")
    assert(checked == rows)
    assert(violations == 0, s"$violations of $checked images break the golden contract")
  }

  test("golden contract: a duplicated image key is a violation") {
    val tmp = Files.createTempDirectory("foto_dup").toString
    FotoFixture.generate(spark, s"$tmp/corpus", 8)
    FotoFixture.runPipeline(spark, s"$tmp/corpus", s"$tmp/out")
    // a retried sink that lands one image row twice
    val images = ParquetRead(spark, s"$tmp/out/images")
    spark.createDataFrame(spark.sparkContext.parallelize(images.limit(1).collect().toSeq),
        images.schema)
      .write.mode("append").partitionBy("kode_proyek", "minggu").parquet(s"$tmp/out/images")
    val (violations, checked) = FotoFixture.checkGolden(spark, s"$tmp/out")
    assert(checked == 8)
    assert(violations == 1, s"one extra copy of a key must be one violation, got $violations")
  }

  test("a rerun after a crash between the image and metadata writes stores each image once") {
    val tmp = Files.createTempDirectory("foto_crash").toString
    FotoFixture.generate(spark, s"$tmp/corpus", 8)
    // a regular file where metadata/ goes: the images land, then the
    // metadata write fails
    val obstacle = new java.io.File(s"$tmp/out/metadata")
    assert(obstacle.getParentFile.mkdirs())
    Files.write(obstacle.toPath, Array[Byte](1))
    intercept[Exception](FotoFixture.runPipeline(spark, s"$tmp/corpus", s"$tmp/out"))
    assert(ParquetRead(spark, s"$tmp/out/images").count() == 7)
    assert(obstacle.delete())
    // the state is still empty, so the rerun's delta is all 7 images again
    assert(FotoFixture.runPipeline(spark, s"$tmp/corpus", s"$tmp/out") == 7)
    val (violations, checked) = FotoFixture.checkGolden(spark, s"$tmp/out")
    assert(violations == 0, s"$violations of $checked images break the golden contract")
    assert(checked == 7, s"images/ holds $checked rows for 7 metadata rows")
  }

  test("raw binary tree sink writes the reference layout and overwrites idempotently") {
    val tmp = Files.createTempDirectory("btree").toString
    val df = Seq(
      ("P1", "7", "a.jpg", Array[Byte](1, 2)),
      ("P1", "9", "b.jpg", Array[Byte](3)),
      ("P2", "7", "c.jpg", Array[Byte](4)))
      .toDF("kode_proyek", "minggu", "nama_file", "content")
    graft.sources.BinaryTree.writeBinaryTree(df, tmp, Seq("kode_proyek", "minggu"), "nama_file", "content")
    assert(Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/P1/7/a.jpg")).toSeq == Seq[Byte](1, 2))
    assert(Files.exists(java.nio.file.Paths.get(s"$tmp/P2/7/c.jpg")))
    // rerun = overwrite, not failure (reference v2 upsert semantics)
    graft.sources.BinaryTree.writeBinaryTree(df, tmp, Seq("kode_proyek", "minggu"), "nama_file", "content")
    assert(Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/P1/9/b.jpg")).toSeq == Seq[Byte](3))
  }

  test("binary corpus scan: recursive glob filter + path-derived keys") {
    val tmp = Files.createTempDirectory("scan").toString
    val df = Seq(
      ("KDJMI", "7", "x.jpg", Array[Byte](1)),
      ("KDJMI", "7", "skip.txt", Array[Byte](2)),
      ("P2", "9", "y.PNG", Array[Byte](3)))
      .toDF("kode_proyek", "minggu", "nama_file", "content")
    graft.sources.BinaryTree.writeBinaryTree(df, tmp, Seq("kode_proyek", "minggu"), "nama_file", "content")
    val scanned = graft.sources.BinaryCorpus.withPathKeys(
      graft.sources.BinaryCorpus.scan(spark, tmp, Seq("jpg", "jpeg", "png", "PNG")))
    val rows = scanned.select("kode_proyek", "minggu", "nama_file", "length")
      .as[(String, String, String, Long)].collect().toSet
    assert(rows == Set(("KDJMI", "7", "x.jpg", 1L), ("P2", "9", "y.PNG", 1L)))
  }

  test("idempotent blob sink: upsert overwrites, errors become rows") {
    val store = new InMemoryStore
    val df = Seq(("p/a.jpg", Array[Byte](1)), ("p/b.jpg", Array[Byte](2)), ("FAIL/c.jpg", Array[Byte](3)))
      .toDF("path", "content")
    val r1 = IdempotentBlobSink.upload(df, "path", "content", () => new InMemoryStore)
    val rows = r1.collect()
    assert(rows.count(_.isNullAt(2)) == 2)
    assert(rows.filter(r => r.getString(0).startsWith("FAIL")).forall(!_.isNullAt(2)))
    // direct store-level upsert semantics
    assert(store.put("k", Array[Byte](1), None).isRight)
    val v = store.currentVersion("k")
    assert(v.isDefined)
    assert(store.put("k", Array[Byte](2), v).isRight)
    assert(store.currentVersion("k") != v)
  }

  test("writeBinaryTree rejects null and path-escaping segments loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("bintree").toString
    def attempt(kode: String, name: String) = intercept[org.apache.spark.SparkException] {
      graft.sources.BinaryTree.writeBinaryTree(
        Seq((kode, "w1", name, Array[Byte](1))).toDF("kode_proyek", "minggu", "nama_file", "content"),
        tmp, Seq("kode_proyek", "minggu"), "nama_file", "content")
    }
    // a null partition value must not silently become a "null/" directory
    assert(attempt(null, "a.jpg").getMessage.contains("null/empty path segment"))
    // '/' or '..' in a name must not escape the partition tree
    assert(attempt("p1", "../escape.jpg").getMessage.contains("unsafe path segment"))
    assert(attempt("p1", "a/b.jpg").getMessage.contains("unsafe path segment"))
  }
}

/** Hermetic BlobStore fake: versions are content hashes; paths starting
  * with FAIL error out (exercises the row-level error path).
  */
class InMemoryStore extends IdempotentBlobSink.BlobStore with Serializable {
  private val data = scala.collection.concurrent.TrieMap.empty[String, Array[Byte]]
  override def currentVersion(path: String): Option[String] =
    data.get(path).map(b => java.util.Arrays.hashCode(b).toString)
  override def put(path: String, bytes: Array[Byte], expectedVersion: Option[String]): Either[String, String] =
    if (path.startsWith("FAIL")) Left("simulated failure")
    else { data.put(path, bytes); Right(s"mem://$path") }
}

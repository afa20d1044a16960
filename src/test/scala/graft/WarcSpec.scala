package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Warc

/** WARC source (round 17): conformant-fixture round-trip, gzip-member
  * and plain layouts, HTTP splitting, loud failure on malformed bytes.
  */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def record(i: Long, text: String): (String, String, String, Array[Byte]) =
    ("response", s"http://example.org/doc/$i", "2026-08-16T00:00:00Z",
      Warc.httpResponse(s"<html><body><p>$text</p></body></html>"))

  test("round-trip: gz members and plain files read identically, HTTP split, non-HTTP raw") {
    val dir = Files.createTempDirectory("warc").toString
    val recs = Seq(
      record(1L, "hello world"),
      record(2L, "ünïcødé — em—dash"), // UTF-8 body survives byte-exactly
      record(3L, "third page"))
    // a warcinfo record (non-HTTP content type): payload must surface
    // raw, status null
    val info = ("warcinfo", "", "2026-08-16T00:00:00Z",
      "software: graft-fixture\r\n".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(dir, "a.warc.gz"),
      Warc.writeGz(Seq(info, recs(0), recs(1))))
    // plain (uncompressed) file: same parser, no gzip layer
    val plainRecs = Warc.writeGz(Seq(recs(2)))
    val plain = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(plainRecs)).readAllBytes()
    Files.write(java.nio.file.Paths.get(dir, "b.warc"), plain)

    val df = Warc.read(spark, dir).localCheckpoint(true)
    assert(df.count() == 4)
    val responses = df.filter(col("warc_type") === "response")
      .select(col("url"), col("http_status"), col("body").cast("string"))
      .as[(String, Int, String)].collect().sortBy(_._1).toSeq
    assert(responses.map(_._1) == Seq(
      "http://example.org/doc/1", "http://example.org/doc/2", "http://example.org/doc/3"))
    assert(responses.forall(_._2 == 200))
    assert(responses(1)._3 == "<html><body><p>ünïcødé — em—dash</p></body></html>",
      s"body must round-trip byte-exactly: ${responses(1)._3}")
    val infoRow = df.filter(col("warc_type") === "warcinfo")
      .select(col("http_status").isNull, col("body").cast("string")).head()
    assert(infoRow.getBoolean(0), "non-HTTP record must carry null status")
    assert(infoRow.getString(1) == "software: graft-fixture\r\n")
    // responses() is the curation projection
    val hs = Warc.responses(spark, dir).select(col("html")).as[String]
      .collect()
    assert(hs.length == 3 && hs.forall(_.startsWith("<html>")))
  }

  test("malformed mid-file bytes fail LOUDLY with the path, never truncate silently") {
    val dir = Files.createTempDirectory("warc_bad").toString
    val good = Warc.writeGz(Seq(record(1L, "fine")))
    val junk = Warc.writeGz(Seq(("response", "http://x", "2026-01-01T00:00:00Z",
      Warc.httpResponse("<p>x</p>")))).clone()
    // corrupt the version line inside the member: re-gzip garbage that
    // decompresses but is not a WARC record
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write("NOT-A-WARC line\r\n\r\n".getBytes("ISO-8859-1")); gz.finish()
    Files.write(java.nio.file.Paths.get(dir, "c.warc.gz"), good ++ bos.toByteArray)
    val e = intercept[org.apache.spark.SparkException] {
      Warc.read(spark, dir).count()
    }
    assert(e.getMessage != null)
    assert(junk.nonEmpty) // (clone used only to keep the fixture expression honest)
  }

  test("record order is pinned: rows surface in archive order, multi-record members decode") {
    val recs = (1L to 5L).map(i => record(i, s"page $i"))
    // members 1..3 record-per-member, then ONE member holding records 4+5
    // (records and gzip members are decoupled; both layouts must decode)
    val perMember = Warc.writeGz(recs.take(3))
    val twoInOne = {
      val plain = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(Warc.writeGz(recs.drop(3)))).readAllBytes()
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(plain); gz.close()
      bos.toByteArray
    }
    val got = Warc.parseAll(perMember ++ twoInOne).map(_.url).toList
    assert(got == (1L to 5L).map(i => s"http://example.org/doc/$i").toList,
      s"records must surface in archive order: $got")
  }

  test("parse is LAZY: take(1) never touches later members") {
    val good = Warc.writeGz(Seq(record(1L, "fine")))
    val bad = Warc.writeGz(Seq(record(2L, "doomed"))).clone()
    bad(0) = 0x00 // flipped magic byte in the SECOND member's header
    val bytes = good ++ bad
    // lazy: the first record parses without reaching the corrupt member
    val first = Warc.parseAll(bytes).take(1).toList
    assert(first.map(_.url) == List("http://example.org/doc/1"))
    // full consumption must hit it loudly
    val e = intercept[java.util.zip.ZipException] { Warc.parseAll(bytes).toList }
    assert(e.getMessage.contains("bad gzip member magic"), e.getMessage)
  }

  test("flipped member-header byte and truncated tail fail LOUDLY (no silent member drop)") {
    // the GZIPInputStream trap this source explicitly avoids: its
    // concatenation support swallows a malformed next-member header and
    // reports EOF, silently dropping every later record
    val good = Warc.writeGz(Seq(record(1L, "fine")))
    val second = Warc.writeGz(Seq(record(2L, "dropped?")))
    val flipped = second.clone(); flipped(1) = 0x00
    intercept[java.util.zip.ZipException] { Warc.parseAll(good ++ flipped).toList }
    // truncated tail: only the first 12 bytes of the second member
    val e2 = intercept[Exception] {
      Warc.parseAll(good ++ second.take(12)).toList
    }
    assert(e2.getMessage != null)
    // corrupted deflate payload mid-member: CRC/inflate must object
    val mangled = second.clone(); mangled(second.length / 2) = (mangled(second.length / 2) ^ 0x55).toByte
    intercept[Exception] { Warc.parseAll(good ++ mangled).toList }
    // and through the DataFrame API the task fails with the PATH
    val dir = Files.createTempDirectory("warc_flip").toString
    Files.write(java.nio.file.Paths.get(dir, "d.warc.gz"), good ++ flipped)
    val e3 = intercept[org.apache.spark.SparkException] { Warc.read(spark, dir).count() }
    assert(e3.getMessage.contains("d.warc.gz") ||
      Option(e3.getCause).exists(_.getMessage.contains("d.warc.gz")))
  }

  test("readWithCorrupt quarantines: good prefix kept, one _corrupt row per broken file") {
    val dir = Files.createTempDirectory("warc_quar").toString
    val good2 = Warc.writeGz(Seq(record(1L, "kept one"), record(2L, "kept two")))
    val truncated = Warc.writeGz(Seq(record(3L, "lost"))).take(12)
    Files.write(java.nio.file.Paths.get(dir, "broken.warc.gz"), good2 ++ truncated)
    Files.write(java.nio.file.Paths.get(dir, "clean.warc.gz"),
      Warc.writeGz(Seq(record(9L, "clean"))))
    // default read is still loud
    intercept[org.apache.spark.SparkException] { Warc.read(spark, dir).count() }
    val df = Warc.readWithCorrupt(spark, dir).localCheckpoint(true)
    val goodRows = df.filter(col("_corrupt").isNull)
    assert(goodRows.count() == 3, "both good records of the broken file + the clean file survive")
    assert(goodRows.select(col("url")).as[String].collect().sorted.toSeq ==
      Seq("http://example.org/doc/1", "http://example.org/doc/2", "http://example.org/doc/9"))
    val quar = df.filter(col("_corrupt").isNotNull)
      .select(col("path"), col("_corrupt"), col("warc_type").isNull).collect()
    assert(quar.length == 1 && quar(0).getString(0).contains("broken.warc.gz") &&
      quar(0).getBoolean(2), quar.mkString("; "))
    assert(quar(0).getString(1).nonEmpty)
    // the curation projection over the same read: 3 clean html rows +
    // exactly the one incident row (null html, error carried)
    val resp = Warc.readWithCorrupt(spark, dir)
      .where(col("_corrupt").isNotNull ||
        (col("warc_type") === "response" && col("body").isNotNull))
      .select(col("body").cast("string").as("html"), col("_corrupt"))
      .localCheckpoint(true)
    assert(resp.filter(col("_corrupt").isNull).count() == 3)
    val bad = resp.filter(col("_corrupt").isNotNull)
      .select(col("html").isNull, col("_corrupt")).collect()
    assert(bad.length == 1 && bad(0).getBoolean(0) &&
      bad(0).getString(1).nonEmpty)
  }

  test("quarantine RESYNC: records before AND after a damaged region survive, one row per region") {
    val dir = Files.createTempDirectory("warc_resync").toString
    def corrupted(i: Long): Array[Byte] = {
      // header intact, deflate bytes flipped: only the full member
      // verify (CRC32/ISIZE) can reject this — a magic-scan-only
      // resync would accept it and die again inside the damage
      val m = Warc.writeGz(Seq(record(i, "doomed"))).clone()
      var j = m.length / 2
      while (j < m.length / 2 + 4 && j < m.length - 9) {
        m(j) = (m(j) ^ 0xff).toByte; j += 1
      }
      m
    }
    // gz: TWO adjacent corrupt members = ONE contiguous damaged region
    val before = Warc.writeGz(Seq(record(1L, "before one"), record(2L, "before two")))
    val after = Warc.writeGz(Seq(record(3L, "after one"), record(4L, "after two")))
    Files.write(java.nio.file.Paths.get(dir, "gz.warc.gz"),
      before ++ corrupted(90L) ++ corrupted(91L) ++ after)
    // plain .warc: garbage bytes spliced between records resync to the
    // next WARC/ line
    def plainBytes(recs: Seq[(String, String, String, Array[Byte])]): Array[Byte] =
      new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(Warc.writeGz(recs))).readAllBytes()
    val garbage = "GARBAGE NOT A RECORD\r\nmore junk\r\n".getBytes("ISO-8859-1")
    Files.write(java.nio.file.Paths.get(dir, "p.warc"),
      plainBytes(Seq(record(5L, "plain before"))) ++ garbage ++
        plainBytes(Seq(record(6L, "plain after"))))

    // the loud default still fails on the first damage
    intercept[org.apache.spark.SparkException] { Warc.read(spark, dir).count() }
    val df = Warc.readWithCorrupt(spark, dir).localCheckpoint(true)
    val good = df.filter(col("_corrupt").isNull)
      .select(col("url")).as[String].collect().sorted.toSeq
    assert(good == (1L to 6L).map(i => s"http://example.org/doc/$i"),
      s"records on both sides of each damaged region must survive: $good")
    val quar = df.filter(col("_corrupt").isNotNull)
      .select(col("path")).as[String].collect()
    assert(quar.count(_.contains("gz.warc.gz")) == 1,
      s"one quarantine row per CONTIGUOUS damaged region: ${quar.toSeq}")
    assert(quar.count(_.contains("p.warc")) == 1, quar.mkString("; "))
    assert(quar.length == 2)
  }

  test("quarantine resync anchors at the failed RECORD's member: read-ahead never drops a good member's records") {
    // the adversarial class: a CRC-VALID member whose content is
    // garbage — with NO trailing newline, the doomed version-line read
    // crosses the member boundary and consumes part of the NEXT (good)
    // member before failing. A detection-point anchor would resync past
    // the good member; the record-start anchor must recover it whole.
    def gzOf(payload: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(payload.getBytes("ISO-8859-1")); gz.close()
      bos.toByteArray
    }
    val dir = Files.createTempDirectory("warc_readahead").toString
    Files.write(java.nio.file.Paths.get(dir, "a.warc.gz"),
      Warc.writeGz(Seq(record(1L, "one"), record(2L, "two"))) ++
        gzOf("XXGARBAGE-WITHOUT-ANY-NEWLINE") ++ // region 1: reads ahead
        Warc.writeGz(Seq(record(3L, "three"), record(4L, "four"))) ++
        gzOf("NOT-A-WARC line\r\nmore\r\n\r\n") ++ // region 2: newline-terminated
        Warc.writeGz(Seq(record(5L, "five"), record(6L, "six"))))
    val df = Warc.readWithCorrupt(spark, dir).localCheckpoint(true)
    val good = df.filter(col("_corrupt").isNull)
      .select(col("url")).as[String].collect().sorted.toSeq
    assert(good == (1L to 6L).map(i => s"http://example.org/doc/$i"),
      s"every record around both damaged regions must survive: $good")
    assert(df.filter(col("_corrupt").isNotNull).count() == 2,
      "exactly one quarantine row per damaged region")
  }

  test("splitHttp: header-less block surfaces whole, truncated header never hides bytes") {
    val (s1, b1) = Warc.splitHttp("no http header here".getBytes("UTF-8"))
    assert(s1.isEmpty && new String(b1, "UTF-8") == "no http header here")
    val (s2, b2) = Warc.splitHttp(
      "HTTP/1.1 404 Not Found\r\nX: y\r\n\r\nbody bytes".getBytes("ISO-8859-1"))
    assert(s2.contains(404) && new String(b2, "ISO-8859-1") == "body bytes")
  }
}

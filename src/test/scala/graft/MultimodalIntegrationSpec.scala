package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.functions._
import graft.multimodal.{AvOps, ImageOps}
import graft.operators.{Dedup, Similarity}

/** End-to-end multimodal path: raw image bytes → decoded feature
  * vectors → the engine's vector similarity operators. This is the
  * image-corpus near-dup/search story at full pipeline depth: binary
  * column in, ANN results out, nothing on the driver but the assertions.
  */
class MultimodalIntegrationSpec extends SparkSpec {
  import spark.implicits._

  private def shadeImage(r: Int, g: Int, b: Int, noise: Int, seed: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val im = new BufferedImage(32, 32, BufferedImage.TYPE_INT_RGB)
    (0 until 32).foreach { y =>
      (0 until 32).foreach { x =>
        def c(v: Int) = math.min(255, math.max(0, v + rnd.nextInt(2 * noise + 1) - noise))
        im.setRGB(x, y, new java.awt.Color(c(r), c(g), c(b)).getRGB)
      }
    }
    val bos = new ByteArrayOutputStream(); ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  test("image corpus near-dup via features: same-shade images pair up, cross-shade don't") {
    // two color families, 5 noisy variants each
    val rows = (0 until 5).map(i => (i.toLong, shadeImage(250, 60, 40, 6, i))) ++
      (0 until 5).map(i => (5L + i, shadeImage(30, 90, 230, 6, 100 + i)))
    val df = rows.toDF("id", "content")
      .withColumn("feat", ImageOps.imageFeatures(col("content")))
      .withColumn("family", (col("id") < 5).cast("int"))
    val pairs = Dedup.embeddingNearDuplicates(df, "id", "feat", "family", threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => (a < 5) == (b < 5) })

    // and top-k search from a red query lands on red neighbors
    val topk = Similarity.bruteForceCosineTopK(df, "id", "feat",
      df.filter(col("id") === 0), "id", "feat", k = 4)
      .select("neighbor_id", "rank").as[(Long, Int)].collect()
    assert(topk.filter(_._2 <= 4).map(_._1).count(_ < 5) == 4)
  }

  private def sineWav(freq: Double, amp: Double, sr: Int = 8000): Array[Byte] = {
    val n = (0.25 * sr).toInt
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = (amp * math.sin(2 * math.Pi * freq * i / sr) * 32767).toInt.toShort
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("audio corpus near-dup via band energies: same-pitch clips pair, cross-pitch don't") {
    // low-pitch family (band 0) vs high-pitch family (band 5); amplitude
    // and small frequency jitter vary WITHIN a family — cosine on the
    // band-energy vector is scale-invariant, so variants still match
    val rows = (0 until 4).map(i => (i.toLong, sineWav(435.0 + 3 * i, 0.3 + 0.1 * i))) ++
      (0 until 4).map(i => (4L + i, sineWav(2710.0 + 3 * i, 0.3 + 0.1 * i)))
    val df = rows.toDF("id", "content")
      .select(col("id"),
        AvOps.audioFeatures(col("content")).getField("band_energy")
          .cast("array<float>").as("feat"))
      .withColumn("blk", lit(0)) // one block: let cosine do the separating
    val pairs = Dedup.embeddingNearDuplicates(df, "id", "feat", "blk", threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => (a < 4) == (b < 4) },
      "no pair may bridge the two pitch families")
    // search from a low-pitch query returns the low-pitch family
    val topk = Similarity.bruteForceCosineTopK(df, "id", "feat",
      df.filter(col("id") === 0), "id", "feat", k = 3)
      .select("neighbor_id", "rank").as[(Long, Int)].collect()
    assert(topk.filter(_._2 <= 3).map(_._1).count(_ < 4) == 3)
  }

  test("video duplicate-clip detection: shared keyframes pair across videos") {
    import AvFixtures.{jpegFrame, mjpegAvi}
    // video 10 and video 11 share a red keyframe (the reused clip);
    // their other keyframes are unrelated colors
    val vids = Seq(
      AvOps.AvRecord(10L, "video", mjpegAvi(
        Seq(jpegFrame(0xe01010), jpegFrame(0x1010e0)), Seq(true, true))),
      AvOps.AvRecord(11L, "video", mjpegAvi(
        Seq(jpegFrame(0xe21412), jpegFrame(0x10e010)), Seq(true, true)))).toDS()
    val frames = AvOps.videoKeyFrames(vids)
      .map(f => (f.id * 100 + f.frame_idx, f.id, f.frame_bytes))
      .toDF("frame_key", "video_id", "bytes")
      .withColumn("feat", ImageOps.imageFeatures(col("bytes")))
      .withColumn("blk", lit(0))
    val pairs = Dedup.embeddingNearDuplicates(frames, "frame_key", "feat", "blk",
      threshold = 0.9999)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // the ONLY cross-video pair is the two red frames (frame 0 of each)
    val crossVideo = pairs.filter { case (a, b) => a / 100 != b / 100 }
    assert(crossVideo.nonEmpty, "the reused clip must be detected")
    assert(crossVideo.forall { case (a, b) =>
      Set(a, b) == Set(1000L, 1100L) }, s"unexpected cross-video pairs: ${crossVideo.toSeq}")
  }

  test("videoNearDuplicates: re-encoded clips match by distinct keyframes both sides; keep-one composes") {
    import graft.multimodal.AvWriter
    val rows = Seq(
      1L -> AvWriter.fixtureClip(11L, 0.9f),
      2L -> AvWriter.fixtureClip(11L, 0.45f), // re-encode of clip 1
      3L -> AvWriter.fixtureClip(99L, 0.9f), // unrelated clip
      4L -> "not an avi at all".getBytes("UTF-8") // undecodable: zero rows
    ).toDF("video_id", "content")
    val pairs = Dedup.videoNearDuplicates(rows, "video_id", "content")
    val got = pairs.select(col("id_a"), col("id_b"), col("n_matched"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(t => (t._1, t._2)) == Seq((1L, 2L)),
      s"exactly the re-encoded pair must report: $got")
    assert(got.head._3 >= 2, s"matched keyframes: ${got.head._3}")
    val kept = Dedup.keepOnePerCluster(rows, "video_id", pairs)
      .select(col("video_id")).as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L), s"keep-one survivors: $kept")
    // the TWO-SIDED distinct-frame count: a clip of one repeated frame
    // must not match a multi-frame clip that contains it once — the
    // static-logo-vs-slideshow guard (one matching frame on the
    // slideshow side, minMatches = 2 refused by the least())
    val logoFrame = ImageOps.encodeJpeg(
      graft.multimodal.ImageFixtures.blockImage(11L), 0.9f)
    val slideshow = AvWriter.fixtureClip(11L, 0.9f) // contains seed-11 frame 0
    val logo = AvWriter.mjpegAvi(Seq.fill(4)(logoFrame), Seq.fill(4)(true))
    val rows2 = Seq(5L -> slideshow, 6L -> logo).toDF("video_id", "content")
    assert(Dedup.videoNearDuplicates(rows2, "video_id", "content").isEmpty,
      "a repeated single frame must not match a slideshow (two-sided count)")

    // the per-frame recall contract this operator's aggregation rests
    // on, pinned over the fixture population: dHashCanonical's
    // re-encode drift is tiny for MOST seeds but CAN jump when the
    // re-encode flips the canonical orientation (the documented
    // min-switch caveat — measured: ~1% of the pinned seeds exceed the
    // join threshold). minMatches = 2 of 4 keyframes is what makes the
    // VIDEO-level match robust: a miss needs 3 of 4 frame seeds to
    // flip at once. Pin both measurements so a signature change that
    // widens the flip class is caught here, not in a driver run.
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val seeds = (0L until 5000L by 5L).toSeq
    def sig(s: Long, q: Float) = ImageOps.dHashCanonical(
      ImageOps.encodeJpeg(graft.multimodal.ImageFixtures.blockImage(s), q)).get
    val drifts = seeds.map(s => hamming(sig(s, 0.9f), sig(s, 0.45f)))
    info(s"canonical re-encode drift: mean=${drifts.sum.toDouble / drifts.size}, " +
      s"flips(>4)=${drifts.count(_ > 4)}/${drifts.size}")
    assert(drifts.count(_ > 4) <= 20,
      s"the canonical min-switch class widened: ${drifts.count(_ > 4)} flips")
    assert(drifts.count(_ <= 2).toDouble / drifts.size >= 0.97,
      "the non-flipped drift class must stay within the re-encode bound")
  }

  test("videoNearDuplicatesVsState: batch re-encodes flagged against stored signatures; flat frames excluded") {
    import graft.multimodal.AvWriter
    val state = Dedup.videoSignatures(
      Seq(1L -> AvWriter.fixtureClip(11L, 0.9f),
          3L -> AvWriter.fixtureClip(99L, 0.9f)).toDF("video_id", "content"),
      "video_id", "content")
    // ~12 bytes per keyframe: 2 clips x 4 keyframes
    assert(state.count() == 8)
    val batch = Seq(
      10L -> AvWriter.fixtureClip(11L, 0.45f), // re-encode of state 1
      11L -> AvWriter.fixtureClip(55L, 0.9f)   // fresh
    ).toDF("video_id", "content")
    val res = Dedup.videoNearDuplicatesVsState(batch, "video_id", "content", state)
      .select(col("video_id"), col("dup_of"))
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(res == Seq(10L -> Some(1L), 11L -> None), s"state matches: $res")
    // the degenerate FLAT-frame signature (black frames, intertitles —
    // dHash 0 on any flat content) is excluded from state AND batch:
    // two unrelated all-black clips must not match through it
    val blackImg = new java.awt.image.BufferedImage(
      64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val blackJpg = ImageOps.encodeJpeg(blackImg, 0.9f)
    val blackClip = AvWriter.mjpegAvi(Seq.fill(4)(blackJpg), Seq.fill(4)(true))
    val blackState = Dedup.videoSignatures(
      Seq(7L -> blackClip).toDF("video_id", "content"), "video_id", "content")
    assert(blackState.isEmpty, "flat frames contribute no state rows")
    val res2 = Dedup.videoNearDuplicatesVsState(
        Seq(8L -> blackClip).toDF("video_id", "content"),
        "video_id", "content",
        Dedup.videoSignatures(
          Seq(7L -> blackClip).toDF("video_id", "content"), "video_id", "content"))
      .select(col("dup_of")).as[Option[Long]].collect().toSeq
    assert(res2 == Seq(None),
      "unrelated flat clips must not match through the degenerate signature")
    // trim robustness is INHERENT (unlike the audio family's window
    // alignment): frame matches count regardless of index, so a copy
    // missing its first keyframe still clears the two-sided bar with
    // its remaining 3 frames
    val trimmed = AvWriter.mjpegAvi(
      (1 until 4).map(k => ImageOps.encodeJpeg(
        graft.multimodal.ImageFixtures.blockImage(11L + k * 1000003L), 0.45f)),
      Seq.fill(3)(true))
    val res3 = Dedup.videoNearDuplicatesVsState(
        Seq(12L -> trimmed).toDF("video_id", "content"),
        "video_id", "content", state)
      .select(col("video_id"), col("dup_of"))
      .as[(Long, Option[Long])].collect().toSeq
    assert(res3 == Seq(12L -> Some(1L)),
      s"a first-frame-trimmed re-encode must still flag to its source: $res3")
  }

  test("degenerate frame class is wider than flat: gradients hash to 0 and never pair") {
    import graft.multimodal.AvWriter
    // canonical = unsigned-min over 8 orientations, so ANY frame with a
    // monotone orientation is in the zero class — a horizontal gradient
    // (identity monotone) and a vertical one (rot90 monotone) both hash
    // to 0 despite being different pictures
    def gradient(vertical: Boolean): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(
        64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 64) {
        val v = if (vertical) y * 255 / 47 else x * 255 / 63
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    val hJpg = ImageOps.encodeJpeg(gradient(vertical = false), 0.9f)
    val vJpg = ImageOps.encodeJpeg(gradient(vertical = true), 0.9f)
    assert(ImageOps.dHashCanonical(hJpg).get == 0L &&
      ImageOps.dHashCanonical(vJpg).get == 0L,
      "both gradients must sit in the canonical zero class")
    val clipH = AvWriter.mjpegAvi(Seq.fill(4)(hJpg), Seq.fill(4)(true))
    val clipV = AvWriter.mjpegAvi(Seq.fill(4)(vJpg), Seq.fill(4)(true))
    val rows = Seq(1L -> clipH, 2L -> clipV).toDF("video_id", "content")
    // the near-content-free frames are excluded, so two UNRELATED
    // gradient clips do not pair through them
    assert(Dedup.videoNearDuplicates(rows, "video_id", "content").isEmpty,
      "unrelated clips must not pair through degenerate frames")
  }
}

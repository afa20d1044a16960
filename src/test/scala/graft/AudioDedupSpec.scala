package graft

import org.apache.spark.sql.functions._
import graft.multimodal.{AvOps, AvWriter}
import graft.operators.Dedup

/** Audio near-dup (round 19): the per-window spectral sign fingerprint
  * ([[AvOps.audioFingerprints]], Haitsma–Kalker scheme) and its blocked
  * clip-pair aggregation ([[Dedup.audioNearDuplicates]]). The margin
  * tests mirror ImageDedupSpec's floor-pinning discipline: the planted
  * fixture's drift (base vs requantized+halved disguise) and the
  * cross-seed distance floor are MEASURED over a pinned seed
  * population, so a fixture or kernel change that erodes either is
  * caught here, not in a flaky oracle.
  */
class AudioDedupSpec extends SparkSpec {
  import spark.implicits._

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Fingerprint rows (id, window_idx) → fp through the REAL kernel. */
  private def fpRows(clips: Seq[(Long, Array[Byte])]): Map[(Long, Int), Long] = {
    val ds = clips.map { case (id, bytes) =>
      AvOps.AvRecord(id, "audio", bytes)
    }.toDS()
    AvOps.audioFingerprints(ds).collect()
      .map(r => (r.id, r.window_idx) -> r.fp).toMap
  }

  // the pinned population: 200 seeds; fixture clips carry 16
  // fingerprint windows each (17 analysis windows)
  private val seeds = (0L until 1000L by 5L).toSeq

  test("fixture margins: disguise drift and cross-seed floor on the pinned population") {
    val base = fpRows(seeds.map(sd => sd -> AvWriter.fixtureWav(sd, 0)))
    val disg = fpRows(seeds.map(sd => sd -> AvWriter.fixtureWav(sd, 1)))
    assert(base.size == seeds.size * 16, s"16 fps per clip: ${base.size}")
    // per-window drift between a base window and ITS disguised window:
    // the fixture's lattice construction puts a >= M margin under every
    // bit, so requantization+halving must move almost nothing
    var maxDrift = 0
    for (sd <- seeds; w <- 1 to 16) {
      val d = hamming(base(sd -> w), disg(sd -> w))
      if (d > maxDrift) maxDrift = d
    }
    assert(maxDrift <= 2,
      s"disguise drift must stay within the blocked-join threshold: $maxDrift")
    // cross-seed floor: windows of DIFFERENT seeds are hash-independent
    // sign patterns — no pair may come near the matching threshold.
    // (Same-seed cross-window pairs are excluded: within one clip they
    // never meet the join, which filters same-id pairs.)
    val bySeed = seeds.map(sd => (1 to 16).map(w => base(sd -> w)).toArray)
    var minCross = 64
    var i = 0
    while (i < bySeed.length) {
      var j = i + 1
      while (j < bySeed.length) {
        val a = bySeed(i); val b = bySeed(j)
        var x = 0
        while (x < a.length) {
          var y = 0
          while (y < b.length) {
            val d = hamming(a(x), b(y))
            if (d < minCross) minCross = d
            y += 1
          }
          x += 1
        }
        j += 1
      }
      i += 1
    }
    info(s"measured disguise drift max = $maxDrift, cross-seed floor = $minCross")
    assert(minCross > 8,
      s"cross-seed fingerprint floor must clear the threshold wide: $minCross")
  }

  test("audioNearDuplicates: planted disguise pairs exactly, keep-one survivors") {
    val corpus = (
      Seq(10L, 20L, 30L).map(sd => sd -> AvWriter.fixtureWav(sd, 0)) ++
      Seq(110L -> AvWriter.fixtureWav(10L, 1), // disguised copy of 10
          120L -> AvWriter.fixtureWav(20L, 1)) // disguised copy of 20
    ).toDF("clip_id", "content")
    val pairs = Dedup.audioNearDuplicates(corpus, "clip_id", "content")
    val got = pairs.select(col("id_a"), col("id_b"), col("n_matched"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got.map(t => (t._1, t._2)) == Seq((10L, 110L), (20L, 120L)),
      s"exactly the planted pairs: $got")
    // every one of the 16 windows should survive the disguise
    assert(got.forall(_._3 >= 14), s"near-total window agreement: $got")
    val kept = Dedup.keepOnePerCluster(corpus, "clip_id", pairs)
      .select(col("clip_id")).as[Long].collect().sorted.toSeq
    assert(kept == Seq(10L, 20L, 30L), s"survivors = bases + distractor: $kept")
  }

  test("degenerate static spectra are excluded: two held tones never match") {
    // a held tone's spectrum never changes, so every fingerprint bit is
    // 0 — the all-zero degenerate fixed point that unrelated static
    // clips share exactly. The operator drops those windows; without
    // the guard these two DIFFERENT tones would report as duplicates.
    def tone(freqBin: Int): Array[Byte] = {
      val n = 1024 * 17
      val s = Array.tabulate(n)(t =>
        0.4 * math.sin(2 * math.Pi * freqBin * t / 1024.0))
      AvWriter.wavPcm16(s, 8000)
    }
    val corpus = Seq(1L -> tone(40), 2L -> tone(200)).toDF("clip_id", "content")
    assert(Dedup.audioNearDuplicates(corpus, "clip_id", "content").isEmpty,
      "static clips must not match through the degenerate fingerprint")
  }

  test("alignment: a half-window shift breaks the non-overlap default; the hop dial recovers it") {
    // honest-limitation pin: non-overlapping windows mean a shifted
    // copy samples different windows — the DEFAULT contract covers
    // re-encoded/requantized copies, NOT trimmed ones
    val sr = 8000
    val base = AvWriter.fixtureWav(7L, 0)
    val shifted = {
      // decode-free shift: regenerate the raw samples and drop half a
      // window from the front (the fixture synth is deterministic)
      val full = AvWriter.fixtureWav(7L, 0)
      // strip the 44-byte canonical header, drop 512 samples (1024 bytes)
      val pcm = full.drop(44).drop(1024)
      AvWriter.wavPcm16(
        Array.tabulate(pcm.length / 2)(i =>
          (((pcm(2 * i + 1).toInt << 8) | (pcm(2 * i) & 0xff)) / 32768.0)), sr)
    }
    val corpus = Seq(1L -> base, 2L -> shifted).toDF("clip_id", "content")
    assert(Dedup.audioNearDuplicates(corpus, "clip_id", "content").isEmpty,
      "a time-shifted copy is outside the default's covered disguise class")
    // hop = window/2: the shifted copy's windows re-align with the
    // base's (the shift is a hop multiple — identical sample windows,
    // identical fingerprints), at 2x FFT cost
    val got = Dedup.audioNearDuplicates(corpus, "clip_id", "content",
        window = Dedup.AudioWindow, hop = 512)
      .select(col("id_a"), col("id_b"), col("n_matched"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(t => (t._1, t._2)) == Seq((1L, 2L)),
      s"hop=512 must recover the 512-sample-shifted copy: $got")
    assert(got.head._3 >= 14, s"most overlapped windows agree: ${got.head._3}")
  }

  test("vs-state: requantized batch flagged against stored window signatures, fresh survive") {
    val state = Dedup.audioSignatures(
      Seq(10L -> AvWriter.fixtureWav(10L, 0),
          20L -> AvWriter.fixtureWav(20L, 0)).toDF("clip_id", "content"),
      "clip_id", "content")
    val batch = Seq(
      110L -> AvWriter.fixtureWav(10L, 1), // disguised copy of state 10
      130L -> AvWriter.fixtureWav(30L, 0)  // fresh: matches nothing
    ).toDF("clip_id", "content")
    val res = Dedup.audioNearDuplicatesVsState(batch, "clip_id", "content", state)
      .select(col("clip_id"), col("dup_of"), col("n_matched"))
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
    assert(res.map(r => (r._1, r._2)) == Seq(110L -> Some(10L), 130L -> None),
      s"state matches: $res")
    assert(res.head._3.contains(16L), s"all 16 windows agree: ${res.head._3}")
  }

  test("compactSignatureStateKeys: keep-latest per (clip, window); detection parity") {
    val dir = java.nio.file.Files.createTempDirectory("audio_state_").toString
    val mk = (v: Long) => Dedup.audioSignatures(
      Seq(10L -> AvWriter.fixtureWav(10L, 0)).toDF("clip_id", "content"),
      "clip_id", "content").withColumn("v", lit(v))
    mk(1L).write.mode("append").parquet(dir)
    mk(2L).write.mode("append").parquet(dir)
    val batch = Seq(110L -> AvWriter.fixtureWav(10L, 1)).toDF("clip_id", "content")
    def verdict() = Dedup.audioNearDuplicatesVsState(
        batch, "clip_id", "content",
        spark.read.parquet(dir).drop("v"))
      .select(col("clip_id"), col("dup_of")).as[(Long, Option[Long])]
      .collect().toSeq
    val before = verdict()
    val (nb, na) = Dedup.compactSignatureStateKeys(spark, dir,
      Seq("clip_id", "window_idx"), versionCol = Some("v"), retain = None)
    assert(nb == 32 && na == 16, s"one row per (clip, window): $nb -> $na")
    val vs = spark.read.parquet(dir).select(col("v")).distinct()
      .as[Long].collect().toSeq
    assert(vs == Seq(2L), s"keep-latest kept version 2 rows: $vs")
    assert(verdict() == before, "compaction must not change verdicts")
  }

  test("decode fast path: canonical PCM16 parses lock-free; non-canonical WAVs fall back to AudioSystem") {
    // the canonical clip takes the RIFF fast path; re-containering the
    // SAME samples as unsigned 8-bit PCM defeats the PCM16 check, so
    // it must decode through the AudioSystem fallback — and its
    // fingerprints sit within the fixture's quantization-disguise
    // margin of the fast path's (the two paths share FpAccum, so any
    // drift here is decode drift, not kernel drift)
    val canonical = AvWriter.fixtureWav(3L, 0)
    val pcm = canonical.drop(44)
    val samples = Array.tabulate(pcm.length / 2)(i =>
      (((pcm(2 * i + 1).toInt << 8) | (pcm(2 * i) & 0xff)) / 32768.0))
    val eightBit = {
      val data = samples.map(v =>
        (math.round(math.max(-1.0, math.min(1.0, v)) * 127) + 128).toByte)
      val fmt = AvWriter.chunk("fmt ", AvWriter.le16(1) ++ AvWriter.le16(1) ++
        AvWriter.le32(8000) ++ AvWriter.le32(8000) ++ AvWriter.le16(1) ++
        AvWriter.le16(8))
      val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ AvWriter.chunk("data", data)
      "RIFF".getBytes("US-ASCII") ++ AvWriter.le32(body.length) ++ body
    }
    val fast = fpRows(Seq(1L -> canonical))
    val slow = fpRows(Seq(1L -> eightBit))
    assert(fast.size == 16 && slow.size == 16,
      s"both paths must fingerprint all windows: ${fast.size}/${slow.size}")
    val drift = (1 to 16).map(w => hamming(fast(1L -> w), slow(1L -> w))).max
    assert(drift <= 2, s"8-bit re-container must stay within the disguise margin: $drift")
  }

  test("row-level tolerance and loud config errors") {
    val corpus = Seq(
      1L -> AvWriter.fixtureWav(3L, 0),
      2L -> Array[Byte](1, 2, 3), // not a WAV: contributes nothing
      3L -> null.asInstanceOf[Array[Byte]]
    ).toDF("clip_id", "content")
    assert(Dedup.audioNearDuplicates(corpus, "clip_id", "content").isEmpty)
    // config errors fail on the DRIVER, loudly — never as empty results
    intercept[IllegalArgumentException] {
      Dedup.audioNearDuplicates(corpus, "clip_id", "content",
        window = 1000, hop = Dedup.AudioHop)
    }
    intercept[IllegalArgumentException] {
      Dedup.audioNearDuplicates(
        corpus.withColumn("clip_id", col("clip_id").cast("string")),
        "clip_id", "content")
    }
    // the WAV writer round-trips through the REAL decoder
    val f = corpus.filter(col("clip_id") === 1L)
      .select(AvOps.audioFeatures(col("content")).as("f"))
      .head().getStruct(0)
    assert(f.getDouble(f.fieldIndex("sample_rate")) == 8000.0)
    assert(f.getLong(f.fieldIndex("n_samples")) == 1024L * 17)
  }
}

package graft.multimodal

/** MJPEG-in-AVI WRITER — the fixture/serializer side of
  * [[AvOps.videoKeyFrames]]'s demuxer (the [[graft.sources.Warc.writeGz]]
  * precedent: generated corpora for driver-checked oracles need the
  * writer in main scope; video ARCHIVING at scale is the fetcher's job,
  * not this engine's). Emits a spec-conformant RIFF-AVI (public
  * container format: hdrl avih/strh/strf headers, one `00dc` chunk per
  * JPEG frame under LIST movi, idx1 with per-frame keyframe flags — a
  * standard player could open it), so the round-trip through the
  * demuxer exercises the REAL parse path, never a shortcut.
  */
object AvWriter {

  def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  def chunk(ck: String, data: Array[Byte]): Array[Byte] =
    ck.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
      (if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])

  def list(typ: String, children: Array[Byte]*): Array[Byte] =
    chunk("LIST", typ.getBytes("US-ASCII") ++ children.flatten)

  def mjpegAvi(frames: Seq[Array[Byte]], keyFlags: Seq[Boolean]): Array[Byte] = {
    val avih = chunk("avih", le32(40000) ++ le32(0) ++ le32(0) ++ le32(0x10) ++
      le32(frames.size) ++ le32(0) ++ le32(1) ++ le32(0) ++ le32(32) ++ le32(24) ++
      Array.fill(16)(0.toByte))
    val strh = chunk("strh", "vids".getBytes("US-ASCII") ++ "MJPG".getBytes("US-ASCII") ++
      Array.fill(48)(0.toByte))
    // BITMAPINFOHEADER with biCompression = 'MJPG'
    val strf = chunk("strf", le32(40) ++ le32(32) ++ le32(24) ++ le32(1 | (24 << 16)) ++
      "MJPG".getBytes("US-ASCII") ++ Array.fill(20)(0.toByte))
    val movi = list("movi", frames.map(f => chunk("00dc", f)): _*)
    val idx1 = chunk("idx1", frames.zip(keyFlags).flatMap { case (f, key) =>
      "00dc".getBytes("US-ASCII") ++ le32(if (key) 0x10 else 0) ++ le32(0) ++ le32(f.length)
    }.toArray)
    val body = "AVI ".getBytes("US-ASCII") ++
      list("hdrl", avih, list("strl", strh, strf)) ++ movi ++ idx1
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** A planted CLIP for the video near-dup oracles (q138's corpus): 4
    * MJPEG keyframes rendered from [[ImageFixtures.blockImage]] at
    * per-frame seeds `seed + k·1000003` (the prime stride keeps frame
    * seeds of different clips disjoint for any seed population narrower
    * than the stride), JPEG-encoded at `quality`. A re-encode of the
    * SAME clip (same seed, different quality) is the disguise class
    * [[graft.operators.Dedup.videoNearDuplicates]] must catch; clips of
    * different seeds share no frame content.
    */
  def fixtureClip(seed: Long, quality: Float): Array[Byte] =
    mjpegAvi(
      (0 until 4).map(k =>
        ImageOps.encodeJpeg(ImageFixtures.blockImage(seed + k * 1000003L), quality)),
      Seq.fill(4)(true))

  /** Executor-side clip generation (one UDF call per planted row). */
  val fixtureClipUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (seed: Long, quality: Float) => fixtureClip(seed, quality))

  def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** Mono 16-bit PCM RIFF/WAVE writer — the audio sibling of
    * [[mjpegAvi]] (hand-rolled, byte-deterministic: fixture caching
    * fingerprints the generated corpus, so the writer must never vary
    * with JVM or library version the way AudioSystem.write might).
    * Samples clamp to [-1, 1] and round to signed 16-bit little-endian;
    * the container is the minimal canonical layout (fmt + data), which
    * javax.sound.sampled — [[AvOps]]'s REAL decode path — parses.
    */
  def wavPcm16(samples: Array[Double], sampleRate: Int): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val v = math.max(-1.0, math.min(1.0, samples(i)))
      val s = math.round(v * 32767).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = chunk("fmt ", le16(1) ++ le16(1) ++ le32(sampleRate) ++
      le32(sampleRate * 2) ++ le16(2) ++ le16(16))
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ chunk("data", pcm)
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** A planted CLIP for the audio near-dup oracles — the audio
    * [[fixtureClip]], built the [[ImageFixtures.grid]] way: per-band
    * energies are constructed so every fingerprint bit of
    * [[AvOps.audioFingerprints]] carries a MARGIN by construction,
    * making the planted families noise-proof rather than lucky.
    *
    * Per analysis window, one bin-centered sine per band (rectangular
    * non-overlapping windows + integer cycles → zero spectral leakage:
    * each band's energy is exactly its sine's). Band energies follow a
    * reflected lattice walk across bands: each adjacent-band energy
    * difference `g(n,m) = E(n,m) − E(n,m+1)` has magnitude 2M on EVEN
    * windows and M or 3M on ODD windows (sign/magnitude hash-chosen,
    * reflection at the [4M, 16M] energy range preserves the magnitude
    * lattice). A fingerprint bit compares g across consecutive windows
    * — an even-lattice value minus an odd-lattice value is never less
    * than M in magnitude, so every bit's decision margin is ≥ M ≈ 10%
    * of typical band energy, far above requantization noise
    * (AudioDedupSpec measures the actual drift and floor). Phases are
    * hash-random per (seed, window, band); one uniform clip-guard
    * rescale keeps samples in range (uniform scaling shifts NO
    * fingerprint bit — band-energy difference SIGNS are
    * scale-invariant).
    *
    * A clip is 17 windows of [[graft.operators.Dedup.AudioWindow]]
    * samples at 8 kHz. `variant 0` = the base clip; `variant 1` = the published disguise
    * class: amplitude halved + requantized to 8-bit (the audio
    * "re-encode": quantization distortion, exactly what a lossy
    * round-trip inflicts, while timing — which the non-overlapping
    * windows are sensitive to — is preserved). Clips of different
    * seeds share no spectral structure.
    */
  def fixtureWav(seed: Long, variant: Int): Array[Byte] = {
    val samples = synthClip(seed, graft.operators.Dedup.AudioWindow, 17)
    val out =
      if (variant == 1) samples.map(v => math.round(v * 0.5 * 127) / 127.0)
      else samples
    wavPcm16(out, 8000)
  }

  private def synthClip(seed: Long, window: Int, nWindows: Int): Array[Double] = {
    import ImageFixtures.{mix => mx}
    val edges = AvOps.bandEdges(window)
    val M = 1.0
    val eLo = 4.0 * M
    val eHi = 16.0 * M
    val out = new Array[Double](window * nWindows)
    // fixed global amplitude scale: identical across windows, so the
    // even/odd lattice comparison between consecutive windows is exact
    val gamma = math.sqrt(2 * 0.25 * 0.25 / (65 * 10.0 * M))
    var w = 0
    while (w < nWindows) {
      val e = new Array[Double](65)
      e(64) = eLo + (math.floorMod(mx(seed ^ (w.toLong << 40) ^ 0x1234L), 1000L)
        / 1000.0) * (eHi - eLo)
      var m = 63
      while (m >= 0) {
        val h = mx(seed ^ (w.toLong << 40) ^ m.toLong)
        val s = if ((h & 1L) == 0L) 1.0 else -1.0
        val mag = if (w % 2 == 0) 2.0 else if ((h & 2L) == 0L) 1.0 else 3.0
        val step = s * mag * M
        val next = e(m + 1) + step
        // reflect: |range| 12M > 2·3M, so one direction always lands
        e(m) = if (next > eHi || next < eLo) e(m + 1) - step else next
        m -= 1
      }
      var b = 0
      while (b < 65) {
        val bin = edges(b) + (edges(b + 1) - edges(b)) / 2
        val amp = gamma * math.sqrt(e(b))
        val phase = 2 * math.Pi *
          ((mx(seed ^ (w.toLong << 40) ^ (b.toLong + 0x100L)) >>> 11)
            * (1.0 / (1L << 53)))
        val omega = 2 * math.Pi * bin / window
        var t = 0
        while (t < window) {
          out(w * window + t) += amp * math.sin(omega * t + phase)
          t += 1
        }
        b += 1
      }
      w += 1
    }
    var peak = 0.0
    var i = 0
    while (i < out.length) {
      if (math.abs(out(i)) > peak) peak = math.abs(out(i))
      i += 1
    }
    if (peak > 0.98) {
      val sc = 0.98 / peak
      var j = 0
      while (j < out.length) { out(j) *= sc; j += 1 }
    }
    out
  }

  /** Executor-side audio-clip generation (one UDF call per planted row). */
  val fixtureWavUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (seed: Long, variant: Int) => fixtureWav(seed, variant))
}

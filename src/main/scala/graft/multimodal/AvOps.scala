package graft.multimodal

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Audio/video column plumbing: opaque `binary` payloads + typed
  * metadata, batch-shaped executor-local processing.
  *
  * The AUDIO kernel is real: RIFF/WAV PCM decodes with pure-JDK
  * javax.sound.sampled (no native codec required), mirroring how ImageOps
  * wraps javax.imageio for the image modality. The VIDEO kernel is real
  * for one concrete container+codec: MJPEG-in-AVI ([[videoKeyFrames]])
  * — the RIFF demux is pure JVM and each extracted frame is a plain JPEG
  * that javax.imageio (ImageOps) decodes. Inter-coded codecs (H.264…)
  * would need a native decoder; they plug into the same frame-ref
  * iterator. [[sampleFrames]] remains the codec-agnostic byte-window
  * fallback for payloads with no demuxer.
  */
object AvOps {

  final case class AvRecord(id: Long, media_type: String, content: Array[Byte])
  final case class FrameRow(id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** Decoded-audio summary: time-domain stats plus an [[AvOps.AudioBands]]-bin
    * spectral energy profile over [0, nyquist).
    */
  final case class AudioFeatures(
      sample_rate: Double, channels: Int, n_samples: Long, duration_sec: Double,
      rms: Double, peak: Double, zero_cross_rate: Double, band_energy: Seq[Double])

  /** WAV PCM → STREAMED mono statistics + a bounded head of samples in
    * [-1, 1]: javax.sound.sampled parses the RIFF container, a
    * format-conversion stream normalizes any PCM width/endianness to
    * signed 16-bit little-endian, channels average-downmix. The clip is
    * consumed in fixed-size chunks — rms/peak/zero-crossings accumulate
    * on the fly and only the first `keepSamples` samples are ever
    * materialized (the FFT window), so per-row memory is bounded no
    * matter the clip length; a readAllBytes + full Double array would
    * hold ~10 bytes per sample (a 500 MB WAV → ~1.5 GB per task).
    * Undecodable bytes → None (row-level tolerance, like the image
    * kernel). Returns (sampleRate, channels, nSamples, head, sumSq,
    * peak, zeroCrossings).
    */
  private def decodeWav(bytes: Array[Byte], keepSamples: Int)
      : Option[(Float, Int, Long, Array[Double], Double, Double, Long)] =
    try {
      // lock-free canonical-PCM16 fast path first (see pcm16Riff — the
      // AudioSystem SPI lookup serializes executor threads); identical
      // sample values, so features are bit-equal to the fallback's
      pcm16Riff(bytes) match {
        case Some((sr, ch, dataOff, dataLen)) =>
          val frames = dataLen / (2 * ch)
          val head = new Array[Double](math.max(keepSamples, 0))
          var kept = 0
          var nTotal = 0L
          var sumSq = 0.0
          var peak = 0.0
          var zc = 0L
          var prev = 0.0
          var i = 0
          while (i < frames) {
            var s = 0.0
            var c = 0
            while (c < ch) {
              val o = dataOff + (i * ch + c) * 2
              s += ((bytes(o + 1).toInt << 8) | (bytes(o) & 0xff)) / 32768.0
              c += 1
            }
            val v = s / ch
            if (kept < head.length) { head(kept) = v; kept += 1 }
            sumSq += v * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (nTotal > 0 && (v > 0) != (prev > 0)) zc += 1
            prev = v
            nTotal += 1
            i += 1
          }
          return Some((sr.toFloat, ch, nTotal,
            java.util.Arrays.copyOf(head, kept), sumSq, peak, zc))
        case None => ()
      }
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val src = in.getFormat
      val target = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        src.getSampleRate, 16, src.getChannels, 2 * src.getChannels, src.getSampleRate, false)
      val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(target, in)
      val ch = math.max(target.getChannels, 1)
      val frameBytes = 2 * ch
      val buf = new Array[Byte](math.max(frameBytes * 512, 8192))
      val head = new Array[Double](math.max(keepSamples, 0))
      var kept = 0
      var nTotal = 0L
      var sumSq = 0.0
      var peak = 0.0
      var zc = 0L
      var prev = 0.0
      var filled = 0
      var read = pcm.read(buf, filled, buf.length - filled)
      while (read > 0) {
        filled += read
        val frames = filled / frameBytes
        var i = 0
        while (i < frames) {
          var acc = 0.0
          var c = 0
          while (c < ch) {
            val off = (i * ch + c) * 2
            acc += ((buf(off + 1).toInt << 8) | (buf(off) & 0xff)) / 32768.0
            c += 1
          }
          val v = acc / ch
          if (kept < head.length) { head(kept) = v; kept += 1 }
          sumSq += v * v
          if (math.abs(v) > peak) peak = math.abs(v)
          if (nTotal > 0 && (v > 0) != (prev > 0)) zc += 1
          prev = v
          nTotal += 1
          i += 1
        }
        // carry partial frames across chunk boundaries (pcm.read does not
        // align to frame size)
        val consumed = frames * frameBytes
        System.arraycopy(buf, consumed, buf, 0, filled - consumed)
        filled -= consumed
        read = pcm.read(buf, filled, buf.length - filled)
      }
      Some((src.getSampleRate, src.getChannels, nTotal,
        java.util.Arrays.copyOf(head, kept), sumSq, peak, zc))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Power spectrum |X[k]|² for k in [0, N/2) via iterative radix-2
    * Cooley–Tukey over the zero-padded input. O(N log N), allocation
    * bounded by the padded window — safe inside an executor task.
    */
  private def fftPower(x: Array[Double]): Array[Double] = {
    var n = 1
    while (n < x.length) n <<= 1
    fftPowerCore(java.util.Arrays.copyOf(x, n), new Array[Double](n),
      new Array[Double](math.max(n / 2, 1)))
  }

  /** The radix-2 core over CALLER-OWNED buffers: `re` holds the
    * zero-padded input (destroyed), `im` must be zeroed, `p` receives
    * |X[k]|². Identical arithmetic and loop order to the allocating
    * form — [[FpAccum]] reuses one buffer set across a clip's windows
    * (the per-window 2×window double allocations were ~GB-scale GC
    * churn per million windows at sf1).
    */
  private def fftPowerCore(re: Array[Double], im: Array[Double],
      p: Array[Double]): Array[Double] = {
    val n = re.length
    var j = 0
    var i = 1
    while (i < n) { // bit-reversal permutation
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val wr = math.cos(-2.0 * math.Pi / len)
      val wi = math.sin(-2.0 * math.Pi / len)
      var base = 0
      while (base < n) {
        var cwr = 1.0; var cwi = 0.0
        var k = 0
        while (k < len / 2) {
          val ur = re(base + k); val ui = im(base + k)
          val xr = re(base + k + len / 2); val xi = im(base + k + len / 2)
          val vr = xr * cwr - xi * cwi
          val vi = xr * cwi + xi * cwr
          re(base + k) = ur + vr; im(base + k) = ui + vi
          re(base + k + len / 2) = ur - vr; im(base + k + len / 2) = ui - vi
          val nwr = cwr * wr - cwi * wi
          cwi = cwr * wi + cwi * wr; cwr = nwr
          k += 1
        }
        base += len
      }
      len <<= 1
    }
    var k = 0
    while (k < p.length) { p(k) = re(k) * re(k) + im(k) * im(k); k += 1 }
    p
  }

  /** Samples [[audioFeatures]] decodes and transforms per clip. */
  val FeatureSamples: Int = 1 << 14
  /** Equal-width spectral bands of [[audioFeatures]]. */
  val AudioBands = 8

  /** REAL audio kernel: WAV PCM decode + feature extraction as a scalar
    * UDF over the binary column — rms, peak amplitude, zero-crossing
    * rate, and spectral energy summed into [[AudioBands]] equal-width bands of
    * [0, nyquist) from an FFT of the first [[FeatureSamples]] samples
    * (bounded work per row regardless of clip length). NULL or undecodable
    * payloads yield NULL — bad files become filterable rows, never task
    * failures. UDF (not codegen) is deliberate: the kernel is imperative
    * DSP, isolated in one projection exactly like the image ops.
    */
  private[graft] def audioFeatures: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((bytes: Array[Byte]) =>
      if (bytes == null) None
      else decodeWav(bytes, FeatureSamples).map { case (sr, ch, n, head, sumSq, peak, zc) =>
        val p = fftPower(head)
        val bands = new Array[Double](AudioBands)
        var k = 0
        while (k < p.length) {
          bands(math.min(k * AudioBands / p.length, AudioBands - 1)) += p(k)
          k += 1
        }
        AudioFeatures(
          sr.toDouble, ch, n, if (sr > 0) n / sr.toDouble else 0.0,
          if (n > 0) math.sqrt(sumSq / n) else 0.0, peak,
          if (n > 1) zc.toDouble / (n - 1) else 0.0, bands.toSeq)
      })

  /** One video frame located inside an AVI payload — an (offset, length)
    * slice reference, so demuxing stays copy-free until a frame is
    * actually emitted.
    */
  private final case class AviFrameRef(offset: Int, length: Int, keyframe: Boolean)

  /** Minimal RIFF-AVI demuxer (public container spec: RIFF chunks are
    * fourcc + u32-LE size + word-aligned payload; LIST chunks nest; video
    * stream data lives in '##db'/'##dc' chunks under LIST 'movi', with
    * keyframe flags in the optional 'idx1' index, AVIIF_KEYFRAME=0x10).
    * Returns frame slice refs for the FIRST video stream, None if the
    * payload is not an AVI. Intra-only codecs (MJPEG) have no delta
    * frames, so when idx1 is absent every frame counts as a keyframe.
    * Truncated files yield the frames that fit — row-level tolerance,
    * never a task failure.
    */
  private def aviVideoFrames(bytes: Array[Byte]): Option[Seq[AviFrameRef]] = {
    if (bytes == null || bytes.length < 12) return None
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def fourcc(off: Int): String =
      new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    def isVideoData(ck: String): Boolean =
      ck.length == 4 && ck(0).isDigit && ck(1).isDigit &&
        (ck.substring(2) == "db" || ck.substring(2) == "dc")
    val slices = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    val idxFlags = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    // depth bound: real AVIs nest ~3 LIST levels; a corrupt/adversarial
    // payload of thousands of nested LIST headers would otherwise drive
    // the recursion to StackOverflowError — an Error no NonFatal handler
    // catches, and a task death the row-tolerance contract forbids
    def walk(start: Int, end: Int, inMovi: Boolean, depth: Int): Unit = {
      if (depth > 64) return
      var pos = start
      while (pos + 8 <= end) {
        val ck = fourcc(pos)
        val sz = u32(pos + 4).toInt
        val dataStart = pos + 8
        val dataEnd = math.min(dataStart + math.max(sz, 0), end)
        // dataStart + 4 <= dataEnd also guards the list-type fourcc read:
        // a file truncated right after the LIST size field would read
        // past the end of the payload
        if (ck == "LIST" && sz >= 4 && dataStart + 4 <= dataEnd)
          // 'movi' children are frames; 'rec ' sub-lists group interleaved
          // chunks and stay inside movi scope
          walk(dataStart + 4, dataEnd, inMovi || fourcc(dataStart) == "movi", depth + 1)
        else if (inMovi && isVideoData(ck))
          slices += ((ck, dataStart, dataEnd - dataStart))
        else if (ck == "idx1") {
          var p = dataStart
          while (p + 16 <= dataEnd) { // 16-byte entries: ckid, flags, off, size
            val ckid = fourcc(p)
            if (isVideoData(ckid)) idxFlags += ((ckid, (u32(p + 4) & 0x10L) != 0L))
            p += 16
          }
        }
        pos = dataEnd + (sz & 1) // chunks are word-aligned
      }
    }
    walk(12, math.min(8 + u32(4), bytes.length.toLong).toInt, inMovi = false, depth = 0)
    if (slices.isEmpty) return Some(Seq.empty)
    val stream = slices.head._1.substring(0, 2) // first video stream only
    val mine = slices.filter(_._1.startsWith(stream))
    val flags = idxFlags.filter(_._1.startsWith(stream)).map(_._2)
    Some(mine.zipWithIndex.map { case ((_, off, len), i) =>
      AviFrameRef(off, len, if (i < flags.length) flags(i) else true)
    }.toSeq)
  }

  /** REAL video kernel for MJPEG-in-AVI: demux the container, keep
    * keyframes only, emit every `everyN`-th as a FrameRow whose
    * `frame_bytes` is a standalone JPEG — decodable downstream by the
    * image kernel ([[graft.multimodal.ImageOps]]). Same per-partition
    * fan-out contract as [[sampleFrames]]: one row yields many frame rows
    * lazily (slice refs are indexed eagerly, payload bytes copy only when
    * a frame is emitted), and non-AVI / null payloads yield zero rows
    * rather than failing the task. `frame_idx` is the frame's position in
    * the stream (so skipped delta frames leave visible gaps).
    */
  def videoKeyFrames(ds: Dataset[AvRecord], everyN: Int = graft.operators.Dedup.VideoEveryN)(
      implicit enc: org.apache.spark.sql.Encoder[FrameRow]): Dataset[FrameRow] =
    ds.mapPartitions { rows =>
      rows.flatMap { r =>
        aviVideoFrames(r.content) match {
          case None => Iterator.empty
          case Some(refs) =>
            refs.iterator.zipWithIndex
              .filter { case (ref, _) => ref.keyframe }
              .zipWithIndex
              .filter { case (_, ki) => ki % math.max(everyN, 1) == 0 }
              .map { case ((ref, i), _) =>
                FrameRow(r.id, i,
                  java.util.Arrays.copyOfRange(r.content, ref.offset, ref.offset + ref.length))
              }
        }
      }
    }

  /** Bytes per window of [[sampleFrames]]. */
  val FrameBytes = 4096

  /** Frame sampling plumbing: emit every `everyN`-th [[FrameBytes]] window of
    * the payload as a "frame" — the codec-agnostic fallback for payloads
    * no demuxer claims ([[videoKeyFrames]] is the real AVI path). The
    * per-partition iterator shape — one input row fanning out to many
    * frame rows without materializing all frames in memory — is the part
    * that matters at scale.
    */
  private[graft] def sampleFrames(ds: Dataset[AvRecord], everyN: Int)(
      implicit enc: org.apache.spark.sql.Encoder[FrameRow]): Dataset[FrameRow] =
    ds.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.content == null) Iterator.empty
        else {
          val nFrames = math.max(r.content.length / FrameBytes, 1)
          // clamp like videoKeyFrames: everyN = 0 throws ('step cannot be
          // 0') inside the task and a negative step silently emits nothing
          (0 until nFrames by math.max(everyN, 1)).iterator.map { i =>
            val from = math.min(i * FrameBytes, r.content.length)
            val until = math.min(from + FrameBytes, r.content.length)
            FrameRow(r.id, i, java.util.Arrays.copyOfRange(r.content, from, until))
          }
        }
      }
    }

  /** One per-window 64-bit audio sub-fingerprint: the audio sibling of
    * [[FrameRow]] — `window_idx` starts at 1 (the fingerprint of window
    * n needs window n−1's spectrum, so the first window seeds state and
    * emits nothing).
    */
  final case class AudioFpRow(id: Long, window_idx: Int, fp: Long)

  /** 66 log-spaced FFT-bin band edges over [window/32, window/2) — the
    * 65 energy bands whose 64 pairwise differences drive
    * [[audioFingerprints]]' sign bits. Log spacing follows the published
    * Philips/Haitsma–Kalker fingerprint (perceptually even coverage);
    * the floor at bin window/32 skips DC and the lowest octaves where a
    * band would be narrower than one bin. Edges are strictly increasing
    * by construction (each at least the previous + 1), so every band
    * holds ≥ 1 bin.
    */
  private[multimodal] def bandEdges(window: Int): Array[Int] = {
    val lo = window / 32
    val hi = window / 2
    val edges = new Array[Int](66)
    edges(0) = lo
    var m = 1
    while (m < 66) {
      val ideal = math.round(lo * math.pow(hi.toDouble / lo, m / 65.0)).toInt
      edges(m) = math.max(edges(m - 1) + 1, math.min(ideal, hi - (65 - m)))
      m += 1
    }
    edges(65) = hi
    edges
  }

  /** WAV PCM → per-window 64-bit spectral sign fingerprints, the
    * published Haitsma–Kalker scheme over non-overlapping rectangular
    * windows: per window, FFT power summed into the 65 [[bandEdges]]
    * bands; bit m of window n's fingerprint = whether the band-energy
    * difference `E(n,m) − E(n,m+1)` GREW since the previous window.
    * Signs of energy-difference deltas are exactly invariant to uniform
    * amplitude scaling (every term scales by the same factor) and
    * robust to requantization noise (margins measured in
    * AudioDedupSpec). Streaming decode like [[decodeWav]]: the clip is
    * read in chunks, one window + one spectrum live at a time, and the
    * read stops at `maxWindows` ([[graft.operators.Dedup.AudioMaxWindows]])
    * — bounded work and memory per row no matter the clip length. At
    * the default `hop == window`
    * (non-overlapping) the scheme is ALIGNMENT-sensitive: a time-
    * shifted copy lands on different window boundaries and won't match
    * (the dedup target is the re-encoded / regained copy, which
    * preserves timing). A smaller hop trades proportionally more FFTs
    * for shift robustness: a copy shifted by any multiple of `hop`
    * samples sees the identical sample windows again (the published
    * fingerprint's overlap dial — Haitsma–Kalker run hop = window/32).
    * Undecodable payloads → None; a clip shorter than two windows
    * yields an empty array (nothing to compare).
    */
  /** The windowed-fingerprint state machine shared by BOTH decode
    * paths (lock-free PCM16 and AudioSystem fallback), so they cannot
    * drift: push one mono sample at a time; every `hop` samples past a
    * full window, FFT → band energies → one sign-bit fingerprint vs
    * the previous spectrum. Returns true from push once `maxWindows`
    * fingerprints exist (callers stop reading).
    */
  private final class FpAccum(window: Int, maxWindows: Int, hop: Int) {
    private val edges = bandEdges(window)
    private val win = new Array[Double](window)
    private var wFill = 0
    private var prev: Array[Double] = null
    private val fps = scala.collection.mutable.ArrayBuffer.empty[Long]
    // one FFT scratch set per clip, reused across its windows (window is
    // a power of two, so no padding; re gets the copy fftPower would
    // have allocated, im is re-zeroed per call) — identical arithmetic,
    // zero steady-state allocation
    private val fftRe = new Array[Double](window)
    private val fftIm = new Array[Double](window)
    private val fftP = new Array[Double](math.max(window / 2, 1))
    private val eCur = new Array[Double](65)
    private val ePrev = new Array[Double](65)
    def push(v: Double): Boolean = {
      win(wFill) = v
      wFill += 1
      if (wFill == window) {
        System.arraycopy(win, 0, fftRe, 0, window)
        java.util.Arrays.fill(fftIm, 0.0)
        val p = fftPowerCore(fftRe, fftIm, fftP)
        val e = if (prev eq eCur) ePrev else eCur
        var b = 0
        while (b < 65) {
          var k = edges(b)
          var s = 0.0
          while (k < edges(b + 1)) { s += p(k); k += 1 }
          e(b) = s
          b += 1
        }
        if (prev != null) {
          var fp = 0L
          var m = 0
          while (m < 64) {
            if ((e(m) - e(m + 1)) - (prev(m) - prev(m + 1)) > 0)
              fp |= 1L << m
            m += 1
          }
          fps += fp
        }
        prev = e
        // overlapped hop: slide the analysis window forward by `hop`
        // samples (hop == window is the non-overlapping default; the
        // FFT ran on the fftRe copy, so the buffer survives)
        System.arraycopy(win, hop, win, 0, window - hop)
        wFill = window - hop
      }
      fps.length >= maxWindows
    }
    def result: Array[Long] = fps.toArray
  }

  /** Canonical PCM16 RIFF/WAVE header walk — the LOCK-FREE decode fast
    * path. `AudioSystem.getAudioInputStream` takes a synchronized SPI
    * provider lookup on EVERY call, which serializes a 32-thread
    * executor decoding thousands of clips down to ~1 effective core
    * (measured: the audio sf1 sentinel ran 135 s wall / 176 s cpu
    * before this path). 16-bit little-endian integer PCM — the
    * dominant archival WAV layout, and exactly what [[graft.multimodal
    * .AvWriter.wavPcm16]] emits — needs none of that machinery: walk
    * the RIFF chunks, find fmt + data, read samples straight from the
    * byte array. Anything non-canonical (compressed, float, 8/24-bit,
    * malformed sizes) returns None and falls back to AudioSystem.
    * Returns (sampleRate, channels, dataOffset, dataLength).
    */
  private def pcm16Riff(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    if (bytes == null || bytes.length < 44 ||
      tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int)] = None
    var data: Option[(Int, Int)] = None
    while (off + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
      val ck = tag(off)
      val sz = u32(off + 4)
      if (sz > Int.MaxValue - 8) return None
      val size = sz.toInt
      if (ck == "fmt ") {
        if (size < 16 || off + 8 + size > bytes.length) return None
        if (u16(off + 8) != 1 || u16(off + 22) != 16) return None // PCM16 only
        val ch = u16(off + 10)
        if (ch < 1) return None
        fmt = Some((u32(off + 12).toInt, ch))
      } else if (ck == "data") {
        // a truncated final data chunk keeps the frames that fit —
        // row-level tolerance, matching the fallback's behavior
        data = Some((off + 8, math.min(size, bytes.length - off - 8)))
      }
      off += 8 + size + (size & 1)
      if (off < 0) return None // size overflow wrapped
    }
    for (f <- fmt; d <- data) yield (f._1, f._2, d._1, d._2)
  }

  private def wavWindowFingerprints(bytes: Array[Byte], window: Int,
      maxWindows: Int, hop: Int): Option[Array[Long]] =
    try {
      val acc = new FpAccum(window, maxWindows, hop)
      pcm16Riff(bytes) match {
        case Some((_, ch, dataOff, dataLen)) =>
          val frames = dataLen / (2 * ch)
          var i = 0
          var done = false
          while (i < frames && !done) {
            var s = 0.0
            var c = 0
            while (c < ch) {
              val o = dataOff + (i * ch + c) * 2
              s += ((bytes(o + 1).toInt << 8) | (bytes(o) & 0xff)) / 32768.0
              c += 1
            }
            done = acc.push(s / ch)
            i += 1
          }
          Some(acc.result)
        case None =>
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val src = in.getFormat
          val target = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            src.getSampleRate, 16, src.getChannels, 2 * src.getChannels,
            src.getSampleRate, false)
          val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(target, in)
          val ch = math.max(target.getChannels, 1)
          val frameBytes = 2 * ch
          val buf = new Array[Byte](math.max(frameBytes * 512, 8192))
          var done = false
          var filled = 0
          var read = pcm.read(buf, filled, buf.length - filled)
          while (read > 0 && !done) {
            filled += read
            val frames = filled / frameBytes
            var i = 0
            while (i < frames && !done) {
              var s = 0.0
              var c = 0
              while (c < ch) {
                val off = (i * ch + c) * 2
                s += ((buf(off + 1).toInt << 8) | (buf(off) & 0xff)) / 32768.0
                c += 1
              }
              done = acc.push(s / ch)
              i += 1
            }
            if (!done) {
              // carry partial frames across chunk boundaries (pcm.read
              // does not align to frame size)
              val consumed = frames * frameBytes
              System.arraycopy(buf, consumed, buf, 0, filled - consumed)
              filled -= consumed
              read = pcm.read(buf, filled, buf.length - filled)
            }
          }
          Some(acc.result)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL audio fingerprint kernel — the audio sibling of
    * [[videoKeyFrames]]: each WAV payload fans out to one
    * [[AudioFpRow]] per analysis window (lazy per-partition iterator,
    * audio bytes touched exactly once, fingerprints never materialize
    * together with the clip). Everything downstream of this projection
    * is (clip, window, long) rows — the shape
    * [[graft.operators.Dedup.audioNearDuplicates]] blocks and
    * aggregates. Undecodable payloads contribute nothing (row-level
    * tolerance; count them upstream via the quarantine patterns).
    */
  def audioFingerprints(ds: Dataset[AvRecord],
      window: Int = graft.operators.Dedup.AudioWindow,
      hop: Int = graft.operators.Dedup.AudioHop)(
      implicit enc: org.apache.spark.sql.Encoder[AudioFpRow]): Dataset[AudioFpRow] = {
    // driver-side, loud: a config error must not masquerade as "every
    // clip undecodable". window/2 − window/32 bins must hold 65
    // strictly-increasing band edges: 15·window/32 ≥ 65 → window ≥ 256.
    require(window >= 256 && (window & (window - 1)) == 0,
      s"audioFingerprints: window must be a power of two >= 256 (got $window)")
    val h = if (hop == 0) window else hop // 0 = the non-overlapping default
    require(h >= 1 && h <= window,
      s"audioFingerprints: hop must be in [1, window] (got $hop)")
    ds.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.content == null) Iterator.empty
        else wavWindowFingerprints(r.content, window,
          graft.operators.Dedup.AudioMaxWindows, h) match {
          case None => Iterator.empty
          case Some(fps) =>
            fps.iterator.zipWithIndex.map { case (fp, i) =>
              AudioFpRow(r.id, i + 1, fp)
            }
        }
      }
    }
  }
}

package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.functions._
import graft.multimodal.ImageOps
import graft.operators.Dedup

/** Perceptual image dedup (round 16): dHash invariance under the
  * disguises that defeat byte-level dedup (re-encode, resize, format
  * shift), distance between genuinely different pictures, and the
  * pigeonhole-blocked join's exactness vs brute force.
  */
class ImageDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic textured image: seeded rectangles over a gradient —
    * enough structure that the 9×8 luminance grid carries signal (a
    * flat fill hashes to all-zero comparisons on ANY image). */
  private def picture(seed: Long, w: Int = 320, h: Int = 240): BufferedImage = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = im.createGraphics()
    val rnd = new scala.util.Random(seed)
    try {
      var x = 0
      while (x < w) { // horizontal gradient background
        g.setColor(new java.awt.Color(x * 255 / w, 128, 255 - x * 255 / w))
        g.fillRect(x, 0, 1, h)
        x += 1
      }
      for (_ <- 0 until 24) {
        g.setColor(new java.awt.Color(rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
        g.fillRect(rnd.nextInt(w - 40), rnd.nextInt(h - 40),
          20 + rnd.nextInt(60), 20 + rnd.nextInt(60))
      }
    } finally g.dispose()
    im
  }

  private def png(im: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("dHash: stable under re-encode/resize/format-shift, far apart across pictures, null on junk") {
    val seeds = Seq(1L, 2L, 3L, 4L, 5L)
    val hashes = seeds.map { s =>
      val im = picture(s)
      val orig = ImageOps.dHash(png(im)).get
      // the three disguises byte dedup misses
      val reenc = ImageOps.dHash(ImageOps.encodeJpeg(im, 0.4f)).get
      val resized = ImageOps.dHash(
        ImageOps.encodeJpeg(ImageOps.boundedResize(im, 160), 0.65f)).get
      val fmt = ImageOps.dHash(ImageOps.encodeJpeg(im, 0.9f)).get
      assert(hamming(orig, reenc) <= 3, s"seed $s re-encode: ${hamming(orig, reenc)}")
      assert(hamming(orig, resized) <= 3, s"seed $s resize: ${hamming(orig, resized)}")
      assert(hamming(orig, fmt) <= 3, s"seed $s format: ${hamming(orig, fmt)}")
      orig
    }
    for (Seq((a, i), (b, j)) <- hashes.zipWithIndex.combinations(2))
      assert(hamming(a, b) >= 10,
        s"pictures $i/$j must be far apart: ${hamming(a, b)}")
    assert(ImageOps.dHash(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("imageNearDuplicates finds the disguised copies, nothing else, and equals brute force") {
    // corpus: 8 distinct pictures; 1/2/3 also present as jpeg re-encodes
    // (ids 101/102/103) and picture 1 additionally as a half-resize (201)
    val rows: Seq[(Long, Array[Byte])] =
      (1L to 8L).map(s => s -> png(picture(s))) ++
        Seq(101L -> ImageOps.encodeJpeg(picture(1L), 0.4f),
          102L -> ImageOps.encodeJpeg(picture(2L), 0.4f),
          103L -> ImageOps.encodeJpeg(picture(3L), 0.4f),
          201L -> ImageOps.encodeJpeg(ImageOps.boundedResize(picture(1L), 160), 0.65f),
          999L -> Array[Byte](0, 1, 2)) // undecodable row must not kill the job
    val df = rows.toDF("img_id", "content").repartition(4).localCheckpoint(true)
    val got = Dedup.imageNearDuplicates(df, "img_id", "content",
        chunks = 8, maxHamming = 4)
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 101L), (2L, 102L), (3L, 103L), (1L, 201L), (101L, 201L)),
      s"planted disguise pairs exactly: $got")
    // blocking is exact for maxHamming < chunks: equals the brute-force
    // hamming join over the same hashes
    val sigs = df.select(col("img_id"),
        ImageOps.imageDHash(col("content")).as("sig"))
      .filter(col("sig").isNotNull).localCheckpoint(true)
    val brute = sigs.as("l").join(sigs.as("r"), col("l.img_id") < col("r.img_id"))
      .filter(graft.functions.VectorFunctions
        .hammingDistance(col("l.sig"), col("r.sig")) <= 4)
      .select(col("l.img_id").cast("long"), col("r.img_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(got == brute, s"blocked join must equal brute force: $got vs $brute")
  }

  test("ImageFixtures: intra-family dHash ≤ 2, cross-seed ≥ 12 — the q125 floors") {
    // q125's oracle predicts the exact pair list from id arithmetic;
    // that is sound only if the generator keeps disguised variants of a
    // seed within the query's maxHamming = 5 and different seeds far
    // outside it. Pin both floors with margin on a seed population the
    // size of the sf0.1 fixture selection.
    import graft.multimodal.ImageFixtures
    val seeds = (0L until 5000L by 5L).toSeq // q125's bases ∪ q130's fresh seeds
    val hashes = seeds.map { s =>
      val v0 = ImageOps.dHash(ImageFixtures.fixtureBytes(s, 0)).get
      val v1 = ImageOps.dHash(ImageFixtures.fixtureBytes(s, 1)).get
      val v2 = ImageOps.dHash(ImageFixtures.fixtureBytes(s, 2)).get
      assert(hamming(v0, v1) <= 2, s"seed $s re-encode drift: ${hamming(v0, v1)}")
      assert(hamming(v0, v2) <= 2, s"seed $s resize drift: ${hamming(v0, v2)}")
      assert(hamming(v1, v2) <= 2, s"seed $s variant spread: ${hamming(v1, v2)}")
      v0
    }
    // cross-seed: every pair far outside the threshold (variants can
    // only bridge 2+2 bits, so ≥ 12 base distance keeps pairs ≥ 8 > 5)
    var minD = 64
    for (i <- hashes.indices; j <- (i + 1) until hashes.size) {
      val d = hamming(hashes(i), hashes(j))
      if (d < minD) minD = d
      assert(d >= 12, s"seeds ${seeds(i)}/${seeds(j)} too close: $d")
    }
    info(s"cross-seed min distance over ${seeds.size} seeds: $minD")
  }

  test("incremental image dedup: two-run state ≡ one-shot, rerun no-op, retention drop") {
    import graft.multimodal.ImageFixtures
    val dir = java.nio.file.Files.createTempDirectory("imgstate").toString + "/state"
    def imgs(seeds: Seq[Long], variant: Int, idOff: Long = 0L) =
      seeds.map(s => (s + idOff, ImageFixtures.fixtureBytes(s, variant)))
        .toDF("img_id", "content")
    // the accumulated-state cadence: run 1 appends seeds 0/10/20, run 2
    // appends 30/40, run 1 is REDELIVERED verbatim (at-least-once)
    def sigs(df: org.apache.spark.sql.DataFrame, batchId: Long) =
      Dedup.imageSignatures(df, "img_id", "content")
        .withColumn("batch_id", lit(batchId))
    sigs(imgs(Seq(0L, 10L, 20L), 0), 1L).write.mode("append").parquet(dir)
    sigs(imgs(Seq(30L, 40L), 0), 2L).write.mode("append").parquet(dir)
    sigs(imgs(Seq(0L, 10L, 20L), 0), 1L).write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() == 8)
    // batch: disguised copies of 10 and 40 (re-encode / resize), one
    // fresh seed, one undecodable row
    val batch = imgs(Seq(10L), 1, 1000L)
      .unionByName(imgs(Seq(40L), 2, 1000L))
      .unionByName(imgs(Seq(55L), 0, 1000L))
      .unionByName(Seq((2000L, Array[Byte](9, 9))).toDF("img_id", "content"))
    def verdicts(state: org.apache.spark.sql.DataFrame) =
      Dedup.imageNearDuplicatesVsState(batch, "img_id", "content", state)
        .select(col("img_id"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .as[(Long, Long)].collect().toMap
    val persisted = verdicts(spark.read.parquet(dir))
    assert(persisted == Map(1010L -> 10L, 1040L -> 40L, 1055L -> -1L, 2000L -> -1L),
      s"copies flag to their source, fresh+undecodable survive: $persisted")
    // one-shot state (no runs, no duplicates) gives identical verdicts
    val oneShot = verdicts(Dedup.imageSignatures(
      imgs(Seq(0L, 10L, 20L, 30L, 40L), 0), "img_id", "content"))
    assert(oneShot == persisted, "incremental state must equal one-shot")
    // compaction: keep-latest collapses the redelivered rows, verdicts hold
    val (b1, a1) = Dedup.compactSignatureStateKeys(spark, dir, Seq("img_id"),
      versionCol = Some("batch_id"), retain = None)
    assert(b1 == 8 && a1 == 5, s"keep-latest must leave one row per image: $b1 -> $a1")
    assert(verdicts(spark.read.parquet(dir)) == persisted)
    // rerun no-op
    val (b2, a2) = Dedup.compactSignatureStateKeys(spark, dir, Seq("img_id"),
      versionCol = Some("batch_id"), retain = None)
    assert(b2 == 5 && a2 == 5, s"rerun must keep every row: $b2 -> $a2")
    // retention: dropping the old batch un-flags its copies
    val (_, a3) = Dedup.compactSignatureStateKeys(spark, dir, Seq("img_id"),
      versionCol = Some("batch_id"), retain = Some(col("batch_id") >= 2L))
    assert(a3 == 2, s"retention must keep only run 2: $a3")
    val retained = verdicts(spark.read.parquet(dir))
    assert(retained == Map(1010L -> -1L, 1040L -> 40L, 1055L -> -1L, 2000L -> -1L),
      s"after retention only run-2 sources still match: $retained")
  }

  test("dHashCanonical: bit-identical across ALL 8 dihedral transforms; plain dHash provably is not") {
    // the exact invariance the canonical form promises (r17 item 6):
    // a lossless rotation/mirror yields the same 8-grid set, so the
    // unsigned-min signature is equal BIT-FOR-BIT — no threshold needed
    for (seed <- Seq(3L, 41L, 977L)) {
      val base = picture(seed)
      val sigs = (0 until 8).map(t =>
        ImageOps.dHashCanonical(png(ImageOps.dihedral(base, t))).get)
      assert(sigs.distinct.size == 1,
        s"seed $seed: canonical sig must be invariant, got ${sigs.distinct}")
      // identity transform is the image itself
      assert(sigs.head == ImageOps.dHashCanonical(png(base)).get)
      // the gap being closed: plain dHash puts the mirror far away
      val plain = ImageOps.dHash(png(base)).get
      val mirrored = ImageOps.dHash(png(ImageOps.dihedral(base, 4))).get
      assert(hamming(plain, mirrored) > 5,
        s"seed $seed: plain dHash should miss the mirror (d=${hamming(plain, mirrored)})")
    }
    // junk bytes still read null
    assert(ImageOps.dHashCanonical("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("oriented fixtures: lossless variants bit-equal, cross-seed canonical floor > 5 — the q134 floors") {
    // q134's oracle predicts the exact pair list from id arithmetic;
    // sound iff (a) the mirrored/rotated variants hash EXACTLY to their
    // base's canonical sig (lossless ⇒ guaranteed, pinned here) and
    // (b) different seeds stay outside maxHamming = 5 under the
    // canonical min (min-of-8 shrinks distances vs plain dHash, so the
    // q125 ≥ 12 floor does NOT transfer — measure it on the same
    // pinned population).
    import graft.multimodal.ImageFixtures
    val seeds = (0L until 5000L by 5L).toSeq
    val canon = seeds.map { s =>
      val c0 = ImageOps.dHashCanonical(ImageFixtures.fixtureBytes(s, 0)).get
      val c3 = ImageOps.dHashCanonical(ImageFixtures.fixtureBytes(s, 3)).get
      val c4 = ImageOps.dHashCanonical(ImageFixtures.fixtureBytes(s, 4)).get
      assert(c0 == c3 && c0 == c4,
        s"seed $s: lossless orientation variants must hash bit-equal")
      c0
    }
    var minD = 64
    for (i <- canon.indices; j <- (i + 1) until canon.size) {
      val d = hamming(canon(i), canon(j))
      if (d < minD) minD = d
      assert(d > 5, s"seeds ${seeds(i)}/${seeds(j)} canonically too close: $d")
    }
    info(s"cross-seed canonical min distance over ${seeds.size} seeds: $minD")
  }

  test("imageNearDuplicates(orientationRobust): finds mirrored/rotated copies the plain path misses") {
    val rows = Seq(
      1L -> png(picture(11L)),
      2L -> png(ImageOps.dihedral(picture(11L), 4)), // mirror of 1
      3L -> png(ImageOps.dihedral(picture(11L), 3)), // rot270 of 1
      4L -> png(picture(99L))                        // unrelated
    ).toDF("img_id", "content")
    val oriented = Dedup.imageNearDuplicates(rows, "img_id", "content",
        chunks = 8, maxHamming = 5, orientationRobust = true)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().sorted.toSeq
    assert(oriented == Seq((1L, 2L), (1L, 3L), (2L, 3L)),
      s"the orientation family must collapse: $oriented")
    val plain = Dedup.imageNearDuplicates(rows, "img_id", "content",
        chunks = 8, maxHamming = 5)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().sorted.toSeq
    assert(plain.isEmpty, s"plain dHash must miss the re-oriented copies: $plain")
    // the incremental path honors the same dial: state = image 1, batch
    // = its mirror → flagged as dup_of 1
    val state = Dedup.imageSignatures(
      rows.filter(col("img_id") === 1L), "img_id", "content",
      orientationRobust = true)
    val flagged = Dedup.imageNearDuplicatesVsState(
        rows.filter(col("img_id") === 2L), "img_id", "content", state,
        orientationRobust = true)
      .select(col("img_id"), col("dup_of")).as[(Long, Long)].collect().toSeq
    assert(flagged == Seq((2L, 1L)), s"incremental oriented dedup: $flagged")
  }

  test("strict oriented near-dup: composed (mirror+JPEG) disguises match; strict floors re-pinned") {
    import graft.multimodal.ImageFixtures
    // intra-family: the composed disguise sits within a couple of bits
    // of its base under the min cross-orientation distance (the tiny
    // textured corpus runs at a loose threshold — no false-pair risk
    // at 3 images; production corpora use the tight default, see the
    // floor measurement below)
    val rows = Seq(
      1L -> png(picture(11L)),
      2L -> ImageOps.encodeJpeg(ImageOps.dihedral(picture(11L), 4), 0.4f), // mirror+JPEG of 1
      3L -> png(picture(99L))
    ).toDF("img_id", "content")
    val strict = Dedup.imageNearDuplicatesOrientedStrict(rows, "img_id", "content",
        chunks = 8, maxHamming = 5)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().sorted.toSeq
    assert(strict == Seq((1L, 2L)),
      s"composed disguise must match its base, nothing else: $strict")
    // strict floors on the pinned fixture population: min over the 64
    // cross-orientation signature pairs ERODES distances vs the plain
    // dHash >= 12 floor (measured: 3 over the full population) — the
    // reason the operator's default threshold is 2 and its scaladoc
    // frames web-scale use as candidate-generation. Pinned so a
    // generator or signature change that tightens/loosens it is caught
    val seeds = (0L until 5000L by 5L).toSeq // the FULL pinned population
    val sigSets = seeds.map(sd =>
      ImageOps.dHashOrientations(ImageFixtures.fixtureBytes(sd, 0)).get)
    // composed-variant closeness on the same population
    for (sd <- seeds.take(20)) {
      val composed = ImageOps.dHashOrientations(ImageFixtures.fixtureBytes(sd, 5)).get
      val base = ImageOps.dHashOrientations(ImageFixtures.fixtureBytes(sd, 0)).get
      val d = (for (a <- composed; b <- base) yield hamming(a, b)).min
      assert(d <= 2, s"seed $sd: composed disguise must match at the default threshold: $d")
    }
    var minD = 64
    for (i <- sigSets.indices; j <- (i + 1) until sigSets.size) {
      val d = (for (a <- sigSets(i); b <- sigSets(j)) yield hamming(a, b)).min
      if (d < minD) minD = d
    }
    info(s"strict cross-seed min distance over ${seeds.size} seeds: $minD")
    assert(minD > 2, s"strict cross-seed floor must clear the default threshold 2: $minD")
  }

  test("verified oriented near-dup: loose candidates provably mis-threshold, grid verify restores exactness") {
    import graft.multimodal.ImageFixtures
    // the pinned population again, at the VERIFIED operator's loose
    // candidate threshold (3 = the measured strict floor): the false
    // candidate set is provably non-empty — the precision/recall
    // squeeze the verify stage exists to resolve
    val seeds = (0L until 5000L by 5L).toSeq
    val bytes = seeds.map(sd => ImageFixtures.fixtureBytes(sd, 0))
    val sigSets = bytes.map(b => ImageOps.dHashOrientations(b).get)
    val falseCands = (for {
      i <- sigSets.indices.iterator
      j <- ((i + 1) until sigSets.size).iterator
      if (for (a <- sigSets(i); b <- sigSets(j)) yield hamming(a, b)).min <= 3
    } yield (i, j)).toSeq
    assert(falseCands.nonEmpty,
      "threshold 3 must admit at least one cross-seed candidate (the measured floor IS 3)")
    // the grid verify rejects EVERY false candidate with a wide margin
    // below/above the default cut (8 gray levels), and passes every
    // composed disguise equally wide — both margins pinned
    val falseDists = falseCands.map { case (i, j) =>
      ImageOps.gridMinDistance(bytes(i), bytes(j)).get }
    info(f"false candidates at threshold 3: ${falseCands.size}; grid-distance min=${falseDists.min}%.2f")
    assert(falseDists.forall(_ > 12.0),
      s"verify must reject every false candidate with margin: min=${falseDists.min}")
    val composedDists = seeds.take(20).map { sd =>
      ImageOps.gridMinDistance(
        ImageFixtures.fixtureBytes(sd, 0), ImageFixtures.fixtureBytes(sd, 5)).get }
    info(f"composed-pair grid distances: max=${composedDists.max}%.2f")
    assert(composedDists.forall(_ <= 4.0),
      s"composed disguises must verify inside the default: max=${composedDists.max}")

    // end-to-end on a corpus holding the measured false pair AND a real
    // composed family: the candidate stage alone emits the false pair,
    // the verified operator returns exactly the family, keep-one keeps
    // both distinct pictures
    val (fi, fj) = falseCands.head
    val rows = Seq(
      1L -> bytes(fi),
      2L -> ImageFixtures.fixtureBytes(seeds(fi), 5), // composed copy of 1
      3L -> bytes(fj)                                 // strict collision with 1
    ).toDF("img_id", "content")
    val strict = Dedup.imageNearDuplicatesOrientedStrict(rows, "img_id", "content",
        chunks = 8, maxHamming = 3)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().sorted.toSeq
    assert(strict.contains((1L, 3L)),
      s"the candidate stage ALONE must emit the false pair here: $strict")
    val verified = Dedup.imageNearDuplicatesOrientedVerified(rows, "img_id", "content")
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().sorted.toSeq
    assert(verified == Seq((1L, 2L)),
      s"verify must keep the family and kill the false pair: $verified")
    val kept = Dedup.keepOnePerCluster(rows, "img_id",
        Dedup.imageNearDuplicatesOrientedVerified(rows, "img_id", "content"))
      .select(col("img_id")).as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L), s"keep-one after verify: $kept")
  }

  test("oriented-verified vs-state: stored grid blobs verify candidates without archive bytes") {
    import graft.multimodal.ImageFixtures
    // the stored-blob metric IS the decode-path metric (shared core +
    // int-rounded cells): parity within the rounding bound
    val pa = ImageFixtures.fixtureBytes(11L, 0)
    val pb = ImageFixtures.fixtureBytes(11L, 5)
    val d1 = ImageOps.gridMinDistance(pa, pb).get
    val d2 = ImageOps.gridBlobMinDistance(
      ImageOps.gridBlob(pa).get, ImageOps.gridBlob(pb).get)
    assert(math.abs(d1 - d2) < 0.01, s"blob metric must match decode metric: $d1 vs $d2")
    // find the population's first strict collision at the loose
    // threshold (the measured floor is 3, so one exists)
    val seeds = (0L until 5000L by 5L).toSeq
    val sigSets = seeds.map(sd =>
      ImageOps.dHashOrientations(ImageFixtures.fixtureBytes(sd, 0)).get)
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val falsePair = (for {
      i <- sigSets.indices.iterator
      j <- ((i + 1) until sigSets.size).iterator
      if (for (a <- sigSets(i); b <- sigSets(j)) yield hamming(a, b)).min <= 3
    } yield (i, j)).nextOption()
    assert(falsePair.nonEmpty, "the measured strict floor is 3 — a collision must exist")
    val (fi, fj) = falsePair.get
    // ARCHIVE: state rows for the collision seed + another base; the
    // image bytes never appear again below this line
    val state = Dedup.imageOrientedSignatures(
      Seq(1L -> ImageFixtures.fixtureBytes(seeds(fi), 0),
          9L -> ImageFixtures.fixtureBytes(seeds(3), 0)).toDF("img_id", "content"),
      "img_id", "content")
    assert(state.head().getAs[Array[Byte]]("grids").length == 2304)
    // batch: the composed disguise of the collision seed (must flag to
    // 1), the strict-colliding OTHER seed (candidate admitted, verify
    // must kill it -> survives), one fresh seed
    val batch = Seq(
      101L -> ImageFixtures.fixtureBytes(seeds(fi), 5),
      103L -> ImageFixtures.fixtureBytes(seeds(fj), 0),
      155L -> ImageFixtures.fixtureBytes(777L, 0)
    ).toDF("img_id", "content")
    val res = Dedup.imageNearDuplicatesOrientedVerifiedVsState(
        batch, "img_id", "content", state)
      .select(col("img_id"), coalesce(col("dup_of"), lit(-1L)))
      .as[(Long, Long)].collect().toMap
    assert(res == Map(101L -> 1L, 103L -> -1L, 155L -> -1L),
      s"verified vs-state verdicts: $res")
    // state maintenance: the generic keep-latest compaction carries
    // the blob rows unchanged
    val dir = java.nio.file.Files.createTempDirectory("ovstate_").toString
    state.withColumn("v", lit(1L)).write.mode("append").parquet(dir)
    state.withColumn("v", lit(2L)).write.mode("append").parquet(dir)
    val (nb, na) = Dedup.compactSignatureStateKeys(spark, dir, Seq("img_id"),
      versionCol = Some("v"), retain = None)
    assert(nb == 4 && na == 2, s"keep-latest per image: $nb -> $na")
    val res2 = Dedup.imageNearDuplicatesOrientedVerifiedVsState(
        batch, "img_id", "content", spark.read.parquet(dir).drop("v"))
      .select(col("img_id"), coalesce(col("dup_of"), lit(-1L)))
      .as[(Long, Long)].collect().toMap
    assert(res2 == res, "compaction must not change verdicts")
  }
}

package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val procStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - procStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.localCpus
    val spark = Sessions.local()
    // dev loop: SPARK_GRAFT_ONLY=q44,q28 benches just the named queries
    // (substring match); unset = the full suite the driver records
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
    // Whole-process CPU time (all N executor threads run in this JVM under
    // local[N], N = $cpus, so this captures every core-second the engine
    // burns). CPU seconds are nearly invariant to external CPU steal, so the
    // wall/cpu ratio in the artifact self-documents host contention: engine
    // cost is ~cpu/N..cpu/1 depending on parallelism, while steal inflates
    // wall only.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // Queries that threw this run: their fail-fast wall time is NOT a
    // measurement (round-8 lesson: 7 analysis-broken queries recorded
    // ~0.05 s and read as 100× speedups). They are excluded from
    // `queries`/totals and listed under "errors" in the artifact.
    val errored = scala.collection.mutable.LinkedHashMap[String, String]()
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      // noop sink: full materialization of every result row without
      // writing — measures compute, not the local disk.
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        // a query that failed earlier (e.g. transiently during warmup) but
        // succeeds now IS measured — listing it under BOTH errors and
        // queries would make the artifact self-contradictory and a driver
        // trusting "errors" would discard a valid measurement
        errored.remove(name)
        true
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        errored(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        false
      }
    // Kill-safety (round-6 lesson: a driver-side kill mid-pass-5 left
    // `parsed: null` for the whole round because the artifact was written
    // only at the very end): the wall budget is measured from PROCESS start
    // (so warmup + session init count against it), it is enforced PER-QUERY
    // (a pass can stop mid-flight), and the artifact file is rewritten after
    // EVERY timed query, so an external kill at any moment leaves the best
    // measurements taken so far on disk.
    val maxTotalSec = sys.env.getOrElse("SPARK_GRAFT_MAX_SEC", "1700").toDouble
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt.max(1)
    val bestWall = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cpuAtBest = scala.collection.mutable.LinkedHashMap[String, Double]()
    var passesCompleted = 0
    // sf1 scale stage state (stage runs after the canonical sweep; see
    // below) — declared here so the artifact can carry its results
    val sf1Dir = "target/scale/sf1"
    val sf1Factor = 10
    val sf1Wall = scala.collection.mutable.LinkedHashMap[String, Double]()
    val sf1Cpu = scala.collection.mutable.LinkedHashMap[String, Double]()
    val sf1Errored = scala.collection.mutable.LinkedHashMap[String, String]()
    var sf1Passes = 0
    var sf1Bailed = false
    // foto stage results (the reference's literal workload; stage below)
    var fotoWall = Double.NaN; var fotoCpu = Double.NaN
    var fotoRows = -1L; var fotoBad = -1L; var fotoN = 0
    // ---- round-over-round self-adjudication (r16 verdict item 6) ----
    // Same-code sweeps of this suite have spanned 97.5–106.3 s WALL
    // under host window drift while cpu stayed flat, so the artifact
    // carries (a) a run_id tying it to the BASELINE.md narrative that
    // discusses it and (b) a CPU-based common-subset ratio vs the
    // PRIOR ROUND's frozen artifact (BENCH_PREV.json — refreshed from
    // BENCH_FULL.json at each round START, see BASELINE.md), cpu being
    // the long-standing r6 adjudication rule. A ratio ≈ 1 on the
    // common subset means the tree moved nothing; readers never again
    // have to reconcile four wall numbers by hand.
    val runId = java.lang.Long.toHexString(System.currentTimeMillis()) + "-" +
      java.lang.Integer.toHexString(scala.util.Random.nextInt())
    // the host fingerprint (perfbench's fields): a CPU ratio against an
    // artifact from another host measures the hosts, not the tree, so
    // the ratio below is printed only against an equal fingerprint
    val host = s"""{"nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory >> 20},""" +
      s""""jvm":"${System.getProperty("java.vm.version")}",""" +
      s""""spark":"${org.apache.spark.SPARK_VERSION}"}"""
    val (prevCpu, prevRunId): (Map[String, Double], String) =
      try {
        val p = java.nio.file.Paths.get("BENCH_PREV.json")
        if (!java.nio.file.Files.exists(p)) (Map.empty, "")
        else {
          val txt = java.nio.file.Files.readString(p)
          val m = java.util.regex.Pattern
            .compile("\"cpu_sec_queries\":\\{([^}]*)\\}").matcher(txt)
          val cpuMap =
            if (!m.find() || m.group(1).isEmpty) Map.empty[String, Double]
            else m.group(1).split(",").iterator.map { kv =>
              val i = kv.lastIndexOf(':')
              kv.take(i).trim.stripPrefix("\"").stripSuffix("\"") ->
                kv.drop(i + 1).toDouble
            }.toMap
          val rid = java.util.regex.Pattern
            .compile("\"run_id\":\"([^\"]*)\"").matcher(txt)
          // the ratio is only meaningful like-for-like: a dev loop at
          // another SF must not emit a nonsense cross-scale number
          val sfM = java.util.regex.Pattern
            .compile("\"sf\":\"([^\"]*)\"").matcher(txt)
          val sameSf = sfM.find() && sfM.group(1) == sfDir
          val hostM = java.util.regex.Pattern.compile("\"host\":(\\{[^}]*\\})").matcher(txt)
          val prevHost = if (hostM.find()) Some(hostM.group(1)) else None
          if (!prevHost.contains(host)) System.err.println(
            "[bench] no common_subset_cpu_ratio: BENCH_PREV.json " + prevHost.fold(
              "carries no host fingerprint")(h => s"was recorded on host $h, this is $host"))
          (if (sameSf && prevHost.contains(host)) cpuMap else Map.empty,
            if (rid.find()) rid.group(1) else "")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] BENCH_PREV.json unreadable: $e")
        (Map.empty, "")
      }
    // Janino compiles (Spark's codegen cache misses) of the warm-up and
    // of each completed timed pass: the warm-up fills the cache, and a
    // timed pass that still compiles pays for it in its CPU
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var warmupCompiles = 0L
    val passCompiles = scala.collection.mutable.ArrayBuffer[Long]()
    def artifactJson(finalLine: Boolean): String = {
      // ms precision everywhere: sub-ms digits are noise and the driver's
      // stdout capture keeps only a bounded TAIL of the line — shorter
      // entries mean more of the per-query map survives the cut
      def r3(v: Double): String = // Locale.ROOT: a comma decimal point would corrupt the JSON
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      def jmap(m: Seq[(String, Double)]): String =
        m.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
      def jarr(ns: Iterable[String]): String =
        ns.map(n => "\"" + n + "\"").mkString("[", ",", "]")
      val measured = sorted.collect { case (name, _) if bestWall.contains(name) => name }
      val qs = jmap(measured.map(n => n -> bestWall(n)))
      val cpus2 = jmap(measured.map(n => n -> cpuAtBest(n)))
      val total = measured.map(bestWall).sum
      val cpuTotal = measured.map(cpuAtBest).sum
      val partial = if (measured.size < sorted.size) ""","partial":true""" else ""
      val errs = jarr(errored.keys)
      val sf1Part = if (sf1Wall.isEmpty) "" else {
        val names = sf1Wall.keys.toSeq
        // partial: the budget bailed before pass 1 completed — entries
        // are COLD single-run walls, not the min-of-reps steady state;
        // round-over-round comparisons must skip them
        val partialSf1 = if (sf1Bailed || sf1Passes == 0) ""","partial":true""" else ""
        s""","sf1":{"dir":"$sf1Dir","factor":$sf1Factor,"reps":$sf1Passes$partialSf1,""" +
          s""""queries":${jmap(names.map(n => n -> sf1Wall(n)))},""" +
          s""""cpu_sec_queries":${jmap(names.map(n => n -> sf1Cpu(n)))},""" +
          s""""total":${r3(sf1Wall.values.sum)},"errors":${jarr(sf1Errored.keys)}}"""
      }
      val fotoPart = if (fotoRows < 0) "" else
        s""","foto":{"corpus_images":$fotoN,"rows_out":$fotoRows,""" +
          s""""wall_sec":${r3(fotoWall)},"cpu_sec":${r3(fotoCpu)},""" +
          s""""golden_violations":$fotoBad}"""
      // field order is deliberate: the headline prefix satisfies the
      // "starts with {"metric":"total"" contract, the big per-query maps
      // sit in the middle, and every SUMMARY scalar (totals, reps,
      // errors, counts, sf) comes LAST so a tail-truncated capture still
      // carries the round's comparable numbers; the untruncated line is
      // persisted to BENCH_FULL.json on every full run
      val commonSubset = measured.filter(prevCpu.contains)
      val ratioPart =
        if (commonSubset.isEmpty) ""
        else {
          val prevSum = commonSubset.map(prevCpu).sum
          if (prevSum <= 0) "" else
            s""","common_subset_cpu_ratio":${r3(commonSubset.map(cpuAtBest).sum / prevSum)},""" +
              s""""common_subset_n":${commonSubset.size},"prev_run_id":"$prevRunId""""
        }
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,""" +
        s""""cpu_sec_queries":$cpus2$sf1Part$fotoPart,""" +
        s""""cpu_sec_total":${r3(cpuTotal)},"reps":$passesCompleted,""" +
        s""""errors":$errs,""" +
        s""""queries_measured":${measured.size},"queries_declared":${sorted.size}$partial,""" +
        s""""run_id":"$runId"$ratioPart,""" +
        // the artifact self-documents its core count (r19 PERF flagged the
        // scaling block as illegible without it): $SPARK_GRAFT_CPUS as
        // requested (else availableProcessors), plus the session's actual
        // defaultParallelism — artifacts from hosts of different core
        // counts visibly differ in the recorded fields
        s""""cpus":${spark.sparkContext.defaultParallelism},"cpus_env":"$cpus",""" +
        s""""host":$host,"codegen_compiles":{"warmup":$warmupCompiles,""" +
        s""""passes":${passCompiles.mkString("[", ",", "]")}},""" +
        s""""note":"cpu_sec is whole-process CPU of the best wall rep; full artifact in BENCH_FULL.json","sf":"$sfDir"}"""
    }
    def persist(): Unit =
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LOCAL.json"), artifactJson(finalLine = false) + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    // untimed warmup pass: JIT + codegen + parquet footer caches, so the
    // timed pass measures steady-state compute. Under heavy steal the
    // warmup itself can eat the round budget — bail out of the remaining
    // warmups past 35% of it; pass 1 still covers every query.
    val w0 = System.nanoTime()
    val k0 = compiles
    var warmed = 0
    sorted.foreach { case (n, f) =>
      if (elapsed < 0.35 * maxTotalSec) { runOnce(n, f); warmed += 1 }
    }
    warmupCompiles = compiles - k0
    if (warmed < sorted.size)
      System.err.println(s"[bench] warmup bailed at $warmed/${sorted.size} queries (budget)")
    System.err.println(
      f"[bench] warmup pass: $warmed queries in ${(System.nanoTime() - w0) / 1e9}%.1f s" +
        s" (heap max ${Runtime.getRuntime.maxMemory() >> 20} MiB)")
    // The VM this runs in sees transient host-level CPU steal: identical
    // passes of the same suite have measured 68 s and 491 s back-to-back
    // with zero JVM/GC/code-cache warnings. One timed pass therefore
    // measures the host's mood, not the engine. Run REPS timed passes
    // (rep-major, so a contention burst hits whole passes, not one query
    // in every pass) and report each query's MINIMUM wall time — the
    // standard steady-state estimator under external interference — plus
    // the process-CPU-seconds of that same best rep.
    var lastPassSec = 0.0
    var r = 1
    var budgetHit = false
    // pass 1 always runs to completion (every query needs >= 1 measurement);
    // later passes start only if half of the previous pass still fits, and
    // bail between queries the moment the budget is gone.
    while (r <= reps && !budgetHit &&
        (r == 1 || elapsed + 0.5 * lastPassSec < maxTotalSec)) {
      val r0 = System.nanoTime()
      val k0 = compiles
      var bailed = false
      sorted.foreach { case (name, fn) =>
        if (r > 1 && elapsed >= maxTotalSec) {
          if (!bailed) System.err.println(
            f"[bench] budget ($maxTotalSec%.0f s) hit mid-pass $r at $name — bailing")
          bailed = true; budgetHit = true
        } else {
          val c0 = osBean.getProcessCpuTime
          val t0 = System.nanoTime()
          val ok = runOnce(name, fn)
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu = (osBean.getProcessCpuTime - c0) / 1e9
          // straggler forensics: a query far off its best-so-far is either
          // host steal (cpu ≪ wall) or real in-JVM degradation (cpu ≈ wall,
          // e.g. interpreted paths going megamorphic late in a session) —
          // log which, so swings in the recorded min are attributable
          bestWall.get(name).filter(b => wall > 3 * b && wall > 2.0).foreach(b =>
            System.err.println(f"[bench] straggler pass $r: $name wall $wall%.1f s (best $b%.1f) cpu $cpu%.1f s"))
          // a thrown query's fail-fast time is not a measurement — keep it
          // out of the timing table entirely (it lands in "errors" instead)
          if (ok && bestWall.get(name).forall(wall < _)) { bestWall(name) = wall; cpuAtBest(name) = cpu }
          persist()
        }
      }
      if (!bailed) {
        passesCompleted = r
        passCompiles += compiles - k0
        lastPassSec = (System.nanoTime() - r0) / 1e9
        System.err.println(f"[bench] timed pass $r/$reps: $lastPassSec%.1f s (elapsed $elapsed%.1f s)")
        persist()
      }
      r += 1
    }
    // ---- sf1 scale stage: the per-round scale-regression sentinel ----
    // The sf0.1 sweep cannot see SF-proportional plan regressions (a
    // stage that is accidentally quadratic in data volume looks fine at
    // 600k rows); this stage re-measures the BASELINE.md part-1/part-2
    // representative union at a synthetic 10× replication of the bench
    // fixtures so every round's artifact carries a comparable sf1
    // column. It runs strictly AFTER the canonical sweep (it can never
    // displace the primary numbers), is skipped in dev loops
    // (SPARK_GRAFT_ONLY) or with SPARK_GRAFT_SF1=0, and bails between
    // queries once the global wall budget is spent. The synthetic data
    // (ScaleUp: FK-consistent key shifts, per-replica text rotation,
    // embedding isometry — dedup structure replicates exactly 10×) is
    // deterministic, so it is regenerated only when the (srcDir,
    // factor) fingerprint marker is missing or stale (~30 s when it
    // does run).
    val sf1QueryNames = Set(
      // part 1: scan/join/agg/window/text representatives
      "q01_pricing_summary", "q02_distinct_counts", "q03_top_revenue",
      "q04_region_stats", "q09_topk_orders_per_cust", "q11_running_spend",
      "q13_cube_lineitem", "q21_sessionize", "q24_token_stats",
      "q25_text_quality", "q39_winnow_fingerprint",
      // part 2: the dedup/ANN family (pair-explosion sentinels)
      "q23_dedup_exact", "q27_fingerprint", "q28_shingle_jaccard",
      "q29_cosine_topk", "q30_embedding_neardup", "q32_minhash_bands",
      "q33_simhash", "q34_ann_lsh_topk", "q37_minhash_neardup_pairs",
      "q54_decontaminate", "q63_span_dedup", "q75_incremental_neardup",
      "q77_embed_decontaminate", "q82_keep_best_per_cluster",
      "q86_bpe_train", "q88_jaccard_join_exact", "q94_semantic_dedup",
      // round 12: the sketch-state family joins the scale sentinels —
      // q96's HLL merge must stay sketch-sized and q97's MG candidate
      // shuffle must stay m-bounded however large the stream
      "q96_hll_incremental_distinct", "q97_heavy_hitters",
      // round 13: the exact histogram state must stay bucket-sized
      "q106_hist_quantile_state",
      // round 13: the containment join is pair-explosion-shaped by
      // construction (probe prefixes × full corpus index) — exactly
      // what the sentinels watch for
      "q105_containment_join",
      // round 14: indexed BM25 + indexed IVF ANN — both build their
      // index ONCE per fixture fingerprint, so the sentinel watches the
      // PROBE path: BM25 scoring must stay matched-postings-sized (term
      // pushdown) and the ANN probe must stay probed-cells-sized as the
      // corpus grows. q108 is deliberately NOT a sentinel: its in-query
      // lifecycle (3 ingests + full-index compaction) dominates its
      // wall and would drown the probe-path signal; the probe path is
      // covered by q105 (one-shot twin) + the BASELINE r14 cadence A/B.
      "q109_bm25_indexed", "q110_ivf_index_planted",
      // round 15: the residual-PQ probe + exact rerank — the sentinel
      // watches that the quantized shortlist stays candidate-bounded
      // and the rerank's corpus touch stays shortlist-sized as the
      // corpus grows (the corpus itself must never shuffle)
      "q115_pq_index_rerank",
      // round 16: the composed text→embed→index bridge (the embed must
      // stay a pure shuffle-free projection and the probe
      // probed-cells-sized as documents grow) and the KLL float-
      // quantile state (reads must stay sketch-sized per key however
      // long the stream)
      "q123_text_ann_bridge", "q124_kll_quantile_state",
      // round 17: the image near-dup family (blocked hamming join with
      // the exact-signature collapse — pair-explosion-shaped by
      // construction, and the decode is the linear cost the sentinel
      // baselines) and the filtered ANN probe (the candidate semi-join
      // must stay probed-cells-sized as the corpus grows). q126/q127
      // are deliberately lifecycle-heavy like q108 and stay out.
      "q125_image_neardup_planted", "q128_filtered_ann",
      "q130_image_state_oracle", "q131_bm25_filtered",
      // round 18: the predicate-filtered (metadata-in-postings) probes
      // — the pushed filter must keep the probe probed-cells-/matched-
      // postings-sized as the corpus grows (no id-set join to hide
      // corpus-shaped work in) — and the dihedral-canonical image
      // family (decode-linear like q125, with the 8-grid accumulation
      // as the fixed per-image constant the sentinel baselines)
      "q133_metadata_filtered_ann", "q134_image_neardup_oriented",
      "q135_bm25_metadata_filtered",
      // round 19: the audio sequence-signature family — the (clip,
      // window) blocked hamming join + two-sided pair aggregation is
      // pair-explosion-shaped (window count scales with corpus), and
      // the streamed FFT decode is the linear per-clip constant the
      // sentinel baselines; q140 adds the vs-state probe path (state
      // build + batch-only decode). q137/q138/q141 are deliberately
      // out: their cost is image/JPEG-decode-dominated (the q134
      // sentinel already baselines that class) and the video fixture
      // corpus at 10x would drown every other sentinel's signal.
      "q139_audio_neardup", "q140_audio_state_oracle")
    val sf1Enabled = only.isEmpty && sys.env.getOrElse("SPARK_GRAFT_SF1", "1") != "0"
    if (sf1Enabled && elapsed + 120 < maxTotalSec) {
      try {
        if (!ScaleUp.isFresh(sfDir, sf1Dir, sf1Factor)) {
          System.err.println(s"[bench] sf1: generating $sf1Dir = $sfDir x$sf1Factor")
          ScaleUp.generate(spark, sfDir, sf1Dir, sf1Factor)
        }
        val subset = sorted.filter { case (n, _) => sf1QueryNames.contains(n) }
        val sf1Reps = 3
        var p = 1
        var bail = false
        while (p <= sf1Reps && !bail) {
          val p0 = System.nanoTime()
          subset.foreach { case (name, fn) =>
            if (elapsed >= maxTotalSec) {
              if (!bail) System.err.println(
                f"[bench] budget ($maxTotalSec%.0f s) hit in sf1 pass $p at $name — bailing")
              bail = true; sf1Bailed = true
            } else {
              val c0 = osBean.getProcessCpuTime
              val t0 = System.nanoTime()
              try {
                fn(spark, sf1Dir).write.mode("overwrite").format("noop").save()
                val wall = (System.nanoTime() - t0) / 1e9
                val cpu = (osBean.getProcessCpuTime - c0) / 1e9
                sf1Errored.remove(name)
                // min-of-reps, like the canonical sweep; pass 1 doubles
                // as the warmup (min over 3 discards the cold pass)
                if (sf1Wall.get(name).forall(wall < _)) {
                  sf1Wall(name) = wall; sf1Cpu(name) = cpu
                }
              } catch { case e: Throwable =>
                System.err.println(s"[bench] sf1 $name failed: $e")
                sf1Errored(name) =
                  Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
              }
              persist()
            }
          }
          if (!bail) {
            sf1Passes = p
            System.err.println(
              f"[bench] sf1 pass $p/$sf1Reps: ${(System.nanoTime() - p0) / 1e9}%.1f s" +
                f" (elapsed $elapsed%.1f s)")
            persist()
          }
          p += 1
        }
      } catch { case e: Throwable =>
        // the sf1 stage must never take the canonical artifact down
        System.err.println(s"[bench] sf1 stage failed: $e")
      }
    }
    // ---- foto stage: the reference's LITERAL workload, timed ----
    // test.py's whole dataflow (forms export → unpivot → normalize →
    // state anti-join → dim lookup → blob join → decode/resize/encode →
    // partitioned sink + metadata) over a deterministic generated image
    // corpus (FotoFixture), min-of-3 walls, plus the SURVEY §5.2 golden
    // contract on the final rep's output (expected dims replayed from
    // the id with the reference's truncation arithmetic). Runs after
    // the sweeps; skipped in dev loops unless SPARK_GRAFT_FOTO is set.
    val fotoEnabled = sys.env.get("SPARK_GRAFT_FOTO") match {
      case Some("0") => false
      case Some(_) => true // explicit opt-in runs even with SPARK_GRAFT_ONLY
      case None => only.isEmpty
    }
    if (fotoEnabled && elapsed + 90 < maxTotalSec) {
      try {
        fotoN = 5000
        val corpusDir = "target/scale/foto"
        val marker = java.nio.file.Paths.get(corpusDir, "_FOTO_SRC")
        val want = s"${graft.pipeline.FotoFixture.Version}|n=$fotoN"
        val have =
          if (java.nio.file.Files.exists(marker))
            java.nio.file.Files.readString(marker).trim
          else ""
        if (have != want) {
          System.err.println(s"[bench] foto: generating $corpusDir n=$fotoN")
          val g0 = System.nanoTime()
          graft.pipeline.FotoFixture.generate(spark, corpusDir, fotoN)
          java.nio.file.Files.writeString(marker, want + "\n")
          System.err.println(
            f"[bench] foto: generated in ${(System.nanoTime() - g0) / 1e9}%.1f s")
        }
        val fotoReps = 3
        for (i <- 1 to fotoReps if elapsed < maxTotalSec || i == 1) {
          val out = java.nio.file.Files.createTempDirectory("fotobench").toString
          val c0 = osBean.getProcessCpuTime
          val t0 = System.nanoTime()
          val rows = graft.pipeline.FotoFixture.runPipeline(spark, corpusDir, out)
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu = (osBean.getProcessCpuTime - c0) / 1e9
          if (fotoWall.isNaN || wall < fotoWall) { fotoWall = wall; fotoCpu = cpu }
          fotoRows = rows
          if (i == fotoReps) {
            val (bad, checked) = graft.pipeline.FotoFixture.checkGolden(spark, out)
            fotoBad = bad
            if (bad > 0 || checked != rows)
              System.err.println(
                s"[bench] foto GOLDEN VIOLATIONS: $bad of $checked (rows $rows)")
          }
          graft.sources.Compaction.deleteLocalDir(new java.io.File(out))
          System.err.println(
            f"[bench] foto pass $i/$fotoReps: $wall%.1f s wall, $cpu%.1f s cpu, $rows rows")
          persist()
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] foto stage failed: $e")
      }
    }
    val line = artifactJson(finalLine = true)
    // Belt and braces for the driver's extractor: (1) the JSON is already
    // persisted next to the repo so a stdout-scrape failure is recoverable,
    // (2) stop Spark FIRST so no executor-shutdown logging can interleave,
    // (3) emit the JSON as the final bare stdout line (build.sbt forces
    // run/outputStrategy := StdoutOutput so sbt does not "[info]"-prefix it).
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"), line + "\n")
      // the durable full copy: BENCH_LOCAL.json is clobbered by every dev
      // loop (SPARK_GRAFT_ONLY) run, so full sweeps also write
      // BENCH_FULL.json — the committed, untruncated artifact a reader
      // should diff when the driver's stdout tail cut the line
      if (only.isEmpty)
        java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_FULL.json"), line + "\n")
    }
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    spark.stop()
    System.out.flush(); System.err.flush()
    println(line)
    System.out.flush()
  }
}

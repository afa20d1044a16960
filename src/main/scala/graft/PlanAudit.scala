package graft

/** Dev diagnostic main (NOT part of the library surface; the driver
  * never invokes it). Modes:
  *
  *   - `plans [sfDir]` — dump formatted physical plans for the standing
  *     plan-shape audit set (the queries whose scale posture VERDICT
  *     reviews round over round);
  *   - `explain <sfDir> <q1,q2>` — executedPlan for named queries;
  *   - `time <sfDir> <q1,q2> [reps]` — run named queries N times in one
  *     JVM, timing each pass (chasing run-count / host-contention
  *     effects seen in Bench); `-Dgraft.audit.jobs=true` adds a per-job
  *     timeline;
  *   - `scale <sfDir> [dst] [factor]` — regenerate the sf1 synthetic
  *     replication (default `target/scale/sf1`, ×10) with the same
  *     fingerprint marker as Bench's sf1 stage.
  */
object PlanAudit {

  private val auditSet = Set("q01_pricing_summary", "q03_top_revenue", "q19_hourly_events",
    "q29_cosine_topk", "q30_embedding_neardup", "q23_dedup_exact", "q05_customers_no_orders",
    "q37_minhash_neardup_pairs", "q40_asof_join", "q41_fuzzy_first_match",
    "q59_quality_classifier", "q60_domain_cap", "q61_mixture_sample",
    "q62_url_canonicalize", "q63_span_dedup",
    "q69_markup_strip", "q70_chunk_overlap", "q71_snapshot_diff",
    "q72_vocab_drift", "q73_term_stats", "q74_zorder_key",
    "q75_incremental_neardup")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("plans")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val names = if (args.length > 2) args(2).split(",").toSeq else Seq.empty
    val spark = Sessions.local()
    mode match {
      case "plans" =>
        // optional third arg: comma-separated substrings overriding the
        // standing audit set (r19-opt: per-query before/after dumps)
        val wanted: String => Boolean =
          if (names.isEmpty) auditSet
          else (n: String) => names.exists(n.contains)
        Queries.all.filter(q => wanted(q.name)).foreach { q =>
          println(s"\n================= ${q.name} =================")
          println(q.run(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
      case "explain" | "time" if names.isEmpty =>
        System.err.println(s"usage: PlanAudit $mode <sfDir> <q1,q2,...> — no query names given, nothing to do")
      case "explain" =>
        names.foreach { n =>
          System.err.println(s"===== $n =====")
          System.err.println(SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan.toString)
        }
      case "time" =>
        val reps = if (args.length > 3) args(3).toInt else 3
        // fetch the bean ONCE and pattern-match: on JVMs whose platform
        // bean lacks the com.sun interface the audit degrades to
        // wall-only instead of dying in a ClassCastException
        val osBean = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean match {
          case b: com.sun.management.OperatingSystemMXBean => Some(b)
          case _ => None
        }
        for (r <- 1 to reps; n <- names) {
          val c0 = osBean.map(_.getProcessCpuTime)
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
          val cpu = osBean.zip(c0)
            .map { case (b, c) => f" cpu=${(b.getProcessCpuTime - c) / 1e9}%.1f s" }
            .getOrElse("")
          System.err.println(
            f"[audit] rep $r $n: ${(System.nanoTime() - t0) / 1e9}%.2f s" + cpu)
        }
      case "scale" =>
        // regenerate the sf1 synthetic replication outside a full Bench
        // sweep (dev loops at SPARK_GRAFT_SF_DIR=target/scale/sf1 need
        // it): the generator writes the fingerprint marker Bench's sf1
        // stage checks, so a subsequent full sweep sees it fresh and skips.
        val dst = if (args.length > 2) args(2) else "target/scale/sf1"
        val factor = if (args.length > 3) args(3).toInt else 10
        val t0 = System.nanoTime()
        ScaleUp.generate(spark, sfDir, dst, factor)
        System.err.println(f"[audit] scale: $dst = $sfDir x$factor in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      case other =>
        System.err.println(s"unknown mode '$other' (plans | explain | time | scale)")
    }
    spark.stop()
  }
}

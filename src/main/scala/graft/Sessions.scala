package graft

import org.apache.spark.sql.SparkSession

/** Single SparkSession factory for the engine.
  *
  * Tuned for one local JVM (`local[N]`, N from [[Sessions.localCpus]])
  * but every setting is chosen to be correct on a real multi-executor
  * cluster too:
  *   - AQE on: runtime coalescing of shuffle partitions + skew-join
  *     handling, which is what keeps the same code viable at 100 TB.
  *   - shuffle.partitions matches local cores here; on a cluster this is
  *     overridden by AQE's coalescing anyway.
  *   - UTC session timezone so results are reproducible against the
  *     DuckDB oracle (naive timestamps).
  *   - A codegen cache sized to graft's working set
  *     ([[CodegenCacheEntries]]), paid for by a bounded status store
  *     ([[RetainedExecutions]] and the three below it).
  */
object Sessions {
  /** Entries in Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
    * Spark's default 100). One `analyst_index` benchmark JVM (seed
    * 1101, 4 cores) compiles 299 distinct generated classes. At 100
    * entries it compiles 913 times, ~360 of them in the timed cycle,
    * and ~300 of those recompile source this JVM already compiled and
    * then evicted; those compiles took ~5 s against the cycle's ~20 s
    * of Java-thread CPU. At
    * 400 the JVM compiles 587 times, 110 in the timed cycle with 53
    * recompiles, and the benchmark's CPU per item falls by ~12%. Each
    * cached class holds ~23 KB of heap (its source, its bytecode and a
    * per-class `ParentClassLoader` lock map): with the retention bounds
    * below, the live heap rises 91.2 → 95.7 MB at 400 entries and to
    * ~99 MB (+9%) at 1000. A static, JVM-wide
    * conf: the first session that generates code sizes the cache for
    * the JVM's lifetime, so [[local]] refuses a pre-existing session
    * without it. */
  val CodegenCacheEntries: Int = 400

  /** The status store's retention (`spark.sql.ui.retainedExecutions`,
    * `spark.ui.retainedJobs`, `spark.ui.retainedStages`,
    * `spark.ui.retainedTasks`; Spark's defaults 1000/1000/1000/100,000).
    * Spark keeps that store even with the UI off, and graft never reads
    * it: specs, `PlanAudit` and the benchmark's traces count jobs with
    * their own listeners. The bounds pay for the codegen cache's heap:
    * alone, they lower the `analyst_index` live heap from 91.2 to
    * ~88 MB. */
  val RetainedExecutions: Int = 20
  val RetainedJobs: Int = 20
  val RetainedStages: Int = 20
  val RetainedTasks: Int = 1000

  /** The one core-count rule of every main: `$SPARK_GRAFT_CPUS` when set,
    * else the JVM's `availableProcessors`. */
  def localCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def local(cores: String = localCpus, shufflePartitions: String = localCpus): SparkSession =
    local(cores, shufflePartitions, maxTaskFailures = 1)

  /** `maxTaskFailures` > 1 enables task RETRY in local mode
    * (`local[N, F]`) — the default local master fails the job on first
    * task death, hiding the retry-idempotency semantics every sink must
    * honor on a real cluster. */
  private[graft] def local(cores: String, shufflePartitions: String,
      maxTaskFailures: Int): SparkSession = {
    val master =
      if (maxTaskFailures > 1) s"local[$cores, $maxTaskFailures]" else s"local[$cores]"
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.ui.retainedExecutions", RetainedExecutions.toString)
      .config("spark.ui.retainedJobs", RetainedJobs.toString)
      .config("spark.ui.retainedStages", RetainedStages.toString)
      .config("spark.ui.retainedTasks", RetainedTasks.toString)
      // events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type,
      // so (if needed) read them as raw Long nanos and convert explicitly.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    // getOrCreate may return a pre-existing session whose configs differ
    // from the ones requested above; nanosAsLong in particular changes how
    // events.ts decodes, so fail loudly instead of silently mis-reading.
    require(
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      "Sessions.local: existing SparkSession lacks spark.sql.legacy.parquet.nanosAsLong=true; " +
        "create the graft session before any other SparkSession in this JVM")
    // the codegen cache is static: a foreign first session would leave
    // every graft session in this JVM on Spark's 100 entries
    require(
      spark.conf.get("spark.sql.codegen.cache.maxEntries", "100") == CodegenCacheEntries.toString,
      s"Sessions.local: existing SparkSession lacks spark.sql.codegen.cache.maxEntries=" +
        s"$CodegenCacheEntries; create the graft session before any other SparkSession in this JVM")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

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
  */
object Sessions {
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
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

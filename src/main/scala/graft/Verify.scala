package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Names of output columns whose type the driver's canonicalization
    * cannot hash (array/struct/map — pandas `sort_values` dies on them),
    * or None if the schema is all-scalar. Factored out so the rejection
    * rule itself is unit-testable (VerifySpec). */
  def complexOutputColumns(schema: org.apache.spark.sql.types.StructType)
      : Option[Seq[String]] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val bad = schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[StructType] ||
        f.dataType.isInstanceOf[MapType] => f.name
    }.toSeq
    if (bad.isEmpty) None else Some(bad)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_ONLY=q70,q73 dumps just the named queries
    // (substring match); unset = the full surface the driver checks
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
    // a leaked dev filter in the driver environment would silently shrink
    // the round's official correctness record — shout if it is active
    only.foreach { o =>
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_ONLY=${o.mkString(",")} ACTIVE — " +
          s"dumping ${selected.size}/${SparkEntry.queries.size} queries; " +
          "unset it for an official correctness run")
    }
    selected
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // The driver canonicalizes artifacts through a pandas sort that
        // cannot hash array/struct/map cells (BASELINE.md "Driver-oracle
        // authoring rules", learned round 6 and re-learned on q118 round
        // 15). Fail the query HERE, at dump time, so local green implies
        // driver green — flatten to scalar rows (the q51/q118 idiom).
        complexOutputColumns(df.schema).foreach { bad =>
          throw new IllegalStateException(
            s"output columns $bad are array/struct/map-typed — the driver's " +
              "pandas canonicalization cannot hash these; flatten to scalar " +
              "rows (e.g. posexplode to (id, pos, value))")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed (or dump-time-rejected) query must never leave a STALE
        // artifact from a previous invocation of a reused outDir in place —
        // the driver would compare it as if current and a red query could
        // read green (ADVICE r16)
        val stale = new java.io.File(s"$outDir/$name.parquet")
        if (stale.exists()) {
          graft.sources.Compaction.deleteLocalDir(stale)
          System.err.println(s"[verify] $name: removed stale artifact ${stale.getPath}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Emit every oracle under BOTH key forms: the bare query name and the
    // output-artifact directory name ("<name>.parquet"). The driver keys its
    // per-query correctness records by the artifact name including the
    // suffix (CORRECTNESS_r02.json), so a bare-keyed oracle map is invisible
    // to it ("no_oracle" across the board); the duplication is harmless.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

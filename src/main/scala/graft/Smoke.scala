package graft
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    Seq("region","nation","customer","supplier","part","orders","lineitem","documents","embeddings").foreach { t =>
      val df = Tables.table(spark, dir, t)
      println(s"$t count=${df.count()} schema=${df.schema.simpleString.take(200)}")
    }
    val ev = Tables.events(spark, dir)
    println(s"events count=${ev.count()} schema=${ev.schema.simpleString}")
    // Fixture-drift guard (round-8 lesson: a regenerated events.parquet
    // switched encodings and silently zeroed 7 queries). Every events-backed
    // query funnels through unix_micros(ts), which requires TimestampType —
    // force that exact expression through analysis AND execution here so a
    // drifted encoding fails the driver's smoke, not CORRECTNESS.
    val rawTs = Tables.table(spark, dir, "events").schema("ts").dataType
    try {
      // distinguish data problems from encoding drift BEFORE head():
      // an empty table (or all-null first ts) would otherwise surface as
      // NoSuchElementException and be misreported as an encoding issue,
      // sending the debugger down the wrong path
      val first = ev.select(org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts"))).head(1)
      require(first.nonEmpty, "events fixture is EMPTY (0 rows) — data problem, not encoding drift")
      require(!first.head.isNullAt(0), "events.ts first row is NULL — data problem, not encoding drift")
      val micros = first.head.getLong(0)
      require(micros > 0L, s"events.ts decoded to non-positive micros: $micros")
      println(s"events ts OK: raw=$rawTs normalized=${ev.schema("ts").dataType} firstMicros=$micros")
    } catch {
      case e: IllegalArgumentException if e.getMessage != null &&
          e.getMessage.contains("data problem") =>
        System.err.println(s"SMOKE FAIL: $e")
        spark.stop()
        sys.exit(1)
      case e: Throwable =>
        System.err.println(
          s"SMOKE FAIL: events.ts fixture drift — raw parquet type $rawTs is not handled by " +
            s"Tables.events (normalized schema: ${ev.schema("ts").dataType}). Every events-backed " +
            s"query (q21,q22,q40,q49,q67,q68,q74,...) will break. Root error: $e")
        spark.stop()
        sys.exit(1)
    }
    ev.select("ts","event_type","props").orderBy("event_id").show(3, false)
    spark.stop()
  }
}

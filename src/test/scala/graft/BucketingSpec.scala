package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {

  test("bucketed-by-key join plans with zero shuffle exchanges") {
    val d = "/root/testdata/sf0.001"
    // disable auto-broadcast so the join would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // both sides bucketed (and sorted) by the join key into 8 buckets
      def writeBucketed(df: org.apache.spark.sql.DataFrame, table: String): Unit =
        df.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(table)
      writeBucketed(Tables.orders(spark, d), "b_orders")
      writeBucketed(
        Tables.lineitem(spark, d).select("l_orderkey", "l_quantity")
          .withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem")

      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), Seq("o_orderkey"))
      val executed = joined.groupBy("o_orderstatus").agg(sum("l_quantity"))
      executed.collect()
      val plan = executed.queryExecution.executedPlan
      val shuffles = plan.collectWithSubqueries { case e: ShuffleExchangeExec => e }
      // exactly one exchange: the groupBy re-partition; the JOIN itself
      // reads co-located buckets with no shuffle on either side
      assert(shuffles.size <= 1, s"expected bucket-local join, got plan:\n$plan")

      // and the result matches the unbucketed join
      val expected = Tables.orders(spark, d)
        .join(Tables.lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
        .count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10485760L)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("compaction rewrites fragmented dirs into one file, preserves data") {
    import spark.implicits._
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val df = (1L to 10000L).map(i => (i, s"row$i")).toDF("id", "v")
    df.repartition(40).write.parquet(dir)
    assert(graft.sources.ParquetRead.dataFiles(spark, dir).size == 40)
    val (before, after) = Compaction.rewriteParquetDir(spark, dir)(identity)
    assert(before == 10000L && after == 10000L, s"$before -> $after")
    assert(graft.sources.ParquetRead.dataFiles(spark, dir).size == 1)
    // byte-identical contents after the rewrite
    val back = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(back == (1L to 10000L).map(i => (i, s"row$i")).toSet)
  }

  test("compaction self-heals a mid-swap crash (live dir gone, data parked in __compact_old)") {
    import spark.implicits._
    import graft.sources.Compaction
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("compactcrash").toString + "/t"
    val df = (1L to 500L).map(i => (i, s"row$i")).toDF("id", "v")
    df.repartition(8).write.parquet(dir)
    // simulate a crash between rename(dir, old) and rename(tmp, dir)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(p, new Path(dir + "__compact_old")))
    assert(!fs.exists(p))
    // the rerun must restore the parked data and then compact it
    val (before, after) = Compaction.rewriteParquetDir(spark, dir)(identity)
    assert(before == 500L && after == 500L, s"$before -> $after")
    assert(graft.sources.ParquetRead.dataFiles(spark, dir).size == 1)
    assert(!fs.exists(new Path(dir + "__compact_old")), "old dir must be cleaned up")
    val back = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(back == (1L to 500L).map(i => (i, s"row$i")).toSet)
  }

  test("compaction of a mixed-schema dir keeps the union of its columns; rowsBefore = rows read") {
    import spark.implicits._
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("compactmixed").toString + "/t"
    (1L to 30L).map(i => (i, s"a$i")).toDF("id", "a").repartition(3).write.parquet(dir)
    (31L to 50L).map(i => (i, i * 10)).toDF("id", "b").repartition(2)
      .write.mode("append").parquet(dir)
    val seen = spark.read.parquet(dir).count()
    val (before, after) = Compaction.rewriteParquetDir(spark, dir)(identity)
    assert(before == seen && before == 50L && after == 50L, s"$seen: $before -> $after")
    assert(graft.sources.ParquetRead.dataFiles(spark, dir).size == 1)
    val back = spark.read.parquet(dir)
    assert(back.columns.toSet == Set("id", "a", "b"), back.columns.mkString(","))
    val rows = back.select("id", "a", "b").as[(Long, Option[String], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(rows == (1L to 30L).map(i => (i, Some(s"a$i"), None)) ++
      (31L to 50L).map(i => (i, None, Some(i * 10))))
  }

  test("morton z-value round-trips: de-interleaving the bits recovers both keys") {
    import spark.implicits._
    import graft.sources.Layout
    val sample = spark.range(0, 2000L).select(
      (col("id") * 2654435761L % 100000).as("x"),
      (col("id") * 40503L % 100000).as("y"))
    val got = sample.select(col("x"), col("y"),
      Layout.mortonZ(col("x"), col("y")).as("z")).as[(Long, Long, Long)].collect()
    // inverse of the parallel-prefix spread: compact even bits back down
    def compact(zIn: Long): Long = {
      var v = zIn & 0x5555555555555555L
      v = (v | (v >> 1)) & 0x3333333333333333L
      v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
      v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
      (v | (v >> 16)) & 0x00000000FFFFFFFFL
    }
    got.foreach { case (x, y, z) =>
      assert(compact(z) == x && compact(z >> 1) == y, s"($x,$y) -> $z")
    }
  }

  test("z-order layout: box query reads far fewer rows than random layout; values intact") {
    import spark.implicits._
    import graft.sources.Layout
    import org.apache.spark.sql.execution.FileSourceScanExec
    // 256×256 grid, one row per cell; same data written two ways
    val grid = spark.range(0, 65536L).select(
      (col("id") / 256).cast("long").as("x"),
      (col("id") % 256).cast("long").as("y"),
      col("id").as("payload"))
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    grid.withColumn("__z", Layout.mortonZ(col("x"), col("y")))
      .repartitionByRange(32, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(s"$base/z")
    grid.repartition(32, col("payload")).write.parquet(s"$base/rand") // locality destroyed
    def rowsScanned(dir: String): Long = {
      val q = spark.read.parquet(dir)
        .filter(col("x") >= 16 && col("x") < 32 && col("y") >= 16 && col("y") < 32)
      assert(q.count() == 256) // 16×16 box, correctness first
      q.collect() // execute THIS plan so its scan metrics populate
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = plan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      scan.metrics("numOutputRows").value
    }
    val (zRows, randRows) = (rowsScanned(s"$base/z"), rowsScanned(s"$base/rand"))
    // random layout: every row group spans the full x/y range, nothing
    // skips, the scan emits ~all 65536 rows to the filter. z-ordered:
    // row-group min/max stay tight in BOTH dims, parquet prunes at the
    // row-group level and the scan emits a small fraction
    assert(randRows > 60000L, s"random layout unexpectedly skipped: $randRows")
    assert(zRows * 4 < randRows, s"z-order skipped too little: $zRows vs $randRows")
    // z-value is a locality-preserving bijection here: clustering must
    // not lose or duplicate rows
    assert(spark.read.parquet(s"$base/z").count() == 65536L)
    assert(spark.read.parquet(s"$base/z").select(sum("payload")).as[Long].head()
      == (0L until 65536L).sum)
  }
}

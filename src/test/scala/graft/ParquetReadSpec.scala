package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.operators.{Incremental, IndexStore}
import graft.sources.ParquetRead

/** [[ParquetRead]] takes a directory's schema from its footers on the
  * driver: the schema must be exactly what Spark's own inference gives,
  * and the read must start no Spark job. */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  // the fixture root TESTDATA.md documents
  private val fixtures = "/root/testdata"
  private val sf = s"$fixtures/sf0.01"

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/t"

  private def merged(dir: String) =
    ParquetRead(spark, dir, ParquetRead.dataFiles(spark, dir), merge = true)

  test("every fixture table: inferred schema, no job; events under nanosAsLong") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    Views.TableNames.foreach { name =>
      val dir = s"$sf/$name.parquet"
      assert(ParquetRead(spark, dir).schema == spark.read.parquet(dir).schema, name)
      assert(jobsStartedBy(ParquetRead(spark, dir)) == 0, name)
    }
    // the control: Spark's own inference costs a job per read
    assert(jobsStartedBy(spark.read.parquet(s"$sf/region.parquet")) == 1)
  }

  test("partitioned dir: partition column appended last, rows equal, no job") {
    val dir = tmpDir("pqpart")
    (0 until 200).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "cell_bucket")
      .write.partitionBy("cell_bucket").parquet(dir)
    val ours = ParquetRead(spark, dir)
    assert(ours.schema == spark.read.parquet(dir).schema)
    assert(ours.columns.last == "cell_bucket")
    assert(jobsStartedBy(ParquetRead(spark, dir)) == 0)
    assert(ours.as[(Long, String, Int)].collect().toSet ==
      spark.read.parquet(dir).as[(Long, String, Int)].collect().toSet)
  }

  test("mixed-schema dir: merge unions every footer, one footer is Spark's first") {
    val dir = tmpDir("pqmixed")
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    Seq((2L, "b", 7)).toDF("id", "v", "extra").write.mode("append").parquet(dir)
    val sparkMerged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged(dir).schema == sparkMerged.schema)
    assert(merged(dir).columns.toSeq == Seq("id", "v", "extra"))
    assert(jobsStartedBy(merged(dir)) == 0)
    assert(ParquetRead(spark, dir).schema == spark.read.parquet(dir).schema)
    assert(merged(dir).orderBy("id").as[(Long, String, Option[Int])].collect().toSeq ==
      Seq((1L, "a", None), (2L, "b", Some(7))))
  }

  test("hidden entries are not data: _SUCCESS, .crc, _manifest, _temporary/") {
    val dir = tmpDir("pqhidden")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir)
    // a valid parquet file of ANOTHER schema under _temporary/: read as
    // data, it would change both the schema and the rows
    Seq(("x", 1.5)).toDF("other", "w").write.parquet(s"$dir/_temporary/0")
    Files.write(Paths.get(dir, "_manifest"), "{\"n\": 2}\n".getBytes("UTF-8"))
    val names = new java.io.File(dir).list().toSet
    assert(names("_SUCCESS") && names.exists(_.endsWith(".crc")))
    val files = ParquetRead.dataFiles(spark, dir)
    assert(files.size == 1 && files.head.getPath.getName.startsWith("part-"))
    assert(ParquetRead(spark, dir).schema == spark.read.parquet(dir).schema)
    assert(merged(dir).schema == spark.read.option("mergeSchema", "true").parquet(dir).schema)
    assert(jobsStartedBy(ParquetRead(spark, dir)) == 0)
    assert(ParquetRead(spark, dir).count() == 2)
  }

  test("missing or empty dir: the same error condition as Spark's read") {
    def condition(read: => Any): String = intercept[AnalysisException](read).getCondition
    val missing = tmpDir("pqmissing")
    assert(ParquetRead.dataFiles(spark, missing).isEmpty)
    assert(condition(ParquetRead(spark, missing)) == condition(spark.read.parquet(missing)))
    assert(condition(ParquetRead(spark, missing)) == "PATH_NOT_FOUND")
    val empty = tmpDir("pqempty")
    Files.createDirectories(Paths.get(empty, "_temporary"))
    assert(ParquetRead.dataFiles(spark, empty).isEmpty)
    assert(condition(ParquetRead(spark, empty)) == condition(spark.read.parquet(empty)))
    assert(condition(merged(empty)) == "UNABLE_TO_INFER_SCHEMA")
  }

  test("a crashed first write (only _temporary/) reads as empty state; the next append and read succeed") {
    val stateDir = tmpDir("pqcrash")
    Files.createDirectories(Paths.get(stateDir, "_temporary", "0"))
    val empty = Incremental.readState(spark, stateDir, Seq("id"))
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id"))
    Seq("a", "b").toDF("id").write.mode("append").parquet(stateDir)
    assert(Incremental.readState(spark, stateDir, Seq("id")).as[String].collect().toSet ==
      Set("a", "b"))
    // the index store's "postings exist" checks share the rule
    val idx = tmpDir("pqcrashidx")
    val postings = s"$idx/postings"
    Files.createDirectories(Paths.get(postings, "_temporary", "0"))
    IndexStore.requireMetaSet(Seq((1L, "x")).toDF("vec_id", "lang"), Seq("lang"),
      postings, Set("vec_id"))
    IndexStore.appendTombstones(Seq(1L).toDF("vec_id"), "vec_id", "vec_id", idx,
      postings, IndexStore.DeriveAsof)
    assert(IndexStore.tombstones(spark, idx, "vec_id").get
      .select(col("asof_run")).as[Long].collect().toSeq == Seq(-1L))
  }

  test("columnMax: the footers' max equals the aggregate, with no job while every footer has statistics") {
    // Spark's own answer; no file with the column means no value
    def aggregate(dir: String): Option[Long] =
      if (!merged(dir).columns.contains("run_id")) None
      else {
        val r = merged(dir).agg(max(col("run_id"))).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    def footers(dir: String): Option[Long] = ParquetRead.columnMax(spark,
      ParquetRead.dataFiles(spark, dir).map(_.getPath.toString), "run_id")
    // several files, several row groups: three appends of four files each
    val multi = tmpDir("pqmaxmulti")
    Seq(3L, 11L, 7L).foreach { run =>
      (0 until 40).map(i => (i.toLong, run - i % 3)).toDF("id", "run_id")
        .repartition(4).write.mode("append").parquet(multi)
    }
    assert(ParquetRead.dataFiles(spark, multi).size == 12)
    assert(footers(multi) == Some(11L) && footers(multi) == aggregate(multi))
    assert(jobsStartedBy(footers(multi)) == 0)
    // null run ids: one all-null file beside a mixed one, then all-null only
    val nulls = tmpDir("pqmaxnull")
    Seq[(Long, Option[Long])]((1L, None), (2L, None)).toDF("id", "run_id")
      .coalesce(1).write.parquet(nulls)
    assert(footers(nulls).isEmpty && footers(nulls) == aggregate(nulls))
    Seq[(Long, Option[Long])]((3L, Some(5L)), (4L, None)).toDF("id", "run_id")
      .coalesce(1).write.mode("append").parquet(nulls)
    assert(footers(nulls) == Some(5L) && footers(nulls) == aggregate(nulls))
    assert(jobsStartedBy(footers(nulls)) == 0)
    // a file that lacks the column counts as all-null
    val lacking = tmpDir("pqmaxlack")
    Seq((1L, "a")).toDF("id", "v").write.parquet(lacking)
    assert(footers(lacking).isEmpty && footers(lacking) == aggregate(lacking))
    Seq((2L, 9L)).toDF("id", "run_id").write.mode("append").parquet(lacking)
    assert(footers(lacking) == Some(9L) && footers(lacking) == aggregate(lacking))
    assert(jobsStartedBy(footers(lacking)) == 0)
    // a file written without statistics: one aggregate instead
    val nostats = tmpDir("pqmaxnostats")
    Seq((1L, 4L), (2L, 6L)).toDF("id", "run_id").coalesce(1)
      .write.option("parquet.column.statistics.enabled", "false").parquet(nostats)
    Seq((3L, 2L)).toDF("id", "run_id").write.mode("append").parquet(nostats)
    assert(footers(nostats) == Some(6L) && footers(nostats) == aggregate(nostats))
    assert(jobsStartedBy(footers(nostats)) > 0)
    // no files at all: nothing to read
    assert(footers(tmpDir("pqmaxnone")).isEmpty)
  }

  test("footer reads honour the session's Hadoop conf: a missing crypto factory fails them") {
    val dir = tmpDir("pqcrypto")
    (0 until 10).map(i => (i.toLong, i.toLong % 3)).toDF("id", "run_id").coalesce(1)
      .write.parquet(dir)
    val files = ParquetRead.dataFiles(spark, dir)
    assert(ParquetRead.rowCount(spark, files) == 10L)
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "parquet.crypto.factory.class"
    conf.set(key, "graft.NoSuchCryptoFactory")
    try {
      intercept[org.apache.parquet.hadoop.BadConfigurationException](
        ParquetRead.rowCount(spark, files))
      intercept[org.apache.parquet.hadoop.BadConfigurationException](
        ParquetRead.columnMax(spark, files.map(_.getPath.toString), "run_id"))
    } finally conf.unset(key)
    assert(ParquetRead.columnMax(spark, files.map(_.getPath.toString), "run_id") == Some(2L))
  }

  test("fixture-only builds start no job: registerFixture, q01, q21, q113, q122") {
    val d = s"$fixtures/sf0.001"
    assert(jobsStartedBy(Views.registerFixture(spark, d)) == 0)
    Seq("q01_", "q21_", "q113_", "q122_").foreach { prefix =>
      val q = Queries.all.find(_.name.startsWith(prefix)).get
      assert(jobsStartedBy(q.run(spark, d)) == 0, q.name)
    }
  }
}

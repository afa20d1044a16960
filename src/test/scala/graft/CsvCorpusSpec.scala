package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}
import graft.sources.CsvCorpus

class CsvCorpusSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("score", DoubleType)

  test("round-trip: write then read preserves rows, incl. quoted delimiters and nulls") {
    val dir = Files.createTempDirectory("csv").toString
    val docs = Seq(
      (1L, "plain doc", 0.5),
      (2L, "comma, inside", 0.25),                 // must quote
      (3L, "a \"quoted\" word", 0.75),             // must escape
      (4L, null.asInstanceOf[String], 1.0))        // null survives as empty
      .toDF("doc_id", "text", "score")
    CsvCorpus.write(docs, dir, partitions = 2)
    val back = CsvCorpus.read(spark, dir, schema)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSet
    assert(back == Set(
      (1L, Some("plain doc"), 0.5),
      (2L, Some("comma, inside"), 0.25),
      (3L, Some("a \"quoted\" word"), 0.75),
      (4L, None, 1.0)))
  }

  test("malformed rows: dropped in DROPMALFORMED, quarantined whole in PERMISSIVE") {
    val dir = Files.createTempDirectory("csv").toString
    Files.writeString(java.nio.file.Paths.get(dir, "data.csv"),
      """doc_id,text,score
        |1,good,0.5
        |not-a-number,type drift,0.9
        |2,also good,0.25
        |""".stripMargin)
    val dropped = CsvCorpus.read(spark, dir, schema)
    assert(dropped.select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
      "the type-drifted row is dropped, the header is not data")
    val kept = CsvCorpus.readWithCorrupt(spark, dir, schema).cache()
    assert(kept.count() == 3, "PERMISSIVE loses nothing")
    val corrupt = kept.filter(col("_corrupt").isNotNull)
      .select("_corrupt").as[String].collect()
    assert(corrupt.length == 1 && corrupt.head.contains("not-a-number"),
      s"type drift is quarantined whole, not coerced: ${corrupt.toSeq}")
  }

  test("TSV dialect reads tab-delimited files with commas left alone") {
    val dir = Files.createTempDirectory("tsv").toString
    Files.writeString(java.nio.file.Paths.get(dir, "data.tsv"),
      "doc_id\ttext\tscore\n1\tcommas, stay, literal\t0.5\n2\tsecond\t0.25\n")
    val got = CsvCorpus.read(spark, dir, schema, "\t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set(
      (1L, "commas, stay, literal", 0.5), (2L, "second", 0.25)))
  }

  test("explicit schema catches drift a fresh inference pass would absorb") {
    // the design-stance pin: the SAME file read with inference silently
    // widens doc_id to string; the explicit schema quarantines the row
    val dir = Files.createTempDirectory("csv_drift").toString
    Files.writeString(java.nio.file.Paths.get(dir, "data.csv"),
      "doc_id,text,score\n1,ok,0.5\nNA,drifted,0.9\n")
    val inferred = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(dir)
    assert(inferred.schema("doc_id").dataType == StringType,
      "inference absorbs the drift by widening — the failure mode")
    val strict = CsvCorpus.readWithCorrupt(spark, dir, schema).cache()
    assert(strict.filter(col("_corrupt").isNotNull).count() == 1,
      "the explicit schema surfaces the drifted row instead")
  }
}

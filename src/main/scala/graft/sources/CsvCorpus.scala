package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Delimited-text corpus source/sink (CSV and its TSV dialect) — the
  * other wire format bulk tabular data actually arrives in (metadata
  * sidecars, label/annotation exports, spreadsheet-adjacent dumps that
  * never saw parquet). Same design stance as [[JsonlCorpus]]:
  *
  *   - the schema is EXPLICIT, never inferred — CSV inference is a full
  *     extra pass AND famously unstable (a single "NA" flips a long
  *     column to string mid-corpus); explicit schemas catch upstream
  *     type drift instead of absorbing it;
  *   - malformed rows must neither kill a multi-hour ingest nor vanish
  *     silently: PERMISSIVE routes them whole into a `_corrupt` column
  *     (`readWithCorrupt`), DROPMALFORMED skips them when the caller has
  *     decided loss is acceptable (`read`);
  *   - `.gz` decompresses transparently by extension, and the format
  *     splits by line for uncompressed files — parallelism is
  *     files × blocks, not files. Quoted fields CAN embed newlines
  *     (`multiLine` stays off here: it forces whole-file parses and
  *     single-file parallelism; corpora with embedded newlines should
  *     re-export quoted-escaped or go through JSONL);
  *   - every file has a header row, pinned by option on both sides — a
  *     header row silently parsed as data is the classic
  *     one-off-per-file bug.
  *
  * TSV is the same reader with a tab delimiter.
  */
object CsvCorpus {

  private def base(spark: SparkSession, schema: StructType, delimiter: String) =
    spark.read.schema(schema)
      .option("header", "true")
      .option("delimiter", delimiter)
      // explicit, locale-proof parsing defaults: empty string is null
      // (CSV has no other null spelling), standard quote/escape
      .option("nullValue", "")
      .option("quote", "\"")
      .option("escape", "\"")

  /** Read dropping malformed rows (the "loss accepted" mode). */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    read(spark, path, schema, ",")

  /** [[read]] with the delimiter explicit (`"\t"` reads TSV). */
  private[graft] def read(spark: SparkSession, path: String, schema: StructType,
      delimiter: String): DataFrame =
    base(spark, schema, delimiter)
      .option("mode", "DROPMALFORMED").csv(path)

  /** Read keeping malformed rows: well-formed rows parse into `schema`'s
    * columns, broken ones land whole in `_corrupt` with nulls elsewhere
    * — same quarantine shape (and the same persist-before-
    * corrupt-only-projection caveat) as [[JsonlCorpus.readWithCorrupt]].
    */
  private[graft] def readWithCorrupt(spark: SparkSession, path: String, schema: StructType): DataFrame =
    base(spark, schema.add("_corrupt", org.apache.spark.sql.types.StringType), ",")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)

  /** Write as CSV, one file per partition (same partition-count contract
    * as [[JsonlCorpus.write]]); always with a header so the files are
    * self-describing to the next reader.
    */
  def write(df: DataFrame, path: String, partitions: Int): Unit = {
    val out = if (partitions > 0) df.repartition(partitions) else df
    out.write.mode("overwrite")
      .option("header", "true")
      .option("delimiter", ",")
      // SAME dialect as the readers — Spark's writer default escapes
      // quotes with backslash while the RFC-4180 style the readers pin
      // doubles them; splitting the dialect breaks the round-trip on
      // the first embedded quote (spec-pinned)
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(path)
  }
}

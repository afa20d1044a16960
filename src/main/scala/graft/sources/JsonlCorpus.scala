package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Line-delimited JSON corpus source/sink — the wire format crawl-derived
  * text corpora actually arrive in (WARC-extraction pipelines, public
  * corpus dumps: one JSON document per line, gzip'd in practice — Spark's
  * text/json readers decompress `.gz` transparently by extension).
  *
  * Design points for 100 TB ingest:
  *   - the schema is EXPLICIT, never inferred: schema inference is a
  *     full extra pass over the data, and a drifting upstream field
  *     silently changing a column's type mid-corpus is exactly the bug
  *     explicit schemas exist to catch (same stance as `Tables`);
  *   - malformed lines must not kill a multi-hour ingest NOR vanish
  *     silently: PERMISSIVE mode routes them to a corrupt-record column
  *     so the caller can count/quarantine them (`readWithCorrupt`), or
  *     DROPMALFORMED skips them when the caller has decided loss is
  *     acceptable (`read`);
  *   - one JSON object per line means the format splits by line — every
  *     file chunk parses independently, so parallelism is
  *     files × blocks, not files.
  */
object JsonlCorpus {

  /** Read dropping malformed lines (the "loss accepted" mode). */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "DROPMALFORMED").json(path)

  /** Read keeping malformed lines: well-formed rows parse into `schema`'s
    * columns; broken ones land with the raw line in `_corrupt` and nulls
    * elsewhere. Quarantine shape: `df.filter(col("_corrupt").isNotNull)`
    * — NOTE Spark refuses a query that touches ONLY the corrupt column
    * of a raw scan (it could never be populated without parsing the data
    * columns); persist/localCheckpoint the frame before a
    * corrupt-only projection, as the spec does.
    */
  private[graft] def readWithCorrupt(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** Write as JSONL, one file per partition — `partitions` controls the
    * file count (small-file pressure at the store vs write parallelism;
    * compact afterwards with [[Compaction]] if the natural partitioning
    * is too fine).
    */
  def write(df: DataFrame, path: String, partitions: Int = 0): Unit = {
    val out = if (partitions > 0) df.repartition(partitions) else df
    out.write.mode("overwrite").json(path)
  }
}

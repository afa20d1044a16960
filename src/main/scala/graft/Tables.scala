package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Every loader returns the table with its on-disk schema, read from the
  * first footer on the driver ([[graft.sources.ParquetRead]]), so
  * loading a table starts no Spark job; `events`
  * additionally normalizes its nanosecond timestamp column (stored as
  * TIMESTAMP(NANOS), which Spark reads as Long nanos under
  * `nanosAsLong`) into a proper TimestampType `ts` column so downstream
  * operators never see the encoding detail.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.ParquetRead(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** events with `ts` guaranteed to be TimestampType (micros, UTC).
    *
    * The fixture's encoding has drifted across driver regenerations:
    * TIMESTAMP(NANOS) (read as Long nanos under `nanosAsLong`), then
    * `timestamp[us]` with no timezone (read as TIMESTAMP_NTZ). Normalize
    * both so downstream `unix_micros(ts)` callers never see the detail.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanos-as-long: convert to microsecond timestamp. Integral
        // `div` keeps the arithmetic in Long — `/` would go through
        // Double, whose 2^53 mantissa cannot represent ~1.7e18 nanos
        // exactly (off-by-1µs on ~12% of rows).
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // µs timestamp without timezone: the cast to TimestampType is
        // value-preserving because the session tz is pinned to UTC
        // (Sessions.local), so wall-clock == instant.
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}

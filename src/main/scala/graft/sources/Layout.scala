package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-dimensional data-CLUSTERING layout for data-skipping scans —
  * the ingest-side half of "don't read 100 TB to answer a box query".
  *
  * Parquet keeps per-row-group min/max statistics on every column and
  * the reader prunes row groups whose ranges cannot match a pushed-down
  * predicate. A single-column sort gives that pruning on one key only;
  * interleaving the bits of TWO keys (Morton / Z-order) and
  * range-sorting by the interleaved value keeps row groups tight in
  * BOTH dimensions, so a `x BETWEEN … AND y BETWEEN …` box predicate
  * skips most of the corpus on either or both columns. This is the
  * standard lakehouse clustering technique (Delta/Iceberg `ZORDER BY`),
  * here as a pure write-path transform: no table format, no custom
  * reader — the skipping is done by vanilla parquet statistics.
  *
  * The z-value is pure integer bit arithmetic (shift/and/or codegen
  * columns — no UDF), so external systems reproduce cluster assignment
  * exactly.
  */
object Layout {

  /** Bit-spread of the low 31 bits of `c` onto the even bit positions
    * of a long (the classic parallel-prefix spread). Values are masked
    * to [0, 2^31) first — callers normalize real keys (hash, bucket,
    * epoch-day) into that range.
    */
  def spreadBits(c: Column): Column = {
    var x = c.cast("long").bitwiseAND(lit(0x7FFFFFFFL))
    x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
    x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
    x
  }

  /** Morton (Z-order) interleave of two keys, each masked to 31 bits:
    * `x` occupies even bit positions, `y` odd. Monotone in the locality
    * sense: points close in (x, y) space are close in z, which is what
    * keeps row-group min/max ranges tight on both columns after a range
    * sort by z. A clustered write range-partitions by z
    * (`repartitionByRange`), sorts each partition by it
    * (`sortWithinPartitions`) and drops it before writing parquet: one
    * range shuffle — the same cost as any global sort — paid once at
    * ingest; every later box query on (x, y) skips row groups for free.
    */
  def mortonZ(x: Column, y: Column): Column =
    spreadBits(x).bitwiseOR(shiftleft(spreadBits(y), 1))
}

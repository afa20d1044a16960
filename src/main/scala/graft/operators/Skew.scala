package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers.
  *
  * AQE's skew-join split handles most runtime skew; explicit salting is
  * the deterministic fallback when one join key carries a pathological
  * share of rows (power-law user_ids, null-like sentinel keys) and the
  * *other* side is small enough to replicate [[Skew.SaltBuckets]] times but
  * too big / too dynamic to broadcast outright.
  */
object Skew {
  /** Salt buckets of [[saltedEquiJoin]]: reducers one hot key spreads over. */
  val SaltBuckets = 16

  /** Inner equi-join with the large (skewed) side salted and the other
    * side replicated into every salt bucket.
    *
    * The salt is derived deterministically from `largeIdCol` so repeated
    * runs partition identically. One hot key's rows spread over
    * [[SaltBuckets]] reducers instead of one.
    *
    * `largeIdCol` must NOT be one of the join keys: a key-derived salt
    * is constant per hot key, so the hot key's rows would still land on
    * one reducer while the other side pays the full SaltBuckets×
    * replication — a silent no-op at 16× the cost. Pass a high-cardinality
    * per-row column (an event/row id).
    */
  private[graft] def saltedEquiJoin(
      large: DataFrame,
      other: DataFrame,
      keys: Seq[String],
      largeIdCol: String): DataFrame = {
    require(!keys.contains(largeIdCol),
      s"saltedEquiJoin: largeIdCol '$largeIdCol' is a join key — a key-derived salt is " +
        "constant per hot key and defeats the salting; use a per-row id column")
    val salted = large.withColumn("__salt",
      pmod(xxhash64(col(largeIdCol)), lit(SaltBuckets.toLong)).cast("int"))
    val replicated = other.withColumn("__salt",
      explode(array((0 until SaltBuckets).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

}

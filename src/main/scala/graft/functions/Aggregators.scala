package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF exemplars (`Aggregator[IN, BUF, OUT]`) — the engine's
  * extension point for aggregation logic the built-ins can't express
  * (SURVEY.md §2.11). Aggregators get Spark's full partial-aggregation
  * treatment: the buffer is merged map-side first, so a 100 TB scan
  * reduces to one fixed-size buffer per partition before the shuffle.
  */
object Aggregators {

  /** Fixed-bin histogram over a double measure: bin i counts values in
    * [lo + i·w, lo + (i+1)·w); underflow clamps to bin 0, overflow to the
    * last bin. Buffer is a fixed Array[Long] — constant size regardless
    * of input cardinality (the property that makes it shuffle-safe at
    * any scale). Motivated by the reference's size_gambar_kb metric
    * (`/root/reference/test.py:58-59`) whose evident use is size
    * distribution reporting.
    */
  final case class BoundedHistogram(lo: Double, hi: Double, bins: Int)
      extends Aggregator[Double, Array[Long], Seq[Long]] {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    private val width = (hi - lo) / bins

    override def zero: Array[Long] = new Array[Long](bins)

    override def reduce(buf: Array[Long], x: Double): Array[Long] = {
      val i = math.min(math.max(((x - lo) / width).toInt, 0), bins - 1)
      buf(i) += 1L
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < bins) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Element-wise sum of fixed-dimension vectors: the update step of
    * k-means ([[graft.operators.Similarity.kmeansCentroids]]). The buffer
    * is one dim-length Array[Double] regardless of group size, and
    * Spark's partial aggregation merges it map-side — so each k-means
    * iteration shuffles k buffers per partition, not |corpus| vectors
    * (contrast the spec fixture `IvfReference.trainCentroids`'s posexplode
    * form, which moves |corpus|·dim rows per pass). Null or wrong-length
    * inputs are skipped rather than corrupting the buffer.
    */
  final case class VectorSum(dim: Int)
      extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    require(dim > 0, "dim must be positive")
    override def zero: Array[Double] = new Array[Double](dim)
    override def reduce(buf: Array[Double], x: Seq[Double]): Array[Double] = {
      if (x != null && x.length == dim) {
        var i = 0
        while (i < dim) { buf(i) += x(i); i += 1 }
      }
      buf
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < dim) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Double]): Seq[Double] = buf.toSeq
    override def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Misra–Gries frequent-items sketch (the SpaceSaving-equivalent MG
    * form) — bounded-memory heavy hitters over a stream of items. The
    * buffer holds at most `m` counters plus one decrement total Δ;
    * invariants (classic MG, merge per Agarwal et al. 2013 "Mergeable
    * Summaries"):
    *
    *   weight(x) ≤ true(x) ≤ weight(x) + Δ      for tracked x
    *   true(x) ≤ Δ                              for untracked x
    *   Δ ≤ n / (m + 1)
    *
    * so every item with frequency above n/(m+1) is guaranteed tracked.
    * Decrement-all triggers consume m+1 units of stream mass each, so
    * their total cost is O(n) amortized. Merge: sum weights, keep the
    * top-m by (weight desc, item asc — deterministic cut), subtract the
    * (m+1)-th largest weight from survivors and fold it into Δ.
    *
    * Buffer representation: an IMMUTABLE map, deliberately — it rides
    * Spark's product ExpressionEncoder with no kryo fallback, and the
    * per-row cost is one HAMT `updated` (a few small allocations,
    * measured ~1 µs/row all-in at the sf1 bench including the recount
    * pass). If a profile ever shows this path hot, the next lever is a
    * kryo-encoded mutable buffer — cut the allocation, pay opaque
    * buffer serialization.
    * The consumer that makes this EXACT is
    * [[graft.operators.Sketches.topKExact]]: sketch pass → recount only
    * the ≤ m candidates → top-k, never a full-vocabulary shuffle.
    */
  final case class MgItem(item: String, weight: Long)
  final case class MgSketch(items: Seq[MgItem], delta: Long)

  final case class MisraGries(m: Int)
      extends Aggregator[String, (Long, Map[String, Long]), MgSketch] {
    require(m > 0, "m must be positive")

    override def zero: (Long, Map[String, Long]) = (0L, Map.empty)

    override def reduce(buf: (Long, Map[String, Long]), x: String): (Long, Map[String, Long]) = {
      val (delta, cnt) = buf
      cnt.get(x) match {
        case Some(c) => (delta, cnt.updated(x, c + 1L))
        case None if cnt.size < m => (delta, cnt.updated(x, 1L))
        case None =>
          // decrement-all: the new item's single unit cancels against
          // one unit of every tracked counter (zeros drop out)
          val dec = cnt.flatMap { case (k, c) =>
            if (c > 1L) Some(k -> (c - 1L)) else None }
          (delta + 1L, dec)
      }
    }

    override def merge(a: (Long, Map[String, Long]),
        b: (Long, Map[String, Long])): (Long, Map[String, Long]) = {
      val summed = b._2.foldLeft(a._2) { case (acc, (k, c)) =>
        acc.updated(k, acc.getOrElse(k, 0L) + c) }
      val delta = a._1 + b._1
      if (summed.size <= m) (delta, summed)
      else {
        val ordered = summed.toSeq.sortBy { case (k, c) => (-c, k) }
        val cut = ordered(m)._2 // the (m+1)-th largest weight
        val kept = ordered.take(m).flatMap { case (k, c) =>
          if (c > cut) Some(k -> (c - cut)) else None }.toMap
        (delta + cut, kept)
      }
    }

    override def finish(buf: (Long, Map[String, Long])): MgSketch =
      MgSketch(
        buf._2.toSeq.sortBy { case (k, c) => (-c, k) }
          .map { case (k, c) => MgItem(k, c) },
        buf._1)

    override def bufferEncoder: Encoder[(Long, Map[String, Long])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Map[String, Long])]()
    override def outputEncoder: Encoder[MgSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[MgSketch]()
  }

  /** Exact distinct-count-by-key within groups beyond `countDistinct`'s
    * single-expression form: accumulates a bounded key set and degrades
    * to a sentinel (-1) once `maxExact` distinct values are seen — the
    * pattern for "exact when small, flag when not" aggregations. (For
    * unbounded cardinalities use approx_count_distinct/HLL instead.)
    */
  final case class BoundedExactDistinct(maxExact: Int)
      extends Aggregator[String, Set[String], Long] {
    override def zero: Set[String] = Set.empty
    override def reduce(s: Set[String], x: String): Set[String] =
      if (s.size > maxExact) s else s + x
    override def merge(a: Set[String], b: Set[String]): Set[String] = {
      val u = a ++ b
      if (u.size > maxExact) u.take(maxExact + 1) else u
    }
    override def finish(s: Set[String]): Long =
      if (s.size > maxExact) -1L else s.size.toLong
    override def bufferEncoder: Encoder[Set[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Set[String]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Mutable KLL-doubles buffer with EXPLICIT wire format: typed
    * aggregators keep buffers as live objects (TypedImperativeAggregate)
    * and serialize only at shuffle/spill boundaries, so the per-row
    * cost is one `update` on the heap sketch — never a
    * serialize-per-row — while the boundary format is the sketch's own
    * portable `toByteArray` (not field-reflection over datasketches
    * internals, which no serializer guarantees).
    */
  final class KllBuf(
      @transient var sk: org.apache.datasketches.kll.KllDoublesSketch)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      val b = sk.toByteArray
      out.writeInt(b.length)
      out.write(b)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      val n = in.readInt()
      val b = new Array[Byte](n)
      in.readFully(b)
      sk = org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(b))
    }
  }

  /** KLL quantile sketch over a double column (Karnin–Lang–Liberty,
    * the Datasketches heap implementation Spark already ships): the
    * mergeable FLOAT-quantile counterpart to the exact integer-bucket
    * histogram family — bounded ~O(k·log(n/k)) state per group at any
    * stream length, normalized rank error ≈ 1.33% at
    * k = 200 ([[graft.operators.Sketches.KllK]], 99% confidence), quantile answers are actual retained
    * stream values. Output is the sketch's portable byte image — the
    * state row [[graft.operators.Sketches]]' KLL family persists.
    * Null handling is the caller's (filter before aggregating, as
    * count-distinct-style semantics demand).
    */
  final case class KllDoubles(k: Int)
      extends Aggregator[Double, KllBuf, Array[Byte]] {
    require(k >= 8, "k must be at least 8")
    override def zero: KllBuf = new KllBuf(
      org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(k))
    override def reduce(b: KllBuf, x: Double): KllBuf = { b.sk.update(x); b }
    override def merge(a: KllBuf, b: KllBuf): KllBuf = { a.sk.merge(b.sk); a }
    override def finish(b: KllBuf): Array[Byte] = b.sk.toByteArray
    override def bufferEncoder: Encoder[KllBuf] =
      Encoders.javaSerialization[KllBuf]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Merge of SERIALIZED KLL sketches (state-table rows) into one byte
    * image — the read/compaction aggregator of the KLL state family.
    * Per-row cost is one heapify+merge of an already-small sketch;
    * state rows are sketch-sized, never data-sized.
    */
  final case class KllMergeBytes(k: Int)
      extends Aggregator[Array[Byte], KllBuf, Array[Byte]] {
    require(k >= 8, "k must be at least 8")
    override def zero: KllBuf = new KllBuf(
      org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(k))
    override def reduce(b: KllBuf, bytes: Array[Byte]): KllBuf = {
      if (bytes != null && bytes.nonEmpty)
        b.sk.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(bytes)))
      b
    }
    override def merge(a: KllBuf, b: KllBuf): KllBuf = { a.sk.merge(b.sk); a }
    override def finish(b: KllBuf): Array[Byte] = b.sk.toByteArray
    override def bufferEncoder: Encoder[KllBuf] =
      Encoders.javaSerialization[KllBuf]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }
}

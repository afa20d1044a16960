package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function forms the native kernels replaced: the
  * independent references the equivalence specs check each native
  * expression against. Never on a production path. */
object HofReference {
  import HashFunctions.minHashGeneric

  /** Double-precision dot product of two array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Euclidean (L2) norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. Degenerate-input contract (shared bit-for-bit
    * with [[VectorFunctions.cosineNative]] — see the semantics note on
    * [[graft.plans.CosineSimilarity]]):
    *   - NULL input ARRAY on either side → NULL (standard SQL null-in
    *     null-out; without the explicit guard the `when` condition would
    *     be null and `otherwise` would silently turn a missing embedding
    *     into 0.0);
    *   - null ELEMENT / zero norm / empty array → 0.0;
    *   - NaN anywhere → 0.0 (matches the native expression, whose Java
    *     `na > 0` is false for NaN; without the explicit isnan guard
    *     Spark's NaN-largest ordering makes `NaN > 0` TRUE here, the HOF
    *     would return NaN, and — worse — that NaN would PASS any
    *     `cosine >= threshold` near-dup filter);
    *   - length mismatch with both norms positive → NULL.
    */
  def cosine(a: Column, b: Column): Column = {
    val na = l2Norm(a)
    val nb = l2Norm(b)
    when(a.isNull || b.isNull, lit(null).cast("double"))
      .otherwise(when(na > 0 && nb > 0 && !isnan(na) && !isnan(nb),
        dot(a, b) / (na * nb)).otherwise(lit(0.0)))
  }

  /** The original HOF shingle formulation, kept as the independent
    * reference the equivalence spec checks the native expression against.
    *
    * PERFORMANCE CONTRACT (why the HOF form demanded care): `toks` MUST
    * be a materialized column (a plain attribute from a prior
    * projection), not an inline `split(...)` expression. Free outer
    * expressions inside a Catalyst lambda are re-evaluated on every
    * lambda invocation, so an inline tokenizer here turns shingling
    * O(tokens) → O(tokens²) per document.
    */
  def hashedWordShinglesHof(toks: Column, n: Int): Column = {
    val starts = sequence(lit(0), size(toks) - n)
    val hashes = transform(starts, i => xxhash64((0 until n).map(j => element_at(toks, i + j + 1)): _*))
    when(size(toks) >= n, array_distinct(hashes)).otherwise(array().cast("array<bigint>"))
  }

  /** The original HOF formulation, kept as the independent reference the
    * equivalence spec checks the native expression against.
    */
  def minHashFromHashesHof(hashes: Column, k: Int): Column =
    minHashGeneric(hashes, k, (i, h) => xxhash64(lit(i), h))

  /** The HOF formulation — O(tokens·dim) interpreted lambda steps, the
    * independent bit-identical reference the equivalence spec checks
    * the native kernel against (and what the oracle SQL replays). */
  def hashEmbedHof(hashes: Column, dim: Int): Column = {
    require(dim >= 1, "dim must be positive")
    val acc = aggregate(hashes, array_repeat(lit(0.0), dim),
      (v, h) => {
        val b = pmod(shiftrightunsigned(h, 1), lit(dim.toLong)).cast("int")
        val sgn = when(h.bitwiseAND(lit(1L)) === 0L, lit(1.0)).otherwise(lit(-1.0))
        // null tokens carry no vote (the SimHash convention)
        when(h.isNull, v)
          .otherwise(transform(v, (x, i) => x + when(i === b, sgn).otherwise(lit(0.0))))
      })
    l2NormalizeHof(acc)
  }

  /** Number of non-overlapping occurrences of `needle` in `col`,
    * computed by length difference — identical left-to-right
    * non-overlapping semantics in Spark and ANSI SQL `replace`.
    *
    * PINNED consequence of non-overlapping matching with space-padded
    * needles (the stopword idiom `" the "`): ADJACENT repeats undercount,
    * because each match consumes the shared separator space — " the the "
    * counts ONE `" the "`, not two. This is the exact semantics of the
    * DuckDB `replace`-length oracle idiom every language-scoring query
    * replays, so both sides agree; it deflates scores uniformly across
    * languages whose markers repeat adjacently (rare in prose) and the
    * ARGMAX comparison is what consumers use, not the absolute count.
    */
  def occurrences(text: Column, needle: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(needle), "")))
      / needle.length).cast("int")

  /** Reference HOF formulation of [[VectorFunctions.l2Normalize]] (kept for the
    * bit-parity spec; do not use on hot paths — see the native form's
    * scaladoc for why). The explicit `isnan` guard matches the native
    * form's Java `nrm > 0` (false for NaN): without it Spark's
    * NaN-largest ordering makes `NaN > 0` TRUE and a NaN-norm vector
    * would normalize to all-NaN instead of passing through — the same
    * guard [[cosine]] carries.
    */
  def l2NormalizeHof(a: Column): Column = {
    val n = l2Norm(a)
    when(n > 0 && !isnan(n), transform(a, x => x.cast("double") / n))
      .otherwise(transform(a, x => x.cast("double")))
  }

  /** The original HOF formulation (planes inlined as literals, one
    * interpreted aggregate pass per bit), kept as the independent
    * reference the equivalence spec checks the native expression against.
    */
  def hyperplaneSignatureHof(vec: Column, planes: Seq[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.size <= 63, "1..63 planes per signature word")
    planes.zipWithIndex.map { case (p, i) =>
      val plane = typedLit(p.toSeq)
      when(dot(vec, plane) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Deterministic unit-ish hyperplanes from a seed (Gaussian via
    * java.util.Random, which is seed-stable across JVMs).
    */
  def randomPlanes(dim: Int, count: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(count)(Array.fill(dim)(rnd.nextGaussian()))
  }
}

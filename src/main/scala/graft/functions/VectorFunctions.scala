package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column functions over `array<float>` / `array<double>`
  * columns, built from Catalyst higher-order functions (`zip_with`,
  * `aggregate`, `transform`) — codegen-friendly, no UDFs, no driver-side
  * collection. At 100 TB the embedding column never leaves the executors.
  *
  * Accumulation is double-precision and strictly left-to-right (the
  * `aggregate` HOF contract), which makes results bit-reproducible and
  * comparable across engines.
  */
object VectorFunctions {

  /** Double-precision dot product of two array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Euclidean (L2) norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. Degenerate-input contract (shared bit-for-bit
    * with [[cosineNative]] — see the semantics note on
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

  /** Cosine via the native fused-loop Catalyst expression
    * ([[graft.plans.CosineSimilarity]]) — bit-identical to [[cosine]],
    * zero per-row allocation, full codegen. Requires a session built with
    * [[graft.plans.GraftExtensions]] (graft.Sessions.local does this).
    */
  def cosineNative(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** L2-normalized copy of the vector (unit length); zero vector maps to
    * itself. Native one-pass codegen ([[graft.plans.L2Normalize]], built
    * directly as an Expression so it resolves in any session) — the HOF
    * form below re-evaluates the captured norm subexpression per ELEMENT
    * when interpreted (`aggregate` is CodegenFallback), i.e. dim² evals
    * per row; parity is spec-pinned.
    */
  def l2Normalize(a: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.L2Normalize(org.apache.spark.sql.GraftSqlBridge.expression(a)))

  /** Reference HOF formulation of [[l2Normalize]] (kept for the
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

  /** Signed random-hyperplane (SimHash-for-vectors) signature: one bit per
    * plane, packed into a Long (plane 0 = LSB). Native fused expression
    * ([[graft.plans.HyperplaneSig]]): planes are regenerated on each
    * executor from the (dim, bits, seed) literals — deterministic, zero
    * broadcast, one codegen pass over the vector.
    *
    * This is the LSH primitive for approximate cosine search: vectors with
    * small angle collide on most bits.
    */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int, seed: Long): Column =
    call_function("graft_hyperplanes", vec, lit(dim), lit(bits), lit(seed))

  /** Johnson-Lindenstrauss random projection to `k` dims
    * ([[graft.plans.RandomProjection]], native one-pass codegen):
    * pairwise angles survive within O(√(log n / k)), so ANN candidate
    * stages run on k ≪ dim doubles per row and only the exact verify
    * touches full vectors — the 100 TB embedding-budget lever alongside
    * int8 quantization below.
    */
  private[graft] def randomProjection(vec: Column, dim: Int, k: Int, seed: Long): Column =
    call_function("graft_project", vec, lit(dim), lit(k), lit(seed))

  /** The original HOF formulation (planes inlined as literals, one
    * interpreted aggregate pass per bit), kept as the independent
    * reference the equivalence spec checks the native expression against.
    */
  private[graft] def hyperplaneSignatureHof(vec: Column, planes: Seq[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.size <= 63, "1..63 planes per signature word")
    planes.zipWithIndex.map { case (p, i) =>
      val plane = typedLit(p.toSeq)
      when(dot(vec, plane) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Deterministic unit-ish hyperplanes from a seed (Gaussian via
    * java.util.Random, which is seed-stable across JVMs).
    */
  private[graft] def randomPlanes(dim: Int, count: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(count)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Hamming distance between two packed signature Longs. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Symmetric int8 quantization of an embedding column: per-vector
    * absmax scaling onto [-127, 127], returned as
    * `struct<scale: double, q: array<tinyint>>`. At 100 TB of float32
    * embeddings this is the 4× storage/shuffle-volume cut the ANN
    * candidate stages run on — re-rank the shortlisted candidates with
    * the full-precision vectors ([[graft.operators.Similarity]] already
    * re-ranks candidates only, so quantization slots in upstream of the
    * bucket join without touching recall-critical scoring). Pure HOF
    * expressions, no UDF; zero vector → scale 1.0, all-zero codes
    * (round-trips to itself).
    */
  def quantizeInt8(v: Column): Column = {
    val mx = array_max(transform(v, x => abs(x.cast("double"))))
    // NaN guards: under ANSI mode (Spark 4 default) round(NaN).cast(byte)
    // throws CAST_INVALID_INPUT, so one bad embedding would kill the whole
    // job. NaN absmax (NaN > 0 is TRUE under Spark's NaN-largest ordering)
    // degrades to scale 1; NaN elements encode as code 0.
    val scale = when(mx > 0 && !isnan(mx), mx / 127.0).otherwise(lit(1.0))
    struct(scale.as("scale"),
      transform(v, x =>
        when(isnan(x.cast("double")), lit(0).cast("byte"))
          .otherwise(round(x.cast("double") / scale).cast("byte"))).as("q"))
  }

  /** Inverse of [[quantizeInt8]]: `array<double>` reconstruction. */
  private[graft] def dequantizeInt8(qs: Column): Column =
    transform(qs.getField("q"), b => b.cast("double") * qs.getField("scale"))

  /** Product-quantization encode: `array<float|double>` of length
    * m·subdim → `array<short>` of length m via the per-subspace
    * L2-nearest codeword ([[graft.plans.PqEncode]] — native, codegen).
    * Codebooks come from [[graft.operators.Similarity.pqCodebooks]];
    * encode the L2-NORMALIZED vector (the codebooks were trained on
    * normalized samples) — [[graft.operators.VectorIndex]] does. The
    * codebook matrix rides the expression as driver state (pinned via
    * addReferenceObj), so this can't go through the registered-function
    * path — the bridge constructs it directly. */
  def pqEncode(v: Column, cbs: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(graft.plans.PqEncode(
      org.apache.spark.sql.GraftSqlBridge.expression(v), cbs))

  /** cosine(query, reconstruct(codes)) in one fused pass
    * ([[graft.plans.PqCosine]]) — scores a full-precision query column
    * against PQ codes without materializing the reconstruction. */
  private[graft] def pqCosine(q: Column, codes: Column, cbs: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(graft.plans.PqCosine(
      org.apache.spark.sql.GraftSqlBridge.expression(q),
      org.apache.spark.sql.GraftSqlBridge.expression(codes), cbs))

  /** cosine(query, centroid + reconstruct(codes)) — residual-PQ scoring
    * ([[graft.plans.PqResidualCosine]], the Faiss IVFPQ contract):
    * codes encode `x̂ − centroid(cell)`, so reconstruction adds the
    * posting's centroid back per coordinate in the same fused pass. */
  def pqResidualCosine(q: Column, codes: Column, centroid: Column,
      cbs: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(graft.plans.PqResidualCosine(
      org.apache.spark.sql.GraftSqlBridge.expression(q),
      org.apache.spark.sql.GraftSqlBridge.expression(codes),
      org.apache.spark.sql.GraftSqlBridge.expression(centroid), cbs))
}

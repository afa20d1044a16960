package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid assignment in ONE fused pass: `array<float|double>`
  * → the index of the centroid with the highest cosine similarity.
  * This is the k-means assignment step ([[graft.operators.Similarity
  * .assignCluster]]), which the HOF formulation
  * `array_max(transform(centsLit, (c, ci) => struct(cosine(emb, c),
  * ci))).getField("cid")` computes by building k structs and an
  * intermediate array PER ROW before a generic ordering pass — at
  * k ≈ 100 centroids that allocation dominates every Lloyd iteration
  * and the final assignment projection (q94's profile at sf1). Here
  * the embedding is read once into a local buffer and the k dot
  * products run over a flat row-major matrix pinned in the generated
  * class — zero per-row allocation beyond the buffer, full codegen.
  *
  * BEHAVIORALLY IDENTICAL to the HOF composition, case by case (each
  * cosine follows [[CosineSimilarity]]'s documented semantics; the
  * argmax follows Spark's struct ordering under `array_max` — NULL
  * lowest, NaN highest, ties resolve to the HIGHER index):
  *   - NULL input array → every struct's cd is null → ties → k−1
  *     (NOT null — mirrored by overriding eval/codegen, not
  *     nullSafeEval);
  *   - null element / zero norm / NaN-poisoned norm → every cosine is
  *     0.0 → ties → k−1 (a zero-NORM centroid also scores 0.0 and
  *     cannot break the tie above k−1);
  *   - length mismatch with a positive input norm → cd null for every
  *     positive-norm centroid, 0.0 for zero-norm ones → the LAST
  *     zero-norm centroid wins, else k−1;
  *   - normal path: cos = dot / (√na · ‖cent‖), dot and both norms
  *     accumulated left-to-right in double — per-centroid bit-identical
  *     to [[CosineSimilarity]]'s fused fast path; ties → higher index,
  *     NaN outranks everything.
  */
case class ArgmaxCosine(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) if cents.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckFailure("graft_argmax_cos needs at least one centroid")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_argmax_cos expects array<float|double>, got ${dt.sql}")
  }

  private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val dim: Int = cents.head.length
  private lazy val flat: Array[Double] =
    ArgmaxCosine.flattenCentroids(cents, dim)
  private lazy val norms: Array[Double] = ArgmaxCosine.centroidNorms(cents)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) cents.length - 1
    else ArgmaxCosine.compute(
      v.asInstanceOf[ArrayData], flat, norms, cents.length, dim, elemIsFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val matRef = ctx.addReferenceObj("argmaxCents", flat, "double[]")
    val normRef = ctx.addReferenceObj("argmaxNorms", norms, "double[]")
    ev.copy(
      code = code"""
        ${childGen.code}
        int ${ev.value} = ${childGen.isNull}
          ? ${cents.length - 1}
          : graft.plans.ArgmaxCosine.compute(
              ${childGen.value}, $matRef, $normRef, ${cents.length}, $dim, $elemIsFloat);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // case-class equality over the Array[Array[Double]] field is REFERENCE
  // equality, so two semantically identical invocations never compare
  // equal — defeating Catalyst canonicalization and common-subexpression
  // elimination (ADVICE r12; perf only, never correctness). Compare and
  // hash centroid CONTENT instead.
  override def equals(other: Any): Boolean = other match {
    case a: ArgmaxCosine => child == a.child &&
      java.util.Arrays.deepEquals(
        cents.asInstanceOf[Array[AnyRef]], a.cents.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])

  override def prettyName: String = "graft_argmax_cos"
}

object ArgmaxCosine {

  /** (score a, idx a) strictly better than (score b, idx b) under the
    * argmax-cosine ordering (array_max's struct ordering): NaN outranks
    * every double, ties → higher index.
    */
  private def better(a: Double, ia: Int, b: Double, ib: Int): Boolean =
    if (java.lang.Double.isNaN(a)) !java.lang.Double.isNaN(b) || ia > ib
    else if (java.lang.Double.isNaN(b)) false
    else a > b || (a == b && ia > ib)

  /** k×dim row-major centroid matrix. */
  private def flattenCentroids(m: Array[Array[Double]], dim: Int): Array[Double] = {
    require(m.forall(_.length == dim), "graft_argmax_cos: centroids must share one dimension")
    val out = new Array[Double](m.length * dim)
    var c = 0
    while (c < m.length) { System.arraycopy(m(c), 0, out, c * dim, dim); c += 1 }
    out
  }

  /** Per-centroid L2 norms, accumulated left-to-right like
    * CosineSimilarity computes them.
    */
  private def centroidNorms(m: Array[Array[Double]]): Array[Double] =
    m.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }

  /** Runtime kernel shared by eval and codegen; semantics documented on
    * the expression. `flat` is k×dim row-major; `norms(c) = ‖cent_c‖`.
    */
  def compute(arr: ArrayData, flat: Array[Double], norms: Array[Double],
      k: Int, dim: Int, isFloat: Boolean): Int = {
    val n = arr.numElements()
    if (n != dim) {
      // mismatch: positive-norm centroids score null, zero-norm score
      // 0.0 — but only when the INPUT norm is positive and clean;
      // otherwise every cosine is 0.0 and ties go to k-1 either way
      var na = 0.0
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) return k - 1
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        na += x * x; i += 1
      }
      if (!(na > 0)) return k - 1
      // a centroid scores 0.0 here iff its norm is NOT positive — zero
      // OR NaN (the HOF's `nb > 0` test fails for both); positive-norm
      // centroids score null and lose to any 0.0
      var best = k - 1
      var c = k - 1
      var found = false
      while (c >= 0 && !found) {
        if (!(norms(c) > 0.0)) { best = c; found = true }
        c -= 1
      }
      return best
    }
    val v = new Array[Double](dim)
    var na = 0.0
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return k - 1
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      v(i) = x; na += x * x
      i += 1
    }
    if (!(na > 0)) return k - 1 // zero norm, or NaN poisoned the sum
    val sqrtNa = math.sqrt(na)
    var best = 0
    var bestCos = 0.0
    var c = 0
    while (c < k) {
      var dot = 0.0
      val off = c * dim
      var j = 0
      while (j < dim) { dot += v(j) * flat(off + j); j += 1 }
      val cos = if (norms(c) > 0) dot / (sqrtNa * norms(c)) else 0.0
      if (c == 0 || ArgmaxCosine.better(cos, c, bestCos, best)) {
        best = c; bestCos = cos
      }
      c += 1
    }
    best
  }
}

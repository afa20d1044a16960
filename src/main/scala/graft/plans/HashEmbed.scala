package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Signed feature-hashing embedder (the "hashing trick", Weinberger et
  * al. 2009): a pre-hashed token array (`array<bigint>`, the same
  * SimHash/MinHash input convention) → a dense L2-normalized
  * `array<double>` of length `dim`. Each token votes ±1 into one
  * bucket — bucket = `(h >>> 1) % dim`, sign from bit 0 — so the
  * result is a fixed-width embedding of the token MULTISET computable
  * with no model, no vocabulary, no shuffle: a pure per-row projection
  * that turns the `documents` table into an `embeddings` table the
  * whole ANN/near-dup family (VectorIndex, LSH, brute top-k,
  * SemDeDup) can consume directly. The unsigned-shift bucket keeps the
  * modulo non-negative; the sign bit halves the collision bias (two
  * colliding tokens cancel half the time instead of always adding).
  *
  * One fused pass, zero allocation beyond the output array, full
  * codegen (the spec reference `HofReference.hashEmbedHof` is the
  * bit-identical HOF reference the spec pins — O(tokens·dim) lambda
  * evaluations there vs O(tokens + dim) here).
  *
  * Degenerate semantics: NULL input array → NULL; null ELEMENTS carry
  * no vote (SimHash's convention); an empty array or fully-cancelled
  * votes (zero norm) → the all-zero vector, never NaN.
  */
case class HashEmbed(child: Expression, dim: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if dim >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure("graft_hash_embed needs dim >= 1")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_hash_embed expects array<bigint> (pre-hashed tokens), got ${dt.sql}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HashEmbed.compute(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.HashEmbed.compute($a, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_hash_embed"
}

object HashEmbed {

  /** Shared by interpreted eval and codegen. Accumulation is ±1.0
    * double adds (integer-valued, exact in any order); the normalize
    * pass accumulates the squared norm in bucket order, matching the
    * HOF reference bit-for-bit. */
  def compute(a: ArrayData, dim: Int): ArrayData = {
    val v = new Array[Double](dim)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) { // null tokens carry no vote
        val h = a.getLong(i)
        val b = ((h >>> 1) % dim).toInt
        v(b) += (if ((h & 1L) == 0L) 1.0 else -1.0)
      }
      i += 1
    }
    var s = 0.0
    var j = 0
    while (j < dim) { s += v(j) * v(j); j += 1 }
    if (s > 0) {
      val nrm = math.sqrt(s)
      j = 0
      while (j < dim) { v(j) /= nrm; j += 1 }
    }
    new GenericArrayData(v)
  }
}

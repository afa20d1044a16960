package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Random-hyperplane LSH signature of an embedding column in one fused
  * pass: `array<float|double>` → packed Long where bit i is the sign of
  * `vec · plane_i` over `bits` seeded Gaussian hyperplanes (plane 0 =
  * LSB). Planes are regenerated deterministically from (dim, bits, seed)
  * via `java.util.Random.nextGaussian` — identical draw order to
  * the spec reference `HofReference.randomPlanes`, so signatures are
  * stable across executors, runs, and cluster sizes with no plane
  * broadcast at all.
  *
  * BIT-IDENTICAL to the HOF formulation
  * `sum_i when(dot(vec, typedLit(plane_i)) >= 0, 1L << i)` where `dot` is
  * the strict left-to-right double `aggregate`: accumulation order is
  * ascending element index, and the degenerate cases match —
  *   - length mismatch with the plane (zip_with null-pads → null dot →
  *     `when` falls through) → that bit is 0; since every plane has the
  *     same length, the whole signature is 0L;
  *   - a null ELEMENT nulls every dot the same way → 0L;
  *   - NaN dot: Spark's `>=` orders NaN above every double, so the HOF
  *     sets the bit — mirrored here explicitly (java `>=` alone would
  *     disagree);
  *   - NULL input array → NULL (nullSafeEval).
  *
  * Why native: the HOF form runs `bits` interpreted aggregate+zip_with
  * passes per row per hash table (q34: 6 tables × 10 bits = 60 passes,
  * each allocating a zipped intermediate array). This is one loop over
  * the vector, zero allocation, full codegen.
  */
case class HyperplaneSig(child: Expression, dim: Int, bits: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) if bits >= 1 && bits <= 63 && dim >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckFailure("need 1 <= bits <= 63 and dim >= 1")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_hyperplanes expects array<float> or array<double>, got ${dt.sql}")
  }

  // bits × dim Gaussian matrix, row-major; same draw order as
  // HofReference.randomPlanes(dim, bits, seed), the spec reference
  private lazy val planes: Array[Double] = {
    val rnd = new java.util.Random(seed)
    Array.fill(bits * dim)(rnd.nextGaussian())
  }

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneSig.compute(input.asInstanceOf[ArrayData], planes, dim, bits, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("hyperplanes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.HyperplaneSig.compute($a, $planesRef, $dim, $bits, $elemIsFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_hyperplanes"
}

object HyperplaneSig {

  /** Runtime kernel shared by eval and codegen. */
  def compute(arr: ArrayData, planes: Array[Double], dim: Int, bits: Int,
      isFloat: Boolean): Long = {
    val n = arr.numElements()
    if (n != dim) return 0L
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return 0L; i += 1 }
    var sig = 0L
    var b = 0
    while (b < bits) {
      val off = b * dim
      var dot = 0.0
      i = 0
      // strict ascending-index accumulation: must match the aggregate HOF
      // fold order bit-for-bit
      while (i < n) {
        val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        dot += v * planes(off + i)
        i += 1
      }
      if (dot >= 0.0 || java.lang.Double.isNaN(dot)) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

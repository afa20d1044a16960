package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** L2-normalize a vector (unit length) in ONE fused codegen pass.
  *
  * The HOF formulation (`when(l2Norm(a) > 0, transform(a, x / l2Norm(a)))
  * .otherwise(transform(a, cast))`) is quadratic-per-row when
  * interpreted: `aggregate` is CodegenFallback, and the norm
  * subexpression captured by the `transform` lambda is re-evaluated for
  * EVERY element — dim × dim interpreted element-evals per row (measured
  * ~0.3 ms/row at dim 64; it made k-means' training-sample
  * materialization the dominant stage of semantic dedup). This
  * expression computes Σx² once, then divides — 2·dim flops, zero lambda
  * machinery, one output allocation.
  *
  * Semantics, bit-for-bit with the HOF form
  * (the spec reference `HofReference.l2NormalizeHof`, parity-pinned in
  * VectorExpressionsSpec):
  *   - NULL input array → NULL (null-in null-out);
  *   - any null ELEMENT → the HOF norm is null, its `when` condition is
  *     null → the cast-copy branch fires → elements cast to double,
  *     nulls preserved;
  *   - NaN element → norm NaN, `NaN > 0` false → cast copy (NaN kept);
  *   - zero norm (incl. empty array, all-zero vector) → cast copy;
  *   - otherwise x_i / sqrt(Σx²), accumulation strictly left-to-right in
  *     doubles.
  */
case class L2Normalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = {
    val containsNull = child.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    }
    ArrayType(DoubleType, containsNull)
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_l2_normalize expects array<float>/array<double>, got ${dt.sql}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    L2Normalize.normalize(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // the loop lives in compiled library code; the generated row code is
    // one static call, so the expression still rides whole-stage codegen
    // (no CodegenFallback, no interpreted lambdas)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.L2Normalize.normalize($a, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_l2_normalize"
}

object L2Normalize {

  /** Shared by interpreted eval and codegen. Returns the HOF-identical
    * normalized copy (see class doc for the degenerate-input table).
    */
  def normalize(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    var hasNull = false
    while (i < n && !hasNull) {
      if (a.isNullAt(i)) hasNull = true
      else {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        s += x * x
      }
      i += 1
    }
    if (hasNull) {
      // cast copy, nulls preserved (matches the HOF otherwise-branch)
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        out(i) =
          if (a.isNullAt(i)) null
          else if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val nrm = math.sqrt(s)
      val out = new Array[Double](n)
      val scale = nrm > 0 // false for NaN and 0.0
      i = 0
      while (i < n) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        out(i) = if (scale) x / nrm else x
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector/sketch hot path.
  *
  * The higher-order-function formulations (zip_with + aggregate) are
  * correct but allocate an intermediate array per row and evaluate three
  * lambda chains per cosine. These expressions compute the same values
  * in ONE fused loop with zero allocation, and participate in whole-stage
  * codegen via `doGenCode` — at 10^9 rows the difference is a full
  * scan's worth of GC pressure.
  *
  * Numeric contract: double accumulation, strictly left-to-right — BIT
  * IDENTICAL to the HOF versions in [[graft.functions.VectorFunctions]]
  * (and to the DuckDB oracle fragment), so swapping one for the other
  * never changes a query result.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Non-null inputs can still yield NULL (length mismatch with positive
  // norms — see the semantics note on nullSafeEval).
  override def nullable: Boolean = true

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects array<float>/array<double> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")

  @inline private def elemAt(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Degenerate-input semantics, shared with the HOF form (the
    * `aggregate`/`zip_with` cosine the specs keep as its reference),
    * case by case:
    *   - NULL input ARRAY on either side → **NULL** (null-in null-out;
    *     `nullSafeEval`/`nullSafeCodeGen` never run — the HOF form carries
    *     an explicit `isNull` guard to match);
    *   - any NULL element in either array → the HOF norm is null → its
    *     `when` condition is null → `otherwise` fires → **0.0**;
    *   - length mismatch with both norms > 0 → zip_with pads with nulls so
    *     the dot is null while the condition is true → **NULL**;
    *   - zero norm (incl. empty arrays) → condition false → **0.0**;
    *   - otherwise the fused loop, double accumulation, left-to-right —
    *     bit identical to the HOF form and the DuckDB oracle fragment.
    */
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val aFloat = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val bFloat = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val an = a.numElements(); val bn = b.numElements()
    var na = 0.0; var nb = 0.0
    var i = 0
    if (an == bn) {
      // fast path: ONE fused loop, zero allocation (the 99.99% case)
      var dot = 0.0
      while (i < an) {
        if (a.isNullAt(i) || b.isNullAt(i)) return 0.0
        val x = elemAt(a, i, aFloat)
        val y = elemAt(b, i, bFloat)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0
    } else {
      while (i < an) {
        if (a.isNullAt(i)) return 0.0
        val x = elemAt(a, i, aFloat); na += x * x; i += 1
      }
      i = 0
      while (i < bn) {
        if (b.isNullAt(i)) return 0.0
        val y = elemAt(b, i, bFloat); nb += y * y; i += 1
      }
      if (na > 0 && nb > 0) null else 0.0
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (left.dataType.asInstanceOf[ArrayType].elementType == FloatType)
      "getFloat" else "getDouble"
    val bGet = if (right.dataType.asInstanceOf[ArrayType].elementType == FloatType)
      "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      val an = ctx.freshName("an"); val bn = ctx.freshName("bn")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val nullElem = ctx.freshName("nullElem")
      // mirrors nullSafeEval: fused single loop when lengths match;
      // null element → 0.0; mismatch with positive norms → NULL
      s"""
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |boolean $nullElem = false;
         |int $an = $a.numElements(), $bn = $b.numElements();
         |${ev.value} = 0.0;
         |if ($an == $bn) {
         |  for (int $i = 0; $i < $an; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $nullElem = true; break; }
         |    double $x = (double) $a.$aGet($i);
         |    double $y = (double) $b.$bGet($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!$nullElem && $na > 0 && $nb > 0) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |} else {
         |  for (int $i = 0; $i < $an && !$nullElem; $i++) {
         |    if ($a.isNullAt($i)) { $nullElem = true; }
         |    else { double $x = (double) $a.$aGet($i); $na += $x * $x; }
         |  }
         |  for (int $i = 0; $i < $bn && !$nullElem; $i++) {
         |    if ($b.isNullAt($i)) { $nullElem = true; }
         |    else { double $y = (double) $b.$bGet($i); $nb += $y * $y; }
         |  }
         |  if (!$nullElem && $na > 0 && $nb > 0) { ${ev.isNull} = true; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine"
}

/** SimHash of a pre-hashed token array (`array<bigint>`), packed into a
  * Long with `bits` significant bits. Single pass over the tokens; the
  * HOF formulation runs `bits` aggregate passes.
  */
case class SimHash64(child: Expression, bits: Int) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if bits >= 1 && bits <= 63 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckFailure("bits must be 1..63")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<bigint> (pre-hashed tokens), got ${dt.sql}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Long](bits)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) { // null tokens carry no vote
        val h = arr.getLong(i)
        var j = 0
        while (j < bits) {
          counts(j) += (if (((h >>> j) & 1L) == 1L) 1L else -1L)
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) { if (counts(j) >= 0) sig |= (1L << j); j += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val counts = ctx.freshName("counts"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val h = ctx.freshName("h"); val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      s"""
         |long[] $counts = new long[$bits];
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < $bits; $j++) {
         |    $counts[$j] += ((($h >>> $j) & 1L) == 1L) ? 1L : -1L;
         |  }
         |}
         |long $sig = 0L;
         |for (int $j = 0; $j < $bits; $j++) {
         |  if ($counts[$j] >= 0) $sig |= (1L << $j);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash"
}

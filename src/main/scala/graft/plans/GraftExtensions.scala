package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType}

/** Engine extension point: registers the native expressions as SQL
  * functions so they are usable from `spark.sql(...)`, `expr(...)`, and
  * `call_function` — install with
  * `SparkSession.builder.withExtensions(new GraftExtensions)` (done by
  * [[graft.Sessions.local]]).
  */
object GraftExtensions {

  /** Is a graft native function registered in `session`'s catalog?
    * Operators that prefer a native expression but must keep working in
    * sessions built WITHOUT GraftExtensions probe with this and fall
    * back to the pure-Column HOF form. Resolve against the session that
    * OWNS the target DataFrame (`df.sparkSession`), never
    * `getActiveSession`, which can be a different session in
    * multi-session apps (ADVICE r12).
    */
  def hasFunction(session: org.apache.spark.sql.SparkSession, name: String): Boolean =
    session.sessionState.catalog.isRegisteredFunction(FunctionIdentifier(name))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    ext.injectOptimizerRule(_ => TopKColumnPruning)

    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => CosineSimilarity(a, b)
        case _ => throw new IllegalArgumentException("graft_cosine(a, b) takes 2 arguments")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_rollhash"),
      new ExpressionInfo(classOf[RollingHashNGrams].getName, "graft_rollhash"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(kk: Int, IntegerType)) => RollingHashNGrams(c, kk)
        case _ => throw new IllegalArgumentException(
          "graft_rollhash(text, k) takes a string and a literal gram length")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(kk: Int, IntegerType)) => MinHashSig(c, kk)
        case _ => throw new IllegalArgumentException(
          "graft_minhash(hashes, k) takes array<bigint> and a literal permutation count")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowMin].getName, "graft_winnow"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(ww: Int, IntegerType)) => WinnowMin(c, ww)
        case _ => throw new IllegalArgumentException(
          "graft_winnow(hashes, w) takes array<bigint> and a literal window length")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => SimHash64(c, 48)
        case Seq(c, Literal(b: Int, IntegerType)) => SimHash64(c, b)
        case _ => throw new IllegalArgumentException(
          "graft_simhash(hashes[, bits]) takes array<bigint> and an optional literal bit count")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleHash].getName, "graft_shingles"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(nn: Int, IntegerType), Literal(d: Boolean, BooleanType)) =>
          ShingleHash(c, nn, d)
        case _ => throw new IllegalArgumentException(
          "graft_shingles(toks, n, distinct) takes array<string> and literal gram length / distinct flag")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_count_all"),
      new ExpressionInfo(classOf[NeedleCounts].getName, "graft_count_all"),
      (children: Seq[Expression]) => children match {
        case Seq(t, arr) if arr.foldable &&
            arr.dataType == org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType, false) =>
          val data = arr.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          NeedleCounts(t,
            (0 until data.numElements()).map(i => data.getUTF8String(i).toString))
        case _ => throw new IllegalArgumentException(
          "graft_count_all(text, array('needle', ...)) takes a string and a literal string array")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_hyperplanes"),
      new ExpressionInfo(classOf[HyperplaneSig].getName, "graft_hyperplanes"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(d: Int, IntegerType), Literal(b: Int, IntegerType),
            Literal(s: Long, LongType)) =>
          HyperplaneSig(c, d, b, s)
        case _ => throw new IllegalArgumentException(
          "graft_hyperplanes(vec, dim, bits, seed) takes array<float|double> and literal dim/bits/seed")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_argmax_cos"),
      new ExpressionInfo(classOf[ArgmaxCosine].getName, "graft_argmax_cos"),
      (children: Seq[Expression]) => children match {
        case Seq(c, arr) if arr.foldable && (arr.dataType match {
              case org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.DoubleType, _), _) => true
              case _ => false
            }) =>
          val data = arr.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          if (data == null) throw new IllegalArgumentException(
            "graft_argmax_cos: centroid matrix literal must not be NULL")
          val cents = (0 until data.numElements()).map { i =>
            if (data.isNullAt(i)) throw new IllegalArgumentException(
              s"graft_argmax_cos: centroid $i is NULL")
            data.getArray(i).toDoubleArray()
          }.toArray
          ArgmaxCosine(c, cents)
        case _ => throw new IllegalArgumentException(
          "graft_argmax_cos(vec, array(array(...))) takes array<float|double> and a literal centroid matrix")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_span_mask"),
      new ExpressionInfo(classOf[SpanMask].getName, "graft_span_mask"),
      (children: Seq[Expression]) => children match {
        case Seq(t, s, Literal(nn: Int, IntegerType)) => SpanMask(t, s, nn)
        case _ => throw new IllegalArgumentException(
          "graft_span_mask(toks, starts, n) takes array<string>, array<int> and a literal window length")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => NfcNormalize(c)
        case _ => throw new IllegalArgumentException("graft_nfc(text) takes 1 argument")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_hash_embed"),
      new ExpressionInfo(classOf[HashEmbed].getName, "graft_hash_embed"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(d: Int, IntegerType)) => HashEmbed(c, d)
        case _ => throw new IllegalArgumentException(
          "graft_hash_embed(hashes, dim) takes array<bigint> (pre-hashed tokens) and a literal dim")
      }))
  }
}

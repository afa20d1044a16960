package graft

import org.apache.spark.sql.functions._
import graft.functions.{HofReference, VectorFunctions => VF}

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  /** The inverse of `quantizeInt8`: each code times its vector's scale. */
  private def dequantize(qs: org.apache.spark.sql.Column) =
    transform(qs.getField("q"), b => b.cast("double") * qs.getField("scale"))

  private val df = Seq(
    (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
    (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
    (Seq(3.0f, 4.0f), Seq(3.0f, 4.0f))).toDF("a", "b")

  test("dot, norm, cosine") {
    val rows = df.select(VF.dot(col("a"), col("b")), VF.l2Norm(col("a")),
      VF.cosine(col("a"), col("b"))).as[(Double, Double, Double)].collect()
    assert(rows(0) == ((1.0, 1.0, 1.0)))
    assert(rows(1) == ((0.0, 1.0, 0.0)))
    assert(rows(2)._2 == 5.0 && math.abs(rows(2)._3 - 1.0) < 1e-12)
  }

  test("zero vector cosine is 0") {
    val z = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    assert(z.select(VF.cosine(col("a"), col("b"))).as[Double].head() == 0.0)
  }

  test("l2 normalize gives unit norm") {
    val n = df.select(VF.l2Norm(VF.l2Normalize(col("a")))).as[Double].collect()
    assert(n.forall(x => math.abs(x - 1.0) < 1e-12))
  }

  test("hyperplane signature: same vector → same bits; deterministic planes") {
    val planes = HofReference.randomPlanes(2, 8, seed = 7)
    val planes2 = HofReference.randomPlanes(2, 8, seed = 7)
    assert(planes.map(_.toSeq) == planes2.map(_.toSeq))
    val sig = df.select(VF.hyperplaneSignature(col("a"), 2, 8, seed = 7)).as[Long].collect()
    val sigB = df.select(VF.hyperplaneSignature(col("b"), 2, 8, seed = 7)).as[Long].collect()
    assert(sig(0) == sigB(0)) // identical vectors
    assert(sig(2) == sigB(2))
  }

  test("native hyperplane signature matches the HOF formulation") {
    val planes = HofReference.randomPlanes(2, 8, seed = 7)
    val rows = df.select(
      HofReference.hyperplaneSignatureHof(col("a"), planes).as("hof"),
      VF.hyperplaneSignature(col("a"), 2, 8, seed = 7).as("native")).collect()
    rows.foreach(r => assert(r.get(0) == r.get(1), s"hof=${r.get(0)} native=${r.get(1)}"))
  }

  test("hamming distance") {
    val d = Seq((5L, 1L)).toDF("x", "y")
    assert(d.select(VF.hammingDistance(col("x"), col("y"))).as[Int].head() == 1)
  }

  test("int8 quantization: cosine preserved within 1e-3, zero vector round-trips") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(50)(Seq.fill(64)(rnd.nextGaussian().toFloat * 10f))
    val q = vecs.toDF("v")
      .select(VF.cosine(dequantize(VF.quantizeInt8(col("v"))), col("v")).as("c"),
        VF.l2Norm(dequantize(VF.quantizeInt8(col("v")))).as("qn"),
        VF.l2Norm(col("v")).as("n"))
      .as[(Double, Double, Double)].collect()
    q.foreach { case (c, qn, n) =>
      assert(c > 0.999, s"cosine degraded to $c")         // direction preserved
      assert(math.abs(qn - n) / n < 0.01, s"norm drifted $qn vs $n") // magnitude preserved
    }
    // degenerate: the zero vector reconstructs exactly
    val z = Seq(Seq(0.0f, 0.0f, 0.0f)).toDF("v")
      .select(dequantize(VF.quantizeInt8(col("v")))).as[Seq[Double]].head()
    assert(z == Seq(0.0, 0.0, 0.0))
    // codes are genuinely int8: max |code| is 127 on the absmax coordinate
    val codes = vecs.toDF("v").select(VF.quantizeInt8(col("v")).getField("q"))
      .as[Seq[Byte]].collect()
    assert(codes.forall(_.forall(b => b >= -127 && b <= 127)))
    assert(codes.forall(_.exists(b => math.abs(b) == 127)))
  }

  test("quantizeInt8: NaN elements degrade to code 0 instead of an ANSI cast crash") {
    import graft.functions.{VectorFunctions => VF}
    val df = Seq(Seq(Float.NaN, 0.5f), Seq(Float.NaN, Float.NaN)).toDF("v")
    val rows = df.select(VF.quantizeInt8(col("v")).as("q"))
      .select(col("q.scale"), col("q.q")).collect()
    val codes0 = rows(0).getSeq[Byte](1)
    assert(codes0(0) == 0 && codes0(1) != 0, s"NaN->0, real value encoded: $codes0")
    assert(rows(1).getDouble(0) == 1.0 && rows(1).getSeq[Byte](1).forall(_ == 0),
      "all-NaN vector: scale 1, all-zero codes")
  }
}

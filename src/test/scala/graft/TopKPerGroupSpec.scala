package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Relational, VectorIndex}
import graft.pipeline.CorpusPipeline

class TopKPerGroupSpec extends SparkSpec {
  import spark.implicits._
  import TopKPerGroupSpec.assertBoundBeforeShuffle

  private val dir = "/root/testdata/sf0.001"
  private lazy val orders = Tables.orders(spark, dir)

  test("plans as Partial -> exchange -> Final (partial bound before the shuffle)") {
    assertBoundBeforeShuffle(Relational.topKPerGroup(
      orders, Seq(col("o_custkey")), Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3))
  }

  test("ascending order, k=1 returns the minimum per group") {
    val df = Seq((1, 10.0, "a"), (1, 5.0, "b"), (2, 7.0, "c")).toDF("g", "v", "tag")
    val r = Relational.topKPerGroup(df, Seq(col("g")), Seq(col("v").asc, col("tag").asc), 1)
      .select("g", "tag").as[(Int, String)].collect().toSet
    assert(r == Set((1, "b"), (2, "c")))
  }

  test("works with composite keys and survives further transforms") {
    val li = Tables.lineitem(spark, dir)
    val top = Relational.topKPerGroup(li,
      Seq(col("l_returnflag"), col("l_linestatus")),
      Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc), 2)
    val agg = top.groupBy("l_returnflag").count().as[(String, Long)].collect().toMap
    // ≤ 2 per (flag,status) combination, grouped up to flag level
    assert(agg.values.forall(_ <= 4))
    assert(agg.nonEmpty)
  }

  test("samplePerStratum and a vector-index probe bound each group before the shuffle") {
    assertBoundBeforeShuffle(CorpusPipeline.samplePerStratum(
      Tables.documents(spark, dir), "doc_id", "source", 5))
    val emb = Tables.embeddings(spark, dir)
    val idxDir = Files.createTempDirectory("topk_vecidx").resolve("idx").toString
    VectorIndex.build(emb, "vec_id", "embedding", idxDir, k = 4, maxIter = 3)
    val queries = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    assertBoundBeforeShuffle(VectorIndex.queryTopK(
      spark, queries, "vec_id", "embedding", idxDir, k = 3, nprobe = 2))
  }

  test("weightedSample plans TakeOrderedAndProject, not a single-partition window") {
    val df = CorpusPipeline.weightedSample(
      Tables.documents(spark, dir), "doc_id", "n_chars", 20)
    df.write.mode("overwrite").format("noop").save()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("TakeOrderedAndProject"), s"expected a take-ordered plan:\n$s")
    assert(!s.contains("Window") && !s.contains("SinglePartition"),
      s"a constant group must not rank through one window partition:\n$s")
  }
}

object TopKPerGroupSpec {
  import org.scalatest.Assertions._

  /** Runs `df` and checks its final plan: `WindowGroupLimit` Final sits
    * above a hash exchange and its Partial below it, i.e. each partition
    * is bounded to k rows per group before any data moves. AQE wraps
    * stages so a tree collect can't see through them; the rendered
    * final plan can. */
  def assertBoundBeforeShuffle(df: DataFrame): Unit = {
    df.write.mode("overwrite").format("noop").save()
    val s = df.queryExecution.executedPlan.toString
    val lines = s.split("== Initial Plan ==").head.split("\n").toSeq
    val fi = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Final"))
    val ei = lines.indexWhere(_.contains("Exchange hashpartitioning"), math.max(fi, 0))
    val pi = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(fi >= 0 && ei > fi && pi > ei, s"unexpected plan shape:\n$s")
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** [[Sessions.local]] sizes Spark's generated-class cache to graft's
  * working set: a class compiled once stays cached instead of being
  * evicted and compiled again, as it is under Spark's default 100
  * entries. */
class CodegenCacheSpec extends SparkSpec {

  test("the session carries the codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
  }

  test("100 queries, 200 distinct generated classes: a second pass compiles none of them") {
    // the literal is inlined into each plan's generated sources, so every
    // i compiles distinct classes (two per query on Spark 4.1)
    def pass(): Unit = (1 to 100).foreach { i =>
      assert(spark.range(1).select(col("id") * lit(i.toLong)).collect().head.getLong(0) == 0L)
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val start = compiles
    pass()
    val first = compiles
    assert(first - start >= 150, s"the first pass compiled only ${first - start} classes")
    pass()
    assert(compiles == first, s"the second pass compiled ${compiles - first} classes again")
  }
}

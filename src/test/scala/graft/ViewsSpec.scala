package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The SQL-text front door: every family a SQL-string user reaches
  * for must produce EXACTLY the DataFrame result over the registered
  * fixture views — and inherit the same scan-level optimizations.
  */
class ViewsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val views = Views.registerFixture(spark, dir)

  test("registerFixture registers every fixture table; events is nanos-normalized") {
    assert(views == Views.TableNames)
    views.foreach(v => assert(spark.catalog.tableExists(v), s"missing view $v"))
    // the events view must carry the SAME µs timestamps as the loader
    val viaSql = spark.sql("SELECT ts FROM events ORDER BY event_id LIMIT 5")
      .as[java.sql.Timestamp].collect().toSeq
    val viaDf = Tables.events(spark, dir)
      .orderBy("event_id").limit(5).select(col("ts"))
      .as[java.sql.Timestamp].collect().toSeq
    assert(viaSql == viaDf, "SQL-text events must see the normalized timestamps")
  }

  test("join/agg, window, and set-op SQL text equal their DataFrame forms exactly") {
    views
    val sqlJoin = spark.sql("""
        SELECT r_name, CAST(count(*) AS BIGINT) AS n, round(sum(c_acctbal), 2) AS bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")
      .as[(String, Long, Double)].collect().toSeq
    val dfJoin = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
      .orderBy(col("r_name"))
      .as[(String, Long, Double)].collect().toSeq
    assert(sqlJoin == dfJoin && sqlJoin.nonEmpty)

    val sqlWin = spark.sql("""
        SELECT o_custkey, o_orderkey,
          round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS r
        FROM orders ORDER BY o_custkey, o_orderkey LIMIT 100""")
      .as[(Long, Long, Double)].collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    val dfWin = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("r"))
      .orderBy(col("o_custkey"), col("o_orderkey")).limit(100)
      .as[(Long, Long, Double)].collect().toSeq
    assert(sqlWin == dfWin && sqlWin.nonEmpty)

    val sqlSet = spark.sql("""
        SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice < 100000
        ORDER BY o_custkey""").as[Long].collect().toSeq
    val o = Tables.orders(spark, dir)
    val dfSet = o.filter(col("o_totalprice") > 200000).select(col("o_custkey"))
      .intersect(o.filter(col("o_totalprice") < 100000).select(col("o_custkey")))
      .orderBy(col("o_custkey")).as[Long].collect().toSeq
    assert(sqlSet == dfSet && sqlSet.nonEmpty)
  }

  test("injected native functions are callable from SQL text and match their Column forms") {
    views
    val sqlCos = spark.sql("""
        SELECT a.vec_id, round(graft_cosine(a.embedding, b.embedding), 9) AS cos
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        ORDER BY a.vec_id LIMIT 50""")
      .as[(Long, Double)].collect().toSeq
    val e = Tables.embeddings(spark, dir)
    val dfCos = e.as("a").join(e.as("b"),
        col("b.vec_id") === col("a.vec_id") + 1)
      .select(col("a.vec_id"),
        round(VectorFunctions.cosineNative(col("a.embedding"), col("b.embedding")), 9)
          .as("cos"))
      .orderBy(col("a.vec_id")).limit(50)
      .as[(Long, Double)].collect().toSeq
    assert(sqlCos == dfCos && sqlCos.nonEmpty)
  }

  test("SQL-text top-k-per-group is shuffle-bounded natively (no TopK syntax needed)") {
    // Catalyst's own InferWindowGroupLimit bounds a row_number() <= k
    // filter to k rows per group per partition BEFORE the exchange
    // (WindowGroupLimit Partial/Final) — the same pre-shuffle bound the
    // DataFrame API's Relational.topKPerGroup gets from the same rule. A
    // SQL-string user writing the standard idiom gets the scale-correct
    // plan for free.
    views
    val df = spark.sql("""
        SELECT * FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit must bound before the exchange:\n${plan.take(2000)}")
    assert(plan.indexOf("WindowGroupLimit") < plan.length &&
      "Partial".r.findFirstIn(plan).isDefined,
      s"partial (pre-shuffle) bound expected:\n${plan.take(2000)}")
    // and it computes the same rows as the DataFrame top-k
    val viaSql = df.select(col("o_custkey"), col("o_orderkey"))
      .as[(Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaDf = Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"))
      .as[(Long, Long)].collect().toSet
    assert(viaSql == viaDf && viaSql.nonEmpty)
  }

  test("SQL text inherits scan pruning: projection and filter reach the parquet scan") {
    views
    val plan = spark.sql(
      "SELECT o_orderkey FROM orders WHERE o_totalprice > 300000")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(o_totalprice,300000"),
      s"filter must push through the view into the scan:\n${plan.take(1500)}")
    val read = plan.replaceAll("(?s).*ReadSchema: ([^\\n]*).*", "$1")
    assert(read.contains("o_orderkey") && read.contains("o_totalprice") &&
      !read.contains("o_comment") && !read.contains("o_custkey"),
      s"view must not widen the read schema: $read")
  }
}

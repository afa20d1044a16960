package graft

import org.apache.spark.sql.SparkSession

/** The SQL-text front door (VERDICT r14 item 8, widened in r15 from
  * q113's single smoke query into an API): register every fixture
  * table as a temp view so a user arriving with SQL STRINGS — not
  * DataFrame code — can drive the engine through `spark.sql(...)`,
  * including the GraftExtensions-injected native functions
  * (`graft_cosine`, `graft_nfc`, `graft_minhash`, …, registered by
  * [[Sessions.local]]).
  *
  * View registration is per-session catalog metadata only: the plan
  * under a SQL-text query is identical to the DataFrame form (same
  * scan, same pushdowns, same codegen) — ViewsSpec pins that claim
  * for a join/agg, a window, a set op, and a native-function call.
  */
object Views {

  /** Every fixture table, in load order. */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Register each fixture table under its own name as a temp view
    * in `spark`'s session catalog; returns the registered view names.
    * `events` goes through the same nanos→µs normalization the
    * DataFrame loaders use ([[Tables.events]]), so SQL-text consumers
    * see identical timestamps.
    */
  def registerFixture(spark: SparkSession, sfDir: String): Seq[String] =
    TableNames.map { name =>
      val df = name match {
        case "events" => Tables.events(spark, sfDir)
        case n => Tables.table(spark, sfDir, n)
      }
      df.createOrReplaceTempView(name)
      name
    }
}

package graft

import graft.operators.Profiling

class ProfilingSpec extends SparkSpec {
  import spark.implicits._

  test("profile: nulls, distincts, string-rendered range, sorted long format") {
    val df = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("b"))
    ).toDF("id", "tag")
    val out = Profiling.profile(df, Seq("id", "tag")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toMap
    assert(out("id") == ((4L, 0L, 4L, "1", "4")))
    assert(out("tag") == ((4L, 1L, 2L, "a", "b"))) // null excluded from distinct & range
    assert(out.keys.toSeq.sorted == Seq("id", "tag"))
  }

  test("profile: empty table reports zeros, not nulls") {
    val df = Seq.empty[(Long, String)].toDF("id", "tag")
    val out = Profiling.profile(df, Seq("id", "tag")).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L,
        "counts must be 0 on an empty load (the failure a profile gate exists to catch)")
      assert(r.isNullAt(4) && r.isNullAt(5), "range of an empty table is null")
    }
  }
}

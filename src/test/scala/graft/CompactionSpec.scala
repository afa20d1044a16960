package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{TokenIndex, VectorIndex}
import graft.sources.ParquetRead

/** An index compaction computes each folded table once, by its write:
  * the job counts of both index compactions are pinned on a small index
  * with a pending takedown, each rewrite keeps its file layout, and the
  * returned row counts are those of the swapped directories. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def rows(dir: String): Long = spark.read.parquet(dir).count()

  /** Data files per directory (a partition dir for partitioned tables). */
  private def layout(dir: String): Map[String, Int] =
    ParquetRead.dataFiles(spark, dir).groupBy(_.getPath.getParent.getName)
      .map { case (d, fs) => d -> fs.size }

  test("TokenIndex.compact: pinned jobs, one file per table, rowsAfter = swapped rows") {
    val idxDir = s"${Files.createTempDirectory("compact_ti")}/idx"
    val corpus = (1L to 40L).map(i => (i, s"alpha beta w$i w${i % 7} gamma")).toDF("id", "text")
    TokenIndex.append(corpus.filter(col("id") <= 20L), "id", "text", idxDir, 0L)
    TokenIndex.append(corpus.filter(col("id") > 20L), "id", "text", idxDir, 1L)
    TokenIndex.delete(Seq(3L, 25L).toDF("id"), "id", idxDir)
    var folded: ((Long, Long), (Long, Long), (Long, Long)) = null
    val jobs = jobsStartedBy { folded = TokenIndex.compact(spark, idxDir) }
    val ((pb, pa), (_, da), (ab, aa)) = folded
    assert(pa == rows(s"$idxDir/postings") && da == rows(s"$idxDir/df") &&
      aa == rows(s"$idxDir/arrays"), s"rowsAfter: $folded")
    assert(aa == 38L && ab == 40L && pb > pa, s"the takedown must drop: $folded")
    Seq("postings", "arrays", "df", "stats").foreach { t =>
      assert(layout(s"$idxDir/$t").values.toSeq == Seq(1), s"$t: ${layout(s"$idxDir/$t")}")
    }
    assert(jobs == 11, s"TokenIndex.compact jobs: $jobs")
  }

  test("VectorIndex.compact: pinned jobs, one file per bucket, rowsAfter = swapped rows") {
    val idxDir = s"${Files.createTempDirectory("compact_vi")}/idx"
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    VectorIndex.build(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
      "vec_id", "embedding", idxDir, k = 8, maxIter = 5)
    VectorIndex.append(emb.filter(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", idxDir, runId = 1L)
    val gone = emb.select(col("vec_id")).orderBy(col("vec_id")).limit(3)
    VectorIndex.delete(gone, "vec_id", idxDir)
    val buckets = layout(s"$idxDir/postings").keySet
    var folded: (Long, Long) = null
    val jobs = jobsStartedBy { folded = VectorIndex.compact(spark, idxDir) }
    val (before, after) = folded
    assert(after == rows(s"$idxDir/postings") && after == emb.count() - 3L &&
      before == emb.count(), s"rowsAfter: $folded")
    assert(layout(s"$idxDir/postings") == buckets.map(_ -> 1).toMap,
      s"postings layout: ${layout(s"$idxDir/postings")}")
    assert(jobs == 4, s"VectorIndex.compact jobs: $jobs")
  }
}

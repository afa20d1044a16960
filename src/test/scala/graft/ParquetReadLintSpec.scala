package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in the main tree goes through
  * [[graft.sources.ParquetRead]]: a bare `spark.read.parquet(dir)` or a
  * `mergeSchema` option brings back the one schema-inference job per
  * read. */
class ParquetReadLintSpec extends AnyFunSuite {

  private val Reader = "ParquetRead.scala"
  private val Banned = Seq("""\.read\s*\.parquet\(""".r, "\"mergeSchema\"".r)

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  test("no inferring parquet read outside ParquetRead in src/main/scala") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    val files = scalaFiles(root)
    assert(files.exists(_.getName == Reader))
    val hits = for {
      f <- files if f.getName != Reader
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      re <- Banned if re.findFirstIn(text).nonEmpty
    } yield s"${f.getPath}: ${re.regex}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

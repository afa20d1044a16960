package graft

import java.nio.file.{Files, Path}

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** A ratchet on the main tree's surface. `tools/knob_census.py --sites`
  * counts every defaulted parameter under src/main, those that no caller
  * outside src/test sets, and those that no caller sets at all (passing
  * a default's own text is no override); `--operators` counts the public
  * defs that no use outside src/test reaches. Both resolve a call by the
  * object it names and by the overloads its argument count admits. A new
  * option, one only specs set, or a public operator only specs call fails
  * here instead of waiting for the next census. The options only specs
  * set are `Lease.withLease`'s `staleMs` and `Relational.dagRelaxMax`'s
  * `localMaxEdges`. The first two tests keep the names they had when
  * their bounds were 70/5 and 52; the asserts below are the tighter
  * bounds in force. */
class KnobCensusSpec extends AnyFunSuite {

  private def census(flag: String, root: Option[Path] = None): String = {
    val tool = new java.io.File("tools/knob_census.py")
    assert(tool.isFile, s"run from the repo root: ${tool.getAbsolutePath}")
    (Seq("python3", tool.getPath, flag) ++ root.map(_.toString)).!!
  }

  private def figure(out: String, label: String): Int =
    s"(?m)^$label (\\d+)$$".r.findFirstMatchIn(out).map(_.group(1).toInt)
      .getOrElse(fail(s"no '$label' line in the census output:\n${out.take(500)}"))

  test("knob census: at most 70 defaulted parameters, at most 5 set only by specs") {
    val out = census("--sites")
    val total = figure(out, "total")
    val specOnly = figure(out, "not set outside src/test")
    val unset = figure(out, "not set anywhere")
    assert(total <= 62, s"defaulted parameters in src/main: $total > 62")
    assert(specOnly <= 2, s"defaulted parameters no non-test caller sets: $specOnly > 2")
    assert(unset == 0, s"defaulted parameters no caller sets: $unset > 0")
  }

  test("operator census: at most 52 public defs that only specs reference") {
    val out = census("--operators")
    val specOnly = figure(out, "public defs not referenced outside src/test")
    assert(specOnly == 0, s"public defs only specs reference: $specOnly > 0\n$out")
  }

  test("operator census resolves calls by owner and arity (synthetic tree)") {
    val root = Files.createTempDirectory("census_tree")
    def write(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    write("src/main/scala/p/Ops.scala",
      """package p
        |object A {
        |  // public overload: its only same-named call is to its private sibling
        |  def f(x: Int): Int = f(x, 1)
        |  private def f(x: Int, y: Int): Int = x + y
        |  def g(x: Int): Int = x
        |}
        |object B {
        |  def g(x: Int): Int = x + 1
        |}
        |object C {
        |  def h(x: Int): Int = x
        |}
        |class Helper { def h(x: Int): Int = x }
        |object Main {
        |  def main(args: Array[String]): Unit = {
        |    val helper = new Helper
        |    println(B.g(1) + helper.h(2))
        |  }
        |}
        |""".stripMargin)
    write("src/test/scala/p/OpsSpec.scala",
      """package p
        |object OpsSpec { val all = A.f(1) + A.g(2) }
        |""".stripMargin)
    val out = census("--operators", Some(root))
    val reported = out.linesIterator.filter(_.startsWith("src/main/"))
      .map(_.split("\\s+")(1)).toSet
    assert(reported.contains("A.f"), s"a public overload reached only through its private sibling's name:\n$out")
    assert(reported.contains("A.g"), s"B.g's caller must not count for A.g:\n$out")
    assert(!reported.contains("B.g"), s"B.g has a qualified caller:\n$out")
    assert(!reported.contains("C.h") && !reported.contains("Helper.h"),
      s"a call on a value cannot be resolved, so it counts for every h:\n$out")
    assert(figure(out, "public defs not referenced outside src/test") == 2, out)
  }
}

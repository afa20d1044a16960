package graft

import java.nio.file.{Files, Path}

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** A ratchet on the main tree's surface. `tools/knob_census.py --sites`
  * counts every defaulted parameter under src/main, those that no caller
  * outside src/test sets, and those that no caller sets at all (passing
  * a default's own text is no override); its default output also counts
  * the environment and system-property reads that choose behaviour;
  * `--operators` counts the public and `private[graft]` defs and the
  * registered SQL functions that no use outside src/test reaches. Both
  * resolve a call by the object it names and by the overloads its
  * argument count admits. A new option, one only specs set, or an
  * operator only specs call fails here instead of waiting for the next
  * census. The options only specs
  * set are `Lease.withLease`'s `staleMs` and `Relational.dagRelaxMax`'s
  * `localMaxEdges`. The first two tests keep the names they had when
  * their bounds were 70/5 and 52; the asserts below are the tighter
  * bounds in force. */
class KnobCensusSpec extends AnyFunSuite {

  private def census(flag: String, root: Option[Path] = None): String = {
    val tool = new java.io.File("tools/knob_census.py")
    assert(tool.isFile, s"run from the repo root: ${tool.getAbsolutePath}")
    (Seq("python3", tool.getPath) ++ Seq(flag).filter(_.nonEmpty) ++ root.map(_.toString)).!!
  }

  private val specOnlyLabel = "defs not referenced outside src/test"

  /** A scratch tree with src/main and src/test files, for the tool's ROOT. */
  private def tree(files: (String, String)*): Path = {
    val root = Files.createTempDirectory("census_tree")
    files.foreach { case (rel, text) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text.stripMargin)
    }
    root
  }

  /** The `file:line  Owner.name` rows of an `--operators` report. */
  private def rows(out: String): Seq[(String, String)] =
    out.linesIterator.filter(_.startsWith("src/main/")).map { l =>
      val f = l.split("\\s+"); (f(0), f(1))
    }.toSeq

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
    val specOnly = figure(out, specOnlyLabel)
    assert(specOnly == 0, s"defs only specs reference, outside OPERATOR_EXEMPT: $specOnly > 0\n$out")
    assert(figure(out, "stale exemptions") == 0, s"OPERATOR_EXEMPT names a def that is gone or called:\n$out")
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
    assert(reported.contains("C.h") && !reported.contains("Helper.h"),
      s"a call on a value reaches the class's h, never an object's:\n$out")
    assert(figure(out, specOnlyLabel) == 3, out)
  }

  test("operator census: private[graft] defs, value calls and registered functions (synthetic tree)") {
    val root = tree(
      "src/main/scala/p/Ops.scala" ->
        """package p
          |object Src {
          |  private[graft] def hidden(x: Int): Int = x
          |  def read(x: Int): Int = x
          |  def write(df: Int, dir: String): Int = df
          |  def sink(x: Int): Int = x
          |}
          |class Holder { def hit(a: Int): Int = a }
          |object Holder {
          |  def hit(a: Int, b: Int): Int = a + b
          |}
          |class Ext {
          |  reg(FunctionIdentifier("graft_spec_only"))
          |  reg(FunctionIdentifier("graft_used"))
          |}
          |""",
      "src/main/scala/p/Main.scala" ->
        """package p
          |object Main {
          |  def main(args: Array[String]): Unit = {
          |    val reader = new Reader
          |    val sink = 3
          |    val h = new Holder
          |    println(reader.read(1) + sink + h.hit(1))
          |    frame(1).write.mode("overwrite")
          |    sql("SELECT graft_used(x) FROM t")
          |  }
          |}
          |""",
      "src/test/scala/p/OpsSpec.scala" ->
        """package p
          |object OpsSpec {
          |  val all = Src.hidden(1) + Src.read(2) + Src.write(3, "d") + Src.sink(4) +
          |    Holder.hit(1, 2)
          |  sql("SELECT graft_spec_only(x) FROM t")
          |}
          |""")
    val out = census("--operators", Some(root))
    val reported = rows(out).map(_._2).toSet
    assert(reported.contains("Src.hidden"), s"a private[graft] def only a spec calls:\n$out")
    assert(reported.contains("Src.read"), s"`reader.read(1)` is a call on a value:\n$out")
    assert(reported.contains("Src.sink"), s"`sink` is the file's own val:\n$out")
    assert(reported.contains("Src.write"),
      s"`frame(1).write` has no argument list, so it reaches no def that needs one:\n$out")
    assert(rows(out).contains(("src/main/scala/p/Ops.scala:10", "Holder.hit")) &&
      !rows(out).contains(("src/main/scala/p/Ops.scala:8", "Holder.hit")),
      s"`h.hit(1)` reaches the class's hit, not its companion object's:\n$out")
    assert(reported.contains("graft_spec_only") && !reported.contains("graft_used"),
      s"a registered function only spec SQL calls:\n$out")
    assert(figure(out, specOnlyLabel) == 6, out)
  }

  test("option census: environment and system-property reads that choose behaviour") {
    val out = census("")
    val reads = figure(out, "option reads")
    assert(reads <= 8, s"option reads in src/main: $reads > 8\n$out")
  }
}

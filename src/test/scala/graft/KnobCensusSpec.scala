package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** A ratchet on the main tree's surface. `tools/knob_census.py --sites`
  * counts every defaulted parameter under src/main, those that no caller
  * outside src/test sets, and those that no caller sets at all (passing
  * a default's own text is no override); `--operators` counts the public
  * defs that nothing outside src/test references. A new option, one only
  * specs set, or a public operator only specs call fails here instead of
  * waiting for the next census. The options only specs set are the two
  * index `upsert` `metaCols`, `Lease.withLease`'s `staleMs`,
  * `Relational.dagRelaxMax`'s `localMaxEdges` and
  * `Dedup.compactSignatureStateKeys`' `retain`. */
class KnobCensusSpec extends AnyFunSuite {

  private def census(flag: String): String = {
    val tool = new java.io.File("tools/knob_census.py")
    assert(tool.isFile, s"run from the repo root: ${tool.getAbsolutePath}")
    Seq("python3", tool.getPath, flag).!!
  }

  private def figure(out: String, label: String): Int =
    s"(?m)^$label (\\d+)$$".r.findFirstMatchIn(out).map(_.group(1).toInt)
      .getOrElse(fail(s"no '$label' line in the census output:\n${out.take(500)}"))

  test("knob census: at most 70 defaulted parameters, at most 5 set only by specs") {
    val out = census("--sites")
    val total = figure(out, "total")
    val specOnly = figure(out, "not set outside src/test")
    val unset = figure(out, "not set anywhere")
    assert(total <= 70, s"defaulted parameters in src/main: $total > 70")
    assert(specOnly <= 5, s"defaulted parameters no non-test caller sets: $specOnly > 5")
    assert(unset == 0, s"defaulted parameters no caller sets: $unset > 0")
  }

  test("operator census: at most 52 public defs that only specs reference") {
    val out = census("--operators")
    val specOnly = figure(out, "public defs not referenced outside src/test")
    assert(specOnly <= 52, s"public defs only specs reference: $specOnly > 52\n$out")
  }
}

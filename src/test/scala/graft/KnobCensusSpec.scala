package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** A ratchet on the main tree's options: `tools/knob_census.py --sites`
  * counts every defaulted parameter under src/main and those that no
  * caller outside src/test sets. A new option, or one only specs set,
  * fails here instead of waiting for the next census. The survivors
  * outside src/test are the four index-append `metaCols` (the caller's
  * own column names) and `Lease.withLease`'s `staleMs`. */
class KnobCensusSpec extends AnyFunSuite {

  test("knob census: at most 75 defaulted parameters, at most 5 set only by specs") {
    val tool = new java.io.File("tools/knob_census.py")
    assert(tool.isFile, s"run from the repo root: ${tool.getAbsolutePath}")
    val out = Seq("python3", tool.getPath, "--sites").!!
    def figure(label: String): Int =
      s"(?m)^$label (\\d+)$$".r.findFirstMatchIn(out).map(_.group(1).toInt)
        .getOrElse(fail(s"no '$label' line in the census output:\n${out.take(500)}"))
    val total = figure("total")
    val specOnly = figure("not set outside src/test")
    assert(total <= 75, s"defaulted parameters in src/main: $total > 75")
    assert(specOnly <= 5, s"defaulted parameters no non-test caller sets: $specOnly > 5")
  }
}

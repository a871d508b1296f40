package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.DumpQueryPlans.parseArgs

/** The plan-dump tool's argument parsing: flag/value pairs consumed left
  * to right, everything else a query name — no name is dropped for
  * happening to equal a flag value. */
class DumpQueryPlansSpec extends AnyFunSuite {

  test("parseArgs: flags take their value, every other arg is a query " +
      "name, even one equal to a flag value") {
    assert(parseArgs(Seq("-suffix", "ann_ivf", "ann_ivf")) ==
      (Map("-suffix" -> "ann_ivf"), Seq("ann_ivf")))
    assert(parseArgs(Seq("ann_pq", "-sf", "/d", "ann_ivf", "-out", "/o",
        "-suffix", "before", "ann_sq8")) ==
      (Map("-sf" -> "/d", "-out" -> "/o", "-suffix" -> "before"),
        Seq("ann_pq", "ann_ivf", "ann_sq8")))
    assert(parseArgs(Seq("-out", "ann_pq", "ann_pq", "ann_pq")) ==
      (Map("-out" -> "ann_pq"), Seq("ann_pq", "ann_pq")))
    assert(parseArgs(Seq.empty) == (Map.empty, Seq.empty))
  }

  test("parseArgs: an unknown flag or a flag without a value is refused") {
    val unknown = intercept[IllegalArgumentException](
      parseArgs(Seq("-sufix", "before", "ann_ivf")))
    assert(unknown.getMessage.contains("-sufix"), unknown.getMessage)
    val dangling = intercept[IllegalArgumentException](
      parseArgs(Seq("ann_ivf", "-suffix")))
    assert(dangling.getMessage.contains("-suffix"), dangling.getMessage)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical pin of the one materialization seam: every query-path
  * checkpoint in `src/main/scala` goes through [[Lineage.truncate]], which
  * alone decides local versus reliable. The iterative loops keep their
  * per-round `localCheckpoint`s (they bound lineage depth per round and
  * must not follow the `-Dgraft.truncate=off` escape hatch). */
class MaterializationSeamSpec extends AnyFunSuite {

  private val allowed = Set(
    "graft/Lineage.scala",
    "graft/text/BPE.scala",
    "graft/operators/KCore.scala",
    "graft/operators/LabelProp.scala",
    "graft/operators/PageRank.scala",
    "graft/operators/ConnectedComponents.scala")

  test("checkpoint calls appear only in Lineage and the iterative loops") {
    val calls = MainSources.matching("""\.(localCheckpoint|checkpoint)\(""")
    assert(calls.exists(_._1 == "graft/Lineage.scala"), "the scan must see the seam itself")
    val stray = calls.filterNot { case (rel, _, _) => allowed(rel) }
    assert(stray.isEmpty,
      "materialize through Lineage.truncate instead:\n" +
        stray.map { case (f, n, l) => s"  $f:$n: $l" }.mkString("\n"))
  }

  test("no second truncation knob") {
    val knob = MainSources.matching("""graft\.reuse""")
    assert(knob.isEmpty, knob.mkString("\n"))
  }
}

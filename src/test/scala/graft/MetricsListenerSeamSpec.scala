package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical pin of the one metrics listener: every Spark task metric in
  * `src/main/scala` is read by [[graft.restructure.Timers]]'s listener and
  * attributed to a label; a benchmark or rehearsal reads its numbers from
  * a label instead of registering a listener of its own. */
class MetricsListenerSeamSpec extends AnyFunSuite {

  private val seam = "graft/restructure/Timers.scala"

  test("Spark listeners are declared and registered only in Timers") {
    val hits = MainSources.matching(
      """extends SparkListener\b|new SparkListener\b|addSparkListener\(""")
    assert(hits.exists(_._1 == seam), "the scan must see the seam itself")
    val stray = hits.filterNot(_._1 == seam)
    assert(stray.isEmpty,
      "read task metrics through a Timers label instead:\n" +
        stray.map { case (f, n, l) => s"  $f:$n: $l" }.mkString("\n"))
  }
}

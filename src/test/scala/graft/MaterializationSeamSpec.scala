package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical pin of the one materialization seam: every query-path
  * checkpoint in `src/main/scala` goes through [[Lineage.truncate]], which
  * alone decides local versus reliable. The iterative loops keep their
  * per-round `localCheckpoint`s (they bound lineage depth per round and
  * must not follow the `-Dgraft.truncate=off` escape hatch). */
class MaterializationSeamSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val allowed = Set(
    "graft/Lineage.scala",
    "graft/text/BPE.scala",
    "graft/operators/KCore.scala",
    "graft/operators/LabelProp.scala",
    "graft/operators/PageRank.scala",
    "graft/operators/ConnectedComponents.scala")

  /** (relative path, 1-based line number, line) of every line matching. */
  private def matching(pattern: String): Seq[(String, Int, String)] = {
    val re = pattern.r
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p: Path =>
        val rel = root.relativize(p).toString.replace('\\', '/')
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          .split("\n", -1).zipWithIndex.collect {
            case (line, i) if re.findFirstIn(line).isDefined => (rel, i + 1, line.trim)
          }
      }
  }

  test("checkpoint calls appear only in Lineage and the iterative loops") {
    val calls = matching("""\.(localCheckpoint|checkpoint)\(""")
    assert(calls.exists(_._1 == "graft/Lineage.scala"), "the scan must see the seam itself")
    val stray = calls.filterNot { case (rel, _, _) => allowed(rel) }
    assert(stray.isEmpty,
      "materialize through Lineage.truncate instead:\n" +
        stray.map { case (f, n, l) => s"  $f:$n: $l" }.mkString("\n"))
  }

  test("no second truncation knob") {
    val knob = matching("""graft\.reuse""")
    assert(knob.isEmpty, knob.mkString("\n"))
  }
}

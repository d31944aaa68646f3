package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Line scan of `src/main/scala` for the seam specs, which pin that a
  * construct appears only in the files that own it. */
object MainSources {

  private val root = Paths.get("src/main/scala")

  /** (path relative to `src/main/scala`, 1-based line number, trimmed line)
    * of every line matching `pattern`. */
  def matching(pattern: String): Seq[(String, Int, String)] = {
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
}

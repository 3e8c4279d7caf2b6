package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The documented tool invocations stay runnable and the tools stay
  * argument-driven. A deleted or renamed main leaves its `runMain` line
  * in the docs until someone runs it, so these pins read the sources
  * and the docs the way `SessionSpec` does. */
class ToolingSpec extends AnyFunSuite {
  private def scalaFiles(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq

  /** Fully qualified names of the objects under src/main with a `def main`. */
  private lazy val mains: Set[String] = scalaFiles("src/main").flatMap { p =>
    val src = Files.readString(p)
    val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).fold("")(_.group(1) + ".")
    val objects = "(?m)^object (\\w+)".r.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    "def main\\(".r.findAllMatchIn(src).flatMap(m =>
      objects.filter(_._1 < m.start).lastOption.map(pkg + _._2))
  }.toSet

  test("every runMain in README.md and the verify notes names a main under src/main") {
    assert(mains.contains("graft.tools.Ladder") && mains.contains("graft.Cli"), mains)
    Seq("README.md", ".claude/skills/verify/SKILL.md").foreach { doc =>
      val named = "runMain (graft\\.[\\w.]+)".r
        .findAllMatchIn(Files.readString(Paths.get(doc))).map(_.group(1)).toSeq
      assert(named.nonEmpty, s"no runMain in $doc")
      val missing = named.filterNot(mains.contains).distinct
      assert(missing.isEmpty, s"$doc names mains that do not exist: ${missing.mkString(", ")}")
    }
  }

  test("no tool reads a GRAFT_PROBE_ variable") {
    val readers = scalaFiles("src/main/scala/graft/tools")
      .filter(p => Files.readString(p).contains("GRAFT_PROBE_"))
    assert(readers.isEmpty, s"GRAFT_PROBE_ read in ${readers.mkString(", ")}")
  }
}

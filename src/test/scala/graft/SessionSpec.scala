package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every entry point runs the one session configuration of
  * `engine.Session.local`. A second builder chain in `src/main` would let
  * the bench, the oracle check and the served engine drift apart again,
  * so this pins the count of builder calls. (It scans the sources rather
  * than calling `Session.local`: `getOrCreate` would apply its confs to
  * the shared test session.) */
class SessionSpec extends AnyFunSuite {
  test("src/main has exactly one SparkSession builder, in engine/Session.scala") {
    val root = Paths.get("src/main")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, s"no Scala sources under ${root.toAbsolutePath}")
    val sites: Seq[Path] = sources.flatMap { p =>
      val n = """SparkSession\.builder\(""".r.findAllMatchIn(Files.readString(p)).size
      Seq.fill(n)(root.relativize(p))
    }
    assert(sites == Seq(Paths.get("scala/graft/engine/Session.scala")),
      s"SparkSession.builder( sites: ${sites.mkString(", ")}")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Every text pass of the DuckDB dialect shim reads its text through one
  * scanner, `DuckDbDialect.Lex`. A pass that scans characters on its own
  * drifts from the rest — a second mask that forgets comments, a second
  * EXCEPT rule, an "unbalanced" check with its own idea of a paren — so
  * these pins read the source the way `SessionSpec` does. */
class DialectScanSpec extends AnyFunSuite {
  private val src = Files.readString(
    Paths.get("src/main/scala/graft/engine/DuckDbDialect.scala"))
  private val lexStart = src.indexOf("final class Lex(")
  private val lexEnd = src.indexOf("\n  }\n", lexStart)
  private def inLex(at: Int) = at > lexStart && at < lexEnd

  test("the string, quoted-identifier and comment mask is computed once, in the scanner") {
    assert(lexStart > 0 && lexEnd > lexStart, "no Lex class in DuckDbDialect.scala")
    val quoteCases = "case '\\\\'' \\| '\"'".r.findAllMatchIn(src).map(_.start).toSeq
    assert(quoteCases.size == 1 && inLex(quoteCases.head),
      s"quote-masking sites at offsets ${quoteCases.mkString(", ")}")
    val masks = "new Array\\[Boolean\\]".r.findAllMatchIn(src).map(_.start).toSeq
    assert(masks.size == 1 && inLex(masks.head), s"mask arrays at offsets ${masks.mkString(", ")}")
    assert(!src.contains("inString("))
  }

  test("no pass keeps a local keyword test") {
    val local = "def (wordAt|restWord|headWord)\\b".r.findAllIn(src).toSeq
    assert(local.isEmpty, s"local keyword tests: ${local.mkString(", ")}")
  }

  test("only the shared matcher raises the unbalanced errors") {
    // each "unbalanced" message is the label a pass hands the matcher
    // (directly, or through the innermost-block recursion); the GROUPS
    // offset folder's parse error is a parser's, not a paren match's
    def isDoc(at: Int) = {
      val line = src.substring(src.lastIndexOf('\n', at) + 1, at).trim
      line.startsWith("*") || line.startsWith("/*") || line.startsWith("//")
    }
    val labels = "\"[^\"\\n]*unbalanced[^\"\\n]*\"".r.findAllMatchIn(src)
      .filterNot(m => isDoc(m.start)).toSeq
    assert(labels.size == 12)
    labels.foreach { m =>
      val before = src.substring(math.max(0, m.start - 120), m.start)
      val call = "(closeOf|openOf|innermostFirst)\\(".r.findAllMatchIn(before).toSeq.lastOption
      val folder = before.endsWith("fail(")
      assert(folder || call.exists(c => !before.substring(c.end).contains(")\n")),
        s"${m.matched} is not a matcher label")
    }
    val raisers = "\\b(require\\(|throw )[^\\n]*unbalanced".r.findAllMatchIn(src).map(_.start).toSeq
    assert(raisers.forall(inLex),
      s"unbalanced raised outside the scanner at ${raisers.mkString(", ")}")
  }

  test("QUALIFY and COLUMNS share one innermost-block recursion") {
    // each `): String = innermostFirst(` body belongs to the nearest def above it
    val users = "\\)\\s*:\\s*String\\s*=\\s*innermostFirst\\(".r.findAllMatchIn(src).map { m =>
      "def (\\w+)".r.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
    }.toSet
    assert(users == Set("rewriteQualifyDeep", "expandColumns"))
    assert(!src.contains("def setOpCuts"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps compiled classes in one JVM-wide LRU cache. Work that asks
  * for the same classes in the same cyclic order every round, more of
  * them than the cache holds, evicts each class just before it is asked
  * for again, so every round recompiles them. The session's cache
  * (`engine.Session.CodegenCacheEntries`, which `TestSpark` uses too)
  * must hold such a working set; Spark's default of 100 does not. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a second pass over 150 distinct generated classes compiles none") {
    // each statement's literals are inlined in its generated class
    val statements = (1 to 150).map(i => s"SELECT id * $i + ${i * 7} AS v FROM range(10)")
    def pass(): Unit = statements.foreach(q => spark.sql(q).collect())
    val first = TestSpark.codegenCompiles(pass())
    assert(first > 100, s"the first pass compiled $first classes, not more than 100")
    assert(TestSpark.codegenCompiles(pass()) == 0)
  }
}

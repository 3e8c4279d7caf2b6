package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.DuckDbDialect
import graft.tools.SqlFuzzer

/** Round-17 guard for the dialect shim's two text-level contracts
  * (VERDICT r16 #2): the shim is a ~3k-line chain of string rewrites
  * growing by hundreds of lines per round, and the likeliest future
  * regression class is REWRITE OVERREACH — a pass firing on valid
  * Spark/ANSI text it was never meant to touch. The semantic fuzz
  * soaks cannot catch that (an overreaching rewrite that preserves
  * semantics still passes); these properties pin the text itself:
  *
  *  1. IDENTITY on ANSI-common statements: `rewrite(s) == s`,
  *     byte-for-byte, over the full generated ANSI grammar (the same
  *     generator the differential soaks run verbatim on both engines —
  *     projections, group-aggs, windows, joins, set ops, subqueries,
  *     EXISTS, recursive CTEs, VALUES joins, deep compositions) plus
  *     the correlated-subquery grammar.
  *  2. IDEMPOTENCE on DuckDB-ism statements: `rewrite(rewrite(s)) ==
  *     rewrite(s)` — the second application sees the shim's own output
  *     and must leave it alone, over the dialect grammar (19 kinds) and
  *     the GROUPS-frame grammar (all four round-17 shapes).
  *
  * The same two checks run inline on every fuzz soak
  * (graft.tools.Fuzz records violations in errors.json), so fresh-seed
  * soak rounds extend this guard to new seeds automatically.
  */
class DialectPropertySpec extends AnyFunSuite {

  test("shim identity: rewrite is a byte-level no-op on 1,500 generated ANSI statements") {
    val ansi = new SqlFuzzer(17001).queries(1000) ++
      new SqlFuzzer(17002).corrQueries(500)
    var checked = 0
    ansi.foreach { case (name, sql) =>
      val r = DuckDbDialect.rewrite(sql)
      assert(r == sql, s"$name: rewrite changed ANSI-common text\n  in:  $sql\n  out: $r")
      checked += 1
    }
    assert(checked == 1500)
  }

  test("shim idempotence: rewrite(rewrite(s)) == rewrite(s) on ~1,800 generated DuckDB-ism statements") {
    // PIVOT/UNPIVOT are gateway STATEMENTS, not SELECT-level shim
    // input — the gateway routes them before rewrite ever runs
    def stmt(sql: String) = {
      val t = sql.trim
      t.regionMatches(true, 0, "pivot", 0, 5) ||
        t.regionMatches(true, 0, "unpivot", 0, 7)
    }
    val dialect = new SqlFuzzer(17003).dialectQueries(1000)
      .filterNot { case (_, s) => stmt(s) } ++
      new SqlFuzzer(17004).groupsQueries(500).map { case (n, s, _) => (n, s) } ++
      // round 18: the composed kind (GROUPS × QUALIFY × DISTINCT
      // windows × grouped/named-WINDOW contexts) under the same pin
      new SqlFuzzer(18001).groupsComposedQueries(300).map { case (n, s, _) => (n, s) }
    // /*dgq*/ queries (round 20) run through the gateway, which
    // rewrites with relation schemas (rewriteWithSchema). The
    // idempotence pin therefore runs them the way the gateway does,
    // with the generator's two fixed parquet schemas — the SHARED
    // constant (SqlFuzzer.DgqSchemas, round 21 per the r20 advice), so
    // this pin can never silently resolve against different columns
    // than the soak path.
    val dgqSchemas = graft.tools.SqlFuzzer.DgqSchemas
    var checked = 0
    dialect.foreach { case (name, sql) =>
      val rw: String => String =
        if (sql.startsWith("/*dgq*/"))
          s => DuckDbDialect.rewriteWithSchema(s, dgqSchemas.get)
        else DuckDbDialect.rewrite
      val r1 = rw(sql)
      val r2 = rw(r1)
      assert(r2 == r1,
        s"$name: rewrite is not idempotent\n  in:  $sql\n  r1:  $r1\n  r2:  $r2")
      checked += 1
    }
    // ~7% of the dialect grammar is PIVOT/UNPIVOT statements
    assert(checked >= 1300, s"only $checked dialect statements checked")
  }
}

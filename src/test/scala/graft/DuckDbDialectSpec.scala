package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{DuckDbDialect, Ingest, SqlGateway}
import graft.functions.DuckDbFunctions

/** DuckDB-dialect acceptance through the gateway (VERDICT r11 #3).
  *
  * The reference pins DuckDB SQL as the NL→SQL dialect
  * (/root/reference/doc.py:186-188); these tests feed DuckDB-spelled
  * statements — including the reference README's own demo query
  * (/root/reference/README.md:61-62) — through SqlGateway.run and assert
  * the results a DuckDB user would get.
  */
class DuckDbDialectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def one[T](sql: String): T =
    SqlGateway.run(spark, sql).collect()(0).getAs[T](0)

  // ---- pure rewrite unit checks ---------------------------------------

  test("valid Spark SQL passes through byte-identical") {
    val sqls = Seq(
      "SELECT date_format(o_orderdate, 'yyyy-MM') FROM orders",
      "SELECT l_orderkey % 7, array_contains(array(1,2), 1) FROM lineitem",
      "SELECT 'a//b', '%Y', 'strftime(' FROM t")
    sqls.foreach(s => assert(DuckDbDialect.rewrite(s) == s))
  }

  test("// becomes div, but never inside a string literal") {
    assert(DuckDbDialect.rewrite("SELECT 7 // 2") == "SELECT 7  div  2")
    assert(DuckDbDialect.rewrite("SELECT 'http://x' , 9//4") ==
      "SELECT 'http://x' , 9 div 4")
  }

  test("// runs with DuckDB's measured type-aware semantics (DuckDivRule)") {
    // goldens measured on DuckDB 1.0: int//int truncates toward zero,
    // any float operand → PLAIN division (the docs say floor; the
    // engine disagrees), divisor 0 → NULL in both regimes
    assert(one[Long]("SELECT 7 // 2") == 3L)
    assert(one[Long]("SELECT -5 // 2") == -2L)
    assert(one[Double]("SELECT -5.0 // 2") == -2.5)
    assert(one[Double]("SELECT 7.5 // 2") == 3.75)
    assert(one[Double]("SELECT 5.5 // 2.0") == 2.75)
    val z = SqlGateway.run(spark, "SELECT 1 // 0 AS a, 1.0 // 0 AS b").collect()(0)
    assert(z.isNullAt(0) && z.isNullAt(1))
    // NULL operands propagate
    assert(SqlGateway.run(spark, "SELECT CAST(NULL AS INT) // 2 AS a").collect()(0).isNullAt(0))
    // and over a real column through the gateway
    import spark.implicits._
    Seq(-5, 7, 9).toDF("v").createOrReplaceTempView("ddiv_t")
    assert(SqlGateway.run(spark, "SELECT v // 2 AS q FROM ddiv_t ORDER BY v")
      .collect().map(_.getLong(0)).toSeq == Seq(-2L, 3L, 4L))
  }

  test("strftime accepts both argument orders and converts %-codes") {
    val r = spark.sql(DuckDbDialect.rewrite(
      "SELECT strftime(ts, '%Y-%m-%d'), strftime('%Y', ts) " +
        "FROM (SELECT TIMESTAMP '2024-03-05 17:00:00' AS ts)")).head()
    assert(r.getString(0) == "2024-03-05")
    // sqlite-style order: format literal first
    assert(r.getString(1) == "2024")
  }

  test("literal letters in a format are quoted as one run") {
    assert(DuckDbFunctions.convertFormat("%Y-%m-%dT%H") == "yyyy-MM-dd'T'HH")
    assert(DuckDbFunctions.convertFormat("%H of day") == "HH 'of' 'day'")
    // per-letter quoting would have produced 'o''f' = the literal o'f
    assert(!DuckDbFunctions.convertFormat("%H of").contains("''"))
    // executed: the quoted run renders as literal text
    val got = one[String](
      "SELECT strftime(TIMESTAMP '2024-03-05 17:00:00', '%Y-%m-%dT%H at %M')")
    assert(got == "2024-03-05T17 at 00")
  }

  test("unknown %-code fails loudly, naming the code") {
    val e = intercept[IllegalArgumentException] {
      spark.sql(DuckDbDialect.rewrite(
        "SELECT strftime(ts, '%Q') FROM (SELECT TIMESTAMP '2024-03-05 17:00:00' AS ts)"))
    }
    assert(e.getMessage.contains("%Q"))
  }

  test("list_* family renames to array equivalents") {
    val r = spark.sql(DuckDbDialect.rewrite(
      "SELECT list_contains(list_value(1,2,3), 2), LIST_LENGTH(xs) " +
        "FROM (SELECT array(1, 2) AS xs)")).head()
    assert(r.getBoolean(0) && r.getInt(1) == 2)
    // generate_series → sequence: both inclusive-end with optional step
    assert(spark.sql(DuckDbDialect.rewrite("SELECT generate_series(1, 5)"))
      .head().getSeq[Int](0) == Seq(1, 2, 3, 4, 5))
    assert(spark.sql(DuckDbDialect.rewrite("SELECT generate_series(0, 10, 2) AS xs"))
      .head().getSeq[Int](0) == Seq(0, 2, 4, 6, 8, 10))
  }

  test("star EXCLUDE rewrites to EXCEPT; frame EXCLUDE and strings stay") {
    assert(DuckDbDialect.rewrite("SELECT * EXCLUDE (b) FROM t") ==
      "SELECT * except (b) FROM t") // keywords are case-insensitive
    // frame-level EXCLUDE is consumed by the frame pass (its own tests
    // below), never left for the star-level exclude→except rename
    val framed = DuckDbDialect.rewrite("SUM(x) OVER (ORDER BY y ROWS 1 PRECEDING EXCLUDE CURRENT ROW)")
    assert(!framed.toLowerCase.contains("except") && !framed.contains("EXCLUDE CURRENT ROW"), framed)
    assert(DuckDbDialect.rewrite("SELECT 'exclude (b)' AS s") ==
      "SELECT 'exclude (b)' AS s")
  }

  test("Spark-native DuckDB spellings need no rewrite and run: :: and ILIKE") {
    assert(one[Int]("SELECT 3.7::INTEGER") == 3)
    assert(one[Boolean]("SELECT 'ABC' ILIKE 'a%'"))
    assert(SqlGateway.run(TestSpark.spark,
      "SELECT * EXCLUDE (b) FROM (SELECT 1 AS a, 2 AS b)").columns.toSeq == Seq("a"))
    // bare SEMI/ANTI JOIN (DuckDB drops the LEFT) — Spark's grammar
    // also accepts LEFT-less SEMI/ANTI, so these pass through (round 15)
    val semi = SqlGateway.run(TestSpark.spark,
      "SELECT a.i FROM (SELECT 1 AS i UNION ALL SELECT 2) a " +
        "SEMI JOIN (SELECT 1 AS i) b ON a.i = b.i").collect()
    assert(semi.map(_.getInt(0)).toSeq == Seq(1))
    val anti = SqlGateway.run(TestSpark.spark,
      "SELECT a.i FROM (SELECT 1 AS i UNION ALL SELECT 2) a " +
        "ANTI JOIN (SELECT 1 AS i) b ON a.i = b.i").collect()
    assert(anti.map(_.getInt(0)).toSeq == Seq(2))
  }

  test("epoch family: epoch_ms is not shadowed by the epoch rewrite") {
    // epoch translates to a micros division, not unix_timestamp: DuckDB's
    // epoch() keeps fractional seconds (a rename would floor them away)
    val r = spark.sql(DuckDbDialect.rewrite(
      "SELECT epoch(ts), epoch_ms(ts) FROM (SELECT TIMESTAMP '2024-01-01 00:00:00.25' AS ts)")).head()
    assert(r.getDouble(0) == 1704067200.25 && r.getLong(1) == 1704067200250L)
  }

  test("time_bucket: whole unit → date_trunc; multiple → origin-aligned floor") {
    def bucket(width: String, ts: String): String = spark.sql(DuckDbDialect.rewrite(
      s"SELECT time_bucket(INTERVAL '$width', ts) FROM (SELECT TIMESTAMP '$ts' AS ts)"))
      .head().getTimestamp(0).toString
    assert(bucket("1 hour", "2024-01-10 05:17:00").startsWith("2024-01-10 05:00:00"))
    // sub-month multiples align to DuckDB's default origin 2000-01-03
    // 00:00:00 UTC (946857600 s) — for widths dividing 946857600 (like
    // this 900 s one) that is indistinguishable from epoch alignment,
    // which is why the pre-round-14 epoch spelling survived the dtb
    // fuzz; 5-hour/2-day/2-week widths need the true origin
    assert(bucket("15 minutes", "2024-01-10 05:17:00").startsWith("2024-01-10 05:15:00"))
    // month-granularity multiples: pmod-floored add_months from the
    // measured 2000-01-01 origin (pre-origin instants round DOWN —
    // DuckDB 2-month bucket of 1999-02-03 is 1999-01-01, and the pmod
    // keeps the negative month index flooring instead of truncating)
    assert(bucket("2 months", "1999-02-03 00:00:01").startsWith("1999-01-01"))
    assert(bucket("2 years", "1997-07-14 00:00:00").startsWith("1996-01-01"))
    // multi-week buckets are 604800·N-second widths on the same origin
    // (2000-01-03 is a Monday — DuckDB's week boundary) — the round-13
    // documented bound is CLOSED
    assert(bucket("2 weeks", "1999-12-20 00:00:00").startsWith("1999-12-20"))
  }

  test("sub-month buckets match DuckDB's measured 2000-01-03 alignment in-engine") {
    // DuckDB 1.0 goldens (measured this round): 5-hour of 2024-01-10
    // 05:00 → 03:00 (epoch alignment says 02:00 — the pre-round-14
    // divergence); 2-day of 2024-01-10 → 2024-01-09; 2-week of
    // 1999-12-20 → 1999-12-20 (pre-origin floor lands ON the instant);
    // 90-minute of 2024-01-10 05:17 → 04:30; 7-second of
    // 05:00:13 → 05:00:13
    val rows = spark.sql(DuckDbDialect.rewrite(
      "SELECT time_bucket(INTERVAL '5 hours', TIMESTAMP '2024-01-10 05:00:00') AS a, " +
        "time_bucket(INTERVAL '2 days', TIMESTAMP '2024-01-10 05:00:00') AS b, " +
        "time_bucket(INTERVAL '2 weeks', TIMESTAMP '1999-12-20 00:00:00') AS c, " +
        "time_bucket(INTERVAL '90 minutes', TIMESTAMP '2024-01-10 05:17:00') AS d, " +
        "time_bucket(INTERVAL '7 seconds', TIMESTAMP '2024-01-10 05:00:13') AS e")).head()
    assert(rows.getTimestamp(0).toString.startsWith("2024-01-10 03:00"))
    assert(rows.getTimestamp(1).toString.startsWith("2024-01-09 00:00"))
    assert(rows.getTimestamp(2).toString.startsWith("1999-12-20 00:00"))
    assert(rows.getTimestamp(3).toString.startsWith("2024-01-10 04:30"))
    assert(rows.getTimestamp(4).toString.startsWith("2024-01-10 05:00:13"))
  }

  test("month buckets match DuckDB's measured origin semantics in-engine") {
    // the three probed DuckDB answers, evaluated through the rewrite on
    // Spark: 3mo of 2026-08-14 → 2026-07-01; 2mo of 1999-02-03 →
    // 1999-01-01 (pre-origin floor); 2yr of 1997-07-14 → 1996-01-01
    val rows = spark.sql(DuckDbDialect.rewrite(
      "SELECT time_bucket(INTERVAL '3 months', TIMESTAMP '2026-08-14 10:00:00') AS a, " +
        "time_bucket(INTERVAL '2 months', TIMESTAMP '1999-02-03 00:00:01') AS b, " +
        "time_bucket(INTERVAL '2 years', TIMESTAMP '1997-07-14 00:00:00') AS c")).head()
    assert(rows.getTimestamp(0).toString.startsWith("2026-07-01"))
    assert(rows.getTimestamp(1).toString.startsWith("1999-01-01"))
    assert(rows.getTimestamp(2).toString.startsWith("1996-01-01"))
  }

  test("string_split regex-escapes literal delimiters (DuckDB splits literally)") {
    // '.' must split as the regex \. (escaped); a plain-letter
    // delimiter splits as itself
    val lit = spark.sql(DuckDbDialect.rewrite(
      "SELECT string_split(s, '.'), string_split(s, 'x') FROM (SELECT 'a.bxc' AS s)")).head()
    assert(lit.getSeq[String](0) == Seq("a", "bxc"))
    assert(lit.getSeq[String](1) == Seq("a.b", "c"))
    // in-engine goldens, all measured on DuckDB 1.0: metachar split,
    // trailing empty kept, empty delimiter = per-char, empty input
    val r = spark.sql(DuckDbDialect.rewrite(
      "SELECT string_split('a.b.c', '.') AS a, string_split('a|b|', '|') AS b, " +
        "string_split('abc', '') AS c, string_split('', '|') AS d, " +
        "string_split('a||b', '|') AS e")).head()
    assert(r.getSeq[String](0) == Seq("a", "b", "c"))
    assert(r.getSeq[String](1) == Seq("a", "b", ""))
    assert(r.getSeq[String](2) == Seq("a", "b", "c"))
    assert(r.getSeq[String](3) == Seq(""))
    assert(r.getSeq[String](4) == Seq("a", "", "b"))
    // non-literal delimiters are a documented bound (throws, never
    // silently wrong — \Q..\E quoting breaks on values containing \E)
    intercept[IllegalArgumentException](
      spark.sql(DuckDbDialect.rewrite("SELECT string_split(s, d) FROM (SELECT 'a' AS s, 'b' AS d)")))
  }

  test("list_slice is inclusive-end positional; list_distinct drops NULLs") {
    // DuckDB 1.0 goldens (measured this round): list_slice takes a
    // 1-based INCLUSIVE end (the old rename to Spark's length-arg slice
    // silently returned one extra element), negative indexes count from
    // the end, 0 behaves as 1, out-of-range clamps, inverted bounds are
    // empty; list_distinct removes NULLs (order is engine-defined, so
    // the cross-engine spelling wraps in list_sort)
    val r = spark.sql(DuckDbDialect.rewrite(
      "SELECT list_slice(list_value(10,20,30,40), 2, 3) AS a, " +
        "list_slice(list_value(10,20,30,40), 2, -1) AS b, " +
        "list_slice(list_value(10,20,30,40), -10, -1) AS c, " +
        "list_slice(list_value(10,20,30,40), 0, 2) AS d, " +
        "list_slice(list_value(10,20,30,40), 3, 2) AS e, " +
        "list_sort(list_distinct(list_value(1, NULL, 1, 2, NULL))) AS f")).head()
    assert(r.getSeq[Int](0) == Seq(20, 30))
    assert(r.getSeq[Int](1) == Seq(20, 30, 40))
    assert(r.getSeq[Int](2) == Seq(10, 20, 30, 40))
    assert(r.getSeq[Int](3) == Seq(10, 20))
    assert(r.getSeq[Int](4) == Seq.empty)
    assert(r.getSeq[Int](5) == Seq(1, 2))
    // the step form throws rather than approximating
    intercept[IllegalArgumentException](
      spark.sql(DuckDbDialect.rewrite("SELECT list_slice(l, 1, 5, 2) FROM (SELECT array(1, 2) AS l)")))
    // array_to_string: NULL when no non-null element remains (DuckDB
    // goldens: [] → NULL, [NULL] → NULL, [''] → '', ['','x'] → '+x',
    // [NULL,'x'] → 'x' — a bare array_join rename said '' for the
    // first two; found by the dlst fuzz, seed 14011)
    val a = spark.sql(DuckDbDialect.rewrite(
      "SELECT array_to_string(list_slice(list_value('a'), 3, 2), '+') AS a, " +
        "array_to_string(list_value(''), '+') AS b, " +
        "array_to_string(list_value('', 'x'), '+') AS c")).head()
    assert(a.isNullAt(0) && a.getString(1) == "" && a.getString(2) == "+x")
    // list_concat treats a NULL side as EMPTY (DuckDB: NULL ++ [1,2] =
    // [1,2], both-NULL = NULL) — Spark's concat would null the result
    val lc = spark.sql(DuckDbDialect.rewrite(
      "SELECT list_concat(CAST(NULL AS ARRAY<INT>), list_value(1, 2)) AS a, " +
        "list_concat(list_value(1), CAST(NULL AS ARRAY<INT>)) AS b, " +
        "list_concat(CAST(NULL AS ARRAY<INT>), CAST(NULL AS ARRAY<INT>)) AS c")).head()
    assert(lc.getSeq[Int](0) == Seq(1, 2))
    assert(lc.getSeq[Int](1) == Seq(1))
    assert(lc.isNullAt(2))
  }

  test("DuckDB function builders never shadow a Spark builtin, except len") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    def builtin(n: String) = FunctionRegistry.builtin.functionExists(FunctionIdentifier(n))
    val injected = DuckDbFunctions.table.map(_._1.funcName)
    assert(injected.distinct.size == injected.size)
    // the injected names plus the four the text pass handles as calls
    val handled = injected ++ Seq("struct_pack", "regexp_extract", "date_diff", "datediff")
    // Spark defines these with other semantics: len is a deliberate
    // override (DuckLen), the other three keep their Spark spelling and
    // only their DuckDB arity is rewritten as text
    assert(handled.filter(builtin).toSet == Set("len", "regexp_extract", "date_diff", "datediff"))
  }

  test("alias builders keep Spark's DISTINCT, FILTER, OVER, lambda and generator handling") {
    spark.sql("SELECT * FROM VALUES (1, 10, 'a'), (1, 30, 'a'), (2, 20, 'b'), (3, 20, 'b') " +
      "AS t(x, y, g)").createOrReplaceTempView("alias_t")
    def same(duck: String, sparkSpelled: String): Unit = {
      val d = spark.sql(DuckDbDialect.rewrite(duck))
      val s = spark.sql(sparkSpelled)
      assert(d.columns.toSeq == s.columns.toSeq, duck)
      assert(d.collect().toSeq == s.collect().toSeq, duck)
    }
    same("SELECT array_sort(list(DISTINCT x)) FROM alias_t",
      "SELECT array_sort(collect_list(DISTINCT x)) FROM alias_t")
    same("SELECT arg_max(x, y) FILTER (WHERE y < 30) FROM alias_t",
      "SELECT max_by(x, y) FILTER (WHERE y < 30) FROM alias_t")
    same("SELECT g, quantile_cont(y, 0.5) OVER (PARTITION BY g) FROM alias_t ORDER BY g, y",
      "SELECT g, percentile(y, 0.5) OVER (PARTITION BY g) FROM alias_t ORDER BY g, y")
    same("SELECT list_transform(list_value(1, 2, 3), v -> v * x) FROM alias_t ORDER BY x, y",
      "SELECT transform(array(1, 2, 3), v -> v * x) FROM alias_t ORDER BY x, y")
    same("SELECT unnest(list_value(1, 2))", "SELECT explode(array(1, 2))")
    // the translated aggregate takes FILTER and OVER the same way
    assert(spark.sql(DuckDbDialect.rewrite(
      "SELECT quantile_disc(y, 0.5) FILTER (WHERE x = 1) FROM alias_t")).head().getDouble(0) == 10.0)
    assert(spark.sql(DuckDbDialect.rewrite(
      "SELECT quantile_disc(y, 0.5) OVER (PARTITION BY g) FROM alias_t ORDER BY g, y"))
      .collect().map(_.getDouble(0)).toSeq == Seq(10.0, 10.0, 20.0, 20.0))
  }

  test("FROM-first statements rewrite to canonical SELECT (round 14)") {
    // relocated pieces join on NEWLINES so a `--` line comment ending
    // the source can never swallow the clause after it (round-15 advice)
    def flat(s: String): String = s.replace('\n', ' ')
    assert(DuckDbDialect.rewrite("FROM t") == "SELECT * FROM t")
    assert(flat(DuckDbDialect.rewrite("FROM t WHERE a >= 2 ORDER BY a DESC"))
      == "SELECT * FROM t WHERE a >= 2 ORDER BY a DESC")
    assert(flat(DuckDbDialect.rewrite("FROM t SELECT a, b*2 AS c WHERE a > 1 ORDER BY a LIMIT 2"))
      == "SELECT a, b*2 AS c FROM t WHERE a > 1 ORDER BY a LIMIT 2")
    assert(flat(DuckDbDialect.rewrite("FROM t SELECT SUM(b) AS s GROUP BY a % 2 ORDER BY s"))
      == "SELECT SUM(b) AS s FROM t GROUP BY a % 2 ORDER BY s")
    // every set-op branch that starts with FROM gets its own SELECT *
    assert(flat(DuckDbDialect.rewrite("FROM t UNION ALL FROM u"))
      == "SELECT * FROM t UNION ALL SELECT * FROM u")
    // joins belong to the source; subquery SELECTs are not boundaries
    assert(flat(DuckDbDialect.rewrite(
      "FROM a JOIN b ON a.k = b.k WHERE a.x IN (SELECT y FROM c)"))
      == "SELECT * FROM a JOIN b ON a.k = b.k WHERE a.x IN (SELECT y FROM c)")
    // a star-exclusion in the relocated list is NOT a set-op EXCEPT
    assert(flat(DuckDbDialect.rewrite("FROM t SELECT * EXCLUDE (b) WHERE a > 0"))
      == "SELECT * except (b) FROM t WHERE a > 0")
    // ordinary SELECT statements pass through this stage untouched
    assert(DuckDbDialect.rewrite("SELECT a FROM t") == "SELECT a FROM t")
    // end-to-end through the gateway (DuckDB goldens measured: FROM t
    // SELECT a, b*2 WHERE a > 1 ORDER BY a LIMIT 2 → (2,40),(3,60))
    val spark = TestSpark.spark
    spark.sql("SELECT * FROM VALUES (1,10),(2,20),(3,30) AS v(a,b)")
      .createOrReplaceTempView("ff")
    val got = SqlGateway.run(spark,
      "FROM ff SELECT a, b*2 AS c WHERE a > 1 ORDER BY a LIMIT 2")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == Seq((2, 40), (3, 60)))
  }

  test("FROM-first hardening (round-15 advice)") {
    val spark = TestSpark.spark
    spark.sql("SELECT * FROM VALUES (1,10),(2,20),(3,30) AS v(a,b)")
      .createOrReplaceTempView("ff15")
    // 1. a -- line comment ending the FROM source must NOT swallow the
    //    relocated WHERE (the old single-space join commented it out,
    //    silently returning unfiltered rows)
    val commented = SqlGateway.run(spark,
      "FROM ff15 -- the source\nWHERE a > 1").collect()
    assert(commented.length == 2, "line comment must not absorb WHERE")
    // same hazard on the relocated SELECT-list path
    val commented2 = SqlGateway.run(spark,
      "FROM ff15 -- src\nSELECT a -- keep a\nWHERE a > 2").collect()
    assert(commented2.length == 1 && commented2.head.getInt(0) == 3)
    // 2. a FROM-first branch AFTER a SELECT-first head is legal DuckDB
    //    and now rewrites too (the old gate only looked at the head)
    val mixed = SqlGateway.run(spark,
      "SELECT 9 AS a, 9 AS b UNION ALL FROM ff15 WHERE a = 1")
      .collect().map(_.getInt(0)).toSet
    assert(mixed == Set(9, 1))
    // 3. string_split requires a strict quoted literal: an expression
    //    that merely starts and ends with a quote must throw, not split
    //    on a garbled pattern
    val e = intercept[IllegalArgumentException] {
      spark.sql(DuckDbDialect.rewrite("SELECT string_split(s, 'a' || 'b') FROM (SELECT 'x' AS s)"))
    }
    assert(e.getMessage.contains("string_split"))
    // strict literal with a doubled quote still works
    val sp = spark.sql(DuckDbDialect.rewrite(
      "SELECT string_split('x''y.z', '''') AS p")).head().getSeq[String](0)
    assert(sp == Seq("x", "y.z"))
  }

  test("bracket syntax: list literals and 1-based indexing (round 15)") {
    val spark = TestSpark.spark
    def q1[T](sql: String): T = spark.sql(DuckDbDialect.rewrite(sql)).head().getAs[T](0)
    def qs(sql: String): Seq[Int] =
      spark.sql(DuckDbDialect.rewrite(sql)).head().getSeq[Int](0).toSeq
    // DuckDB goldens (measured): 1-based, NULL at 0 and out of bounds,
    // negative from the end
    assert(q1[Int]("SELECT ([10,20,30])[1]") == 10)
    assert(q1[Int]("SELECT ([10,20,30])[-1]") == 30)
    assert(spark.sql(DuckDbDialect.rewrite("SELECT ([10,20,30])[5]")).head().isNullAt(0))
    assert(spark.sql(DuckDbDialect.rewrite("SELECT ([10,20,30])[0]")).head().isNullAt(0))
    // literals, nested literals, literal-then-index, chained index
    assert(qs("SELECT [1,2,3]") == Seq(1, 2, 3))
    assert(qs("SELECT [[1],[2,3]][2]") == Seq(2, 3))
    assert(q1[Int]("SELECT [1,2][2]") == 2)
    assert(q1[Int]("SELECT [[1],[2,3]][2][1]") == 2)
    // operand shapes: call result, identifier, expression index
    assert(q1[Int]("SELECT list_value(7,8)[2]") == 8)
    assert(q1[Int]("SELECT a[1+1] FROM (SELECT [10,20] AS a)") == 20)
    // ARRAY[...] spelling is a literal, not an index on 'array'
    assert(qs("SELECT ARRAY[4,5]") == Seq(4, 5))
    // map bracket access yields the SCALAR (documented divergence:
    // DuckDB wraps it in a one-element list)
    assert(q1[Int]("SELECT map('a', 5)['a']") == 5)
    // strings with brackets are untouched
    assert(DuckDbDialect.rewrite("SELECT 'a[1]' AS s") == "SELECT 'a[1]' AS s")
    // slices throw with the limitation named
    val es = intercept[IllegalArgumentException](
      DuckDbDialect.rewrite("SELECT x[1:2] FROM t"))
    assert(es.getMessage.contains("slice"))
    // array-TYPE brackets (round 16): CAST(x AS INT[]) / x::INT[3] are
    // type syntax, not indexing — the shim names the limitation instead
    // of emitting try_element_at(INT, …) and a misattributed parse error
    val et1 = intercept[IllegalArgumentException](
      DuckDbDialect.rewrite("SELECT CAST(x AS INT[]) FROM t"))
    assert(et1.getMessage.contains("array-type"), et1.getMessage)
    val et2 = intercept[IllegalArgumentException](
      DuckDbDialect.rewrite("SELECT x::INT[3] FROM t"))
    assert(et2.getMessage.contains("array-type"), et2.getMessage)
    // value operands before a bracket keep working around the new check
    assert(q1[Int]("SELECT CAST([1,2] AS ARRAY<INT>)[2]") == 2)
    // DuckDB string indexing surfaces Spark's type error — loud, not
    // silently wrong
    intercept[Exception](spark.sql(DuckDbDialect.rewrite("SELECT ('abc')[2]")).collect())
  }

  test("DISTINCT window aggregates decompose over collect_set (round 15)") {
    val spark = TestSpark.spark
    // goldens measured on DuckDB 1.0 over these rows
    spark.sql("SELECT * FROM VALUES (1,1,10),(2,1,10),(3,1,20),(4,2,CAST(NULL AS INT))," +
        "(5,2,30),(6,2,30) AS t(i,g,x)").createOrReplaceTempView("dwt")
    val r = spark.sql(DuckDbDialect.rewrite(
      "SELECT i, COUNT(DISTINCT x) OVER (PARTITION BY g) c, " +
        "SUM(DISTINCT x) OVER (PARTITION BY g) s, " +
        "AVG(DISTINCT x) OVER (PARTITION BY g) a, " +
        "COUNT(DISTINCT x) OVER (PARTITION BY g ORDER BY i " +
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) cf, " +
        "MIN(DISTINCT x) OVER (PARTITION BY g) mn " +
        "FROM dwt ORDER BY i")).collect()
    // COUNT keeps COUNT's BIGINT type, as in DuckDB
    assert(r.map(_.getLong(1)).toSeq == Seq(2L, 2L, 2L, 1L, 1L, 1L))
    // the SUM fold's accumulator has native SUM's type (BIGINT on int
    // input), not the element type
    assert(r.map(_.getAs[Number](2).longValue).toSeq == Seq(30L, 30L, 30L, 30L, 30L, 30L))
    assert(r.map(_.getDouble(3)).toSeq == Seq(15.0, 15.0, 15.0, 30.0, 30.0, 30.0))
    assert(r.map(_.getLong(4)).toSeq == Seq(1L, 1L, 2L, 0L, 1L, 1L))
    assert(r.map(_.getInt(5)).toSeq == Seq(10, 10, 10, 30, 30, 30))
    // empty frame: COUNT 0, SUM NULL (measured)
    val off = spark.sql(DuckDbDialect.rewrite(
      "SELECT i, SUM(DISTINCT x) OVER (ORDER BY i ROWS BETWEEN 3 PRECEDING " +
        "AND 2 PRECEDING) s, COUNT(DISTINCT x) OVER (ORDER BY i ROWS BETWEEN " +
        "3 PRECEDING AND 2 PRECEDING) c FROM dwt ORDER BY i LIMIT 3")).collect()
    assert(off.map(x => if (x.isNullAt(1)) None else Some(x.getAs[Number](1).longValue)).toSeq
      == Seq(None, None, Some(10L)))
    assert(off.map(_.getLong(2)).toSeq == Seq(0L, 0L, 1L))
    // named-window spelling wraps too
    val nw = spark.sql(DuckDbDialect.rewrite(
      "SELECT COUNT(DISTINCT x) OVER w c FROM dwt WINDOW w AS (PARTITION BY g) ORDER BY c"))
      .collect().map(_.getLong(0)).toSeq
    assert(nw == Seq(1L, 1L, 1L, 2L, 2L, 2L))
    // ordinary (non-window) DISTINCT aggregates stay untouched
    assert(DuckDbDialect.rewrite("SELECT COUNT(DISTINCT x) FROM t")
      == "SELECT COUNT(DISTINCT x) FROM t")
    // int SUM(DISTINCT) beyond int range: the widened accumulator sums
    // exactly where the round-15 element-type fold wrapped (DuckDB
    // promotes to HUGEINT; Spark native SUM widens to long — the
    // decomposed form must too). 2^31-1 + 2^31-2 > Int.MaxValue.
    spark.sql("SELECT * FROM VALUES (1, 2147483647), (2, 2147483646) AS t(i, x)")
      .createOrReplaceTempView("dwo")
    val big = spark.sql(DuckDbDialect.rewrite(
      "SELECT SUM(DISTINCT x) OVER () s FROM dwo LIMIT 1"))
      .collect().head.getAs[Number](0).longValue
    assert(big == 4294967293L, s"int-range overflow in DISTINCT SUM fold: $big")
    // double input keeps its type through the widening (+0L identity)
    val dbl = spark.sql(DuckDbDialect.rewrite(
      "SELECT SUM(DISTINCT x) OVER () s FROM (SELECT CAST(i AS DOUBLE) / 2 x " +
        "FROM dwo) LIMIT 1")).collect().head.getDouble(0)
    assert(math.abs(dbl - 1.5) < 1e-9, s"double DISTINCT SUM: $dbl")
  }

  test("DISTINCT window aggregates over a DECIMAL argument") {
    val spark = TestSpark.spark
    spark.sql("SELECT * FROM VALUES (1,1,10),(2,1,10),(3,1,20),(4,2,CAST(NULL AS INT))," +
        "(5,2,30),(6,2,30) AS t(i,g,x)").createOrReplaceTempView("dwt")
    // goldens measured on DuckDB 1.0: SUM 30.00 in both partitions, AVG
    // 15.0 and 30.0; the fold sums in SUM's own DECIMAL(20,2)
    val r = spark.sql(DuckDbDialect.rewrite(
      "SELECT i, SUM(DISTINCT CAST(x AS DECIMAL(10,2))) OVER (PARTITION BY g) s, " +
        "AVG(DISTINCT CAST(x AS DECIMAL(10,2))) OVER (PARTITION BY g) a " +
        "FROM dwt ORDER BY i")).collect()
    assert(r.map(_.getDecimal(1)).toSeq == Seq.fill(6)(new java.math.BigDecimal("30.00")))
    assert(r.map(_.getDecimal(2).doubleValue).toSeq == Seq(15.0, 15.0, 15.0, 30.0, 30.0, 30.0))
  }

  test("GROUPS frames decompose to RANGE/ROWS and dense-rank hoists (round 16)") {
    // Forward-compat for the reference's pinned duckdb>=1.3.2: the
    // LOCAL 1.0 oracle rejects GROUPS outright, so these goldens are
    // HAND-DERIVED from the ANSI definition (frame = all rows of peer
    // groups G[c-a]..G[c+b]) over power-of-two x values, so each sum
    // identifies the member set exactly.
    // Rows (i, o, x): groups by o → G1{1,2}, G2{4}, G3{8,16,32}, G4{64}
    val spark = TestSpark.spark
    spark.sql("SELECT * FROM VALUES (1,1,1),(2,1,2),(3,2,4),(4,3,8)," +
        "(5,3,16),(6,3,32),(7,5,64) AS t(i,o,x)").createOrReplaceTempView("gft")
    def sums(q: String): Seq[Long] =
      spark.sql(DuckDbDialect.rewrite(q)).collect()
        .map(_.getAs[Number]("s").longValue).toSeq
    // numeric offsets (1 PRECEDING..CURRENT ROW)
    assert(sums("SELECT i, SUM(x) OVER (ORDER BY o GROUPS BETWEEN 1 PRECEDING " +
      "AND CURRENT ROW) s FROM gft ORDER BY i")
      == Seq(3L, 3L, 7L, 60L, 60L, 60L, 120L))
    // symmetric window (1 PRECEDING..1 FOLLOWING)
    assert(sums("SELECT i, SUM(x) OVER (ORDER BY o GROUPS BETWEEN 1 PRECEDING " +
      "AND 1 FOLLOWING) s FROM gft ORDER BY i")
      == Seq(7L, 7L, 63L, 124L, 124L, 124L, 120L))
    // single-bound shorthand == BETWEEN n PRECEDING AND CURRENT ROW
    assert(sums("SELECT i, SUM(x) OVER (ORDER BY o GROUPS 1 PRECEDING) s " +
      "FROM gft ORDER BY i") == Seq(3L, 3L, 7L, 60L, 60L, 60L, 120L))
    // UNBOUNDED/CURRENT mixes
    assert(sums("SELECT i, SUM(x) OVER (ORDER BY o GROUPS BETWEEN UNBOUNDED " +
      "PRECEDING AND CURRENT ROW) s FROM gft ORDER BY i")
      == Seq(3L, 3L, 7L, 63L, 63L, 63L, 127L))
    assert(sums("SELECT i, SUM(x) OVER (ORDER BY o GROUPS BETWEEN CURRENT ROW " +
      "AND UNBOUNDED FOLLOWING) s FROM gft ORDER BY i")
      == Seq(127L, 127L, 124L, 120L, 120L, 120L, 64L))
    // peer group (CURRENT..CURRENT) — COUNT = group size
    assert(spark.sql(DuckDbDialect.rewrite("SELECT i, COUNT(*) OVER (ORDER BY o " +
      "GROUPS BETWEEN CURRENT ROW AND CURRENT ROW) s FROM gft ORDER BY i"))
      .collect().map(_.getLong(1)).toSeq == Seq(2L, 2L, 1L, 3L, 3L, 3L, 1L))
    // a ranking function keeps its own frame (DuckDB ignores the frame)
    assert(spark.sql(DuckDbDialect.rewrite("SELECT i, RANK() OVER (ORDER BY o " +
      "GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) s FROM gft ORDER BY i"))
      .collect().map(_.getInt(1)).toSeq == Seq(1, 1, 3, 4, 4, 4, 7))
    // windows see the FILTERED rows
    // (drop i=3, the whole G2 group → G3's preceding group becomes G1)
    assert(sums("SELECT i, SUM(x) OVER (ORDER BY o GROUPS BETWEEN 1 PRECEDING " +
      "AND CURRENT ROW) s FROM gft WHERE i <> 3 ORDER BY i")
      == Seq(3L, 3L, 59L, 59L, 59L, 120L))
    // PARTITION BY carries through the rank (two copies of the data)
    spark.sql("SELECT 1 AS p, * FROM gft UNION ALL SELECT 2, * FROM gft")
      .createOrReplaceTempView("gft2")
    val part = spark.sql(DuckDbDialect.rewrite("SELECT p, i, SUM(x) OVER " +
      "(PARTITION BY p ORDER BY o GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) s " +
      "FROM gft2 ORDER BY p, i")).collect()
    assert(part.map(_.getAs[Number]("s").longValue).toSeq
      == Seq(3L, 3L, 7L, 60L, 60L, 60L, 120L, 3L, 3L, 7L, 60L, 60L, 60L, 120L))
    // bare * select list: helper columns must not leak into the schema
    val star = spark.sql(DuckDbDialect.rewrite("SELECT *, SUM(x) OVER (ORDER BY o " +
      "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) s FROM gft ORDER BY i"))
    assert(star.columns.toSeq == Seq("i", "o", "x", "s"), star.columns.mkString(","))
    // subquery-level GROUPS
    assert(spark.sql(DuckDbDialect.rewrite("SELECT count(*) c FROM (SELECT i, " +
      "SUM(x) OVER (ORDER BY o GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) s " +
      "FROM gft) WHERE s > 10")).head().getLong(0) == 4L)
    // EXCLUDE composes: the rule computes the exclusion after moving
    // the frame to rank space, so rank peers are the ORDER BY peers.
    // Row i=5 (x=16, G3): frame UNBOUNDED..CURRENT = 63; TIES removes
    // peers 8+32, keeps self → 15; i=7 (singleton G4): 127 unchanged
    val excl = spark.sql(DuckDbDialect.rewrite("SELECT i, SUM(x) OVER (ORDER BY o " +
      "GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) s " +
      "FROM gft ORDER BY i")).collect()
    assert(excl.map(_.getAs[Number]("s").longValue).toSeq
      == Seq(1L, 2L, 7L, 15L, 23L, 39L, 127L))
    // named WINDOW clause: UNBOUNDED/CURRENT maps in place
    assert(sums("SELECT i, SUM(x) OVER w s FROM gft WINDOW w AS (ORDER BY o " +
      "GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY i")
      == Seq(3L, 3L, 7L, 63L, 63L, 63L, 127L))
    // numeric offsets + EXCLUDE compose: the exclusion's helper windows
    // are RANGE frames over the same dense rank. Row i=4 (x=8, G3): 1 PRECEDING..CURRENT is
    // G2+G3 = 60; EXCLUDE GROUP removes G3 (56) → 4; i=3 (G2):
    // G1+G2 = 7 minus G2 (4) → 3; i=7 (G4): G3+G4 minus G4 → 56
    val nex = spark.sql(DuckDbDialect.rewrite("SELECT i, SUM(x) OVER (ORDER BY o " +
      "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE GROUP) s " +
      "FROM gft ORDER BY i")).collect()
    assert(nex.map(r => Option(r.get(1)).map(_.asInstanceOf[Number].longValue)).toSeq
      == Seq(None, None, Some(3L), Some(4L), Some(4L), Some(4L), Some(56L)), nex.mkString(","))
    // the rank is shuffle-free beyond the window's own partitioning:
    // the dense-rank window and the frame window share PARTITION BY o,
    // so the physical plan carries exactly ONE hash Exchange
    val hoisted = spark.sql(DuckDbDialect.rewrite("SELECT i, SUM(x) OVER " +
      "(PARTITION BY o ORDER BY x GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) s " +
      "FROM gft"))
    hoisted.collect()
    // the AQE plan string prints Final and Initial sections — count
    // exchanges in the final section only
    val plan = hoisted.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx == 1, s"the dense rank must reuse the window partitioning:\n$plan")
    // QUALIFY composes — golden sums Seq(3,3,7,60,60,60,120), so s > 10
    // keeps i=4..7
    assert(spark.sql(DuckDbDialect.rewrite("SELECT i, SUM(x) OVER (ORDER BY o " +
      "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) s FROM gft QUALIFY s > 10 " +
      "ORDER BY i")).collect().map(_.getAs[Number](0).longValue).toSeq
      == Seq(4L, 5L, 6L, 7L))
    // DISTINCT window + GROUPS composes: the rule's collect_set window
    // shares the rank-space spec. Row i=8 duplicates x=8 inside G3, so
    // DISTINCT genuinely drops a value: plain SUM over G2+G3 would be 68,
    // the distinct set {4,8,16,32} sums to 60
    spark.sql("SELECT * FROM VALUES (1,1,1),(2,1,2),(3,2,4),(4,3,8)," +
        "(5,3,16),(6,3,32),(7,5,64),(8,3,8) AS t(i,o,x)")
      .createOrReplaceTempView("gfd")
    assert(spark.sql(DuckDbDialect.rewrite("SELECT i, SUM(DISTINCT x) OVER " +
      "(ORDER BY o GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) s FROM gfd " +
      "ORDER BY i")).collect().map(_.getAs[Number](1).longValue).toSeq
      == Seq(3L, 3L, 7L, 60L, 60L, 60L, 120L, 60L))
    // a plain column NAMED groups is not hijacked (no frame-bound shape)
    assert(spark.sql(DuckDbDialect.rewrite("SELECT max(groups) OVER (ORDER BY i) m " +
      "FROM (SELECT 1 AS i, 2 AS groups)")).head().getInt(0) == 2)
    // named WINDOW clause with integer offsets (round 17)
    assert(sums("SELECT i, SUM(x) OVER w s FROM gft WINDOW w AS (ORDER BY o " +
      "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) ORDER BY i")
      == Seq(3L, 3L, 7L, 60L, 60L, 60L, 120L))
    // set-operation branches (round 17): each branch has its own
    // window; the statement tail keeps binding to the whole op.
    // Branch 1 (i≤3): groups {1,2},{4} → 3,3,7; branch 2 (i≥6):
    // singleton groups {32},{64} → 32,96
    assert(sums("SELECT i, SUM(x) OVER (ORDER BY o GROUPS 1 PRECEDING) s " +
      "FROM gft WHERE i <= 3 UNION ALL SELECT i, SUM(x) OVER (ORDER BY o " +
      "GROUPS 1 PRECEDING) s FROM gft WHERE i >= 6 ORDER BY i")
      == Seq(3L, 3L, 7L, 32L, 96L))
    // grouped block (round 17): the GROUPS window evaluates over the
    // grouped rows. Grouped rows (o→SUM(x)): (1,3),(2,4),
    // (3,56),(5,64); o unique after grouping → singleton peer groups
    assert(sums("SELECT o, SUM(SUM(x)) OVER (ORDER BY o GROUPS BETWEEN " +
      "1 PRECEDING AND CURRENT ROW) s FROM gft GROUP BY o ORDER BY o")
      == Seq(3L, 7L, 60L, 120L))
    // grouped + PARTITION BY + aliases: per-p windows are the ungrouped
    // golden
    val gpart = spark.sql(DuckDbDialect.rewrite("SELECT p, o AS oo, " +
      "CAST(SUM(SUM(x)) OVER (PARTITION BY p ORDER BY o GROUPS 1 PRECEDING) " +
      "AS BIGINT) AS s FROM gft2 GROUP BY p, o ORDER BY p, oo")).collect()
    assert(gpart.map(_.getAs[Number]("s").longValue).toSeq
      == Seq(3L, 7L, 60L, 120L, 3L, 7L, 60L, 120L))
    assert(gpart.map(_.getAs[Number]("oo").intValue).toSeq
      == Seq(1, 2, 3, 5, 1, 2, 3, 5))
    // grouped + HAVING: dropping the o=1 group BEFORE the window shifts
    // o=2's preceding group away
    assert(sums("SELECT o, SUM(SUM(x)) OVER (ORDER BY o GROUPS 1 PRECEDING) s " +
      "FROM gft GROUP BY o HAVING SUM(x) > 3 ORDER BY o")
      == Seq(4L, 60L, 120L))
    // bounded out, with the limitation named: a column offset and a
    // missing (mandatory) ORDER BY
    def named(q: String, frag: String): Unit = {
      val ex = intercept[IllegalArgumentException](DuckDbDialect.rewrite(q))
      assert(ex.getMessage.toLowerCase.contains(frag), ex.getMessage)
    }
    named("SELECT SUM(x) OVER (ORDER BY o GROUPS BETWEEN x PRECEDING AND " +
      "CURRENT ROW) FROM gft", "integer-literal")
    named("SELECT SUM(x) OVER (GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) " +
      "FROM gft", "order by")
    // an unaliased grouped expression beside a GROUPS window over the
    // grouped rows: o → SUM(x) is (1,3),(2,4),(3,56),(5,64), and each
    // o is its own peer group
    val unaliased = spark.sql(DuckDbDialect.rewrite("SELECT o, SUM(x) + 0, " +
      "SUM(SUM(x)) OVER (ORDER BY o GROUPS 1 PRECEDING) s FROM gft GROUP BY o"))
      .collect().map(r => (r.getInt(0), r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue)).sortBy(_._1).toSeq
    assert(unaliased == Seq((1, 3L, 3L), (2, 4L, 7L), (3, 56L, 60L), (5, 64L, 120L)))
    // round 18: GROUP BY + named WINDOW clause (same goldens as the
    // inline grouped cases above)
    assert(spark.sql(DuckDbDialect.rewrite(
      "SELECT o, CAST(SUM(SUM(x)) OVER w AS BIGINT) AS s FROM gft " +
        "GROUP BY o WINDOW w AS (ORDER BY o GROUPS 1 PRECEDING) ORDER BY o"))
      .collect().map(_.getAs[Number]("s").longValue).toSeq
      == Seq(3L, 7L, 60L, 120L))
    // combined: a GROUPS window name + a PLAIN named window over a
    // grouped order expression, in one clause
    val gnw = spark.sql(DuckDbDialect.rewrite(
      "SELECT o, CAST(SUM(SUM(x)) OVER w AS BIGINT) AS s, " +
        "CAST(SUM(SUM(x)) OVER v AS BIGINT) AS r FROM gft " +
        "GROUP BY o WINDOW w AS (ORDER BY o GROUPS 1 PRECEDING), " +
        "v AS (ORDER BY o DESC NULLS LAST ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) ORDER BY o")).collect()
    assert(gnw.map(_.getAs[Number]("s").longValue).toSeq == Seq(3L, 7L, 60L, 120L))
    // v: running sum over o DESC → o=5:64, o=3:120, o=2:124, o=1:127
    assert(gnw.map(_.getAs[Number]("r").longValue).toSeq == Seq(127L, 124L, 120L, 64L))
    // partitioned GROUPS named window over the grouped block (gft2 has
    // two p-partitions with identical o-groups)
    assert(spark.sql(DuckDbDialect.rewrite(
      "SELECT p, o, CAST(SUM(SUM(x)) OVER w AS BIGINT) AS s FROM gft2 " +
        "GROUP BY p, o WINDOW w AS (PARTITION BY p ORDER BY o " +
        "GROUPS 1 PRECEDING) ORDER BY p, o"))
      .collect().map(_.getAs[Number]("s").longValue).toSeq
      == Seq(3L, 7L, 60L, 120L, 3L, 7L, 60L, 120L))
    // GROUP BY ALL + window: Spark 4.1 groups by the non-aggregate items
    // (DuckDB 1.0 rejects ALL + any window, measured); a GROUPS window
    // there is no different from any other window
    assert(sums("SELECT o, SUM(SUM(x)) OVER (ORDER BY o GROUPS 1 PRECEDING) s " +
      "FROM gft GROUP BY ALL ORDER BY o") == Seq(3L, 7L, 60L, 120L))
    // round 18: GROUP BY ordinals resolve to the item expression (same
    // golden as the named-key grouped case above)
    assert(sums("SELECT o, SUM(SUM(x)) OVER (ORDER BY o GROUPS 1 PRECEDING) s " +
      "FROM gft GROUP BY 1 ORDER BY o") == Seq(3L, 7L, 60L, 120L))
    // round 18: an unaliased simple-call grouped item passes through
    // with the engines' shared auto-name (sum(x)) — the ordinal resolves
    // through its stripped alias text too
    val un = spark.sql(DuckDbDialect.rewrite("SELECT o, SUM(x), " +
      "CAST(SUM(SUM(x)) OVER (ORDER BY o GROUPS 1 PRECEDING) AS BIGINT) AS s " +
      "FROM gft GROUP BY 1 ORDER BY o")).collect()
    assert(un.map(_.getAs[Number]("s").longValue).toSeq == Seq(3L, 7L, 60L, 120L))
    assert(spark.sql(DuckDbDialect.rewrite("SELECT o, SUM(x), " +
      "SUM(SUM(x)) OVER (ORDER BY o GROUPS 1 PRECEDING) AS s " +
      "FROM gft GROUP BY o ORDER BY o")).columns.toSeq
      == Seq("o", "sum(x)", "s"))
  }

  test("GROUPS round-18 advice closures: set-op subqueries, window-named column, string-literal ORDER BY") {
    val spark = TestSpark.spark
    // a numeric-offset frame nested in a subquery INSIDE a set-op branch
    val setSub = spark.sql(DuckDbDialect.rewrite(
      "SELECT CAST(s AS BIGINT) AS s FROM (SELECT SUM(x) OVER (ORDER BY o " +
        "GROUPS 1 PRECEDING) AS s FROM gft) q1 " +
        "UNION ALL SELECT * FROM (SELECT CAST(SUM(x) OVER (ORDER BY o " +
        "GROUPS 1 PRECEDING) AS BIGINT) AS s FROM gft) q2"))
      .collect().map(_.getLong(0)).sorted.toSeq
    // per-row golden over gft: group sums by o are {3, 4, 56, 64}, and
    // ORDER BY o GROUPS 1 PRECEDING sums the current o-group plus the
    // one before it (the round-16 test's own golden), once per branch
    val once = Seq(3L, 3L, 7L, 60L, 60L, 60L, 120L)
    assert(setSub == (once ++ once).sorted)
    // a column literally named `window` at depth 0 is a column
    spark.sql("SELECT o, x, x AS window FROM gft").createOrReplaceTempView("gftw")
    val wcol = spark.sql(DuckDbDialect.rewrite(
      "SELECT CAST(SUM(x) OVER (ORDER BY o GROUPS 1 PRECEDING) AS BIGINT) " +
        "AS s FROM gftw WHERE window > 1 ORDER BY s"))
      .collect().map(_.getLong(0)).toSeq
    // rows with x>1 regroup by o as {2, 4, 56, 64}; current+preceding
    // group sums per row, ordered: 2, 6, 60×3, 120
    assert(wcol == Seq(2L, 6L, 60L, 60L, 60L, 120L))
    // a PARTITION BY expression containing the string literal 'order by'
    // splits at the real ORDER BY keyword, not inside the literal
    val lit = spark.sql(DuckDbDialect.rewrite(
      "SELECT o, CAST(SUM(SUM(x)) OVER (PARTITION BY CASE WHEN 'order by' " +
        "= 'x' THEN 0 ELSE 1 END ORDER BY o GROUPS 1 PRECEDING) AS BIGINT) " +
        "AS s FROM gft GROUP BY o ORDER BY o"))
      .collect().map(_.getAs[Number]("s").longValue).toSeq
    assert(lit == Seq(3L, 7L, 60L, 120L))
  }

  test("GROUPS round-19 closures: constant expression offsets, single-relation t.*, * EXCEPT merge") {
    val spark = TestSpark.spark
    // same gft fixture/goldens as the round-16 test: o-group sums are
    // {3, 4, 56, 64}; 1 PRECEDING..CURRENT per row = 3,3,7,60,60,60,120
    spark.sql("SELECT * FROM VALUES (1,1,1),(2,1,2),(3,2,4),(4,3,8)," +
        "(5,3,16),(6,3,32),(7,5,64) AS t(i,o,x)").createOrReplaceTempView("gft")
    def sums(q: String): Seq[Long] =
      spark.sql(DuckDbDialect.rewrite(q)).collect()
        .map(_.getAs[Number]("s").longValue).toSeq
    val once = Seq(3L, 3L, 7L, 60L, 60L, 60L, 120L)
    // constant expression offsets fold to the literal: (1+1) ≡ 2
    // PRECEDING (adds G[c-2]: 3,3,7,63,63,63,124), CAST(1 AS INT) ≡ 1
    // PRECEDING, (2*2-3) ≡ 1 PRECEDING, and (2-2) ≡ CURRENT ROW
    assert(sums("SELECT i, SUM(x) OVER (ORDER BY o GROUPS BETWEEN (1+1) " +
      "PRECEDING AND CURRENT ROW) s FROM gft ORDER BY i")
      == Seq(3L, 3L, 7L, 63L, 63L, 63L, 124L))
    assert(sums("SELECT i, SUM(x) OVER (ORDER BY o GROUPS CAST(1 AS INT) " +
      "PRECEDING) s FROM gft ORDER BY i") == once)
    assert(sums("SELECT i, SUM(x) OVER (ORDER BY o GROUPS (2*2-3) " +
      "PRECEDING) s FROM gft ORDER BY i") == once)
    assert(sums("SELECT i, SUM(x) OVER (ORDER BY o GROUPS BETWEEN (2-2) " +
      "PRECEDING AND CURRENT ROW) s FROM gft ORDER BY i")
      == Seq(3L, 3L, 4L, 56L, 56L, 56L, 64L))
    def named(q: String, frag: String): Unit = {
      val ex = intercept[IllegalArgumentException](DuckDbDialect.rewrite(q))
      assert(ex.getMessage.toLowerCase.contains(frag), ex.getMessage)
    }
    // division stays bounded out (DuckDB / is float division — folding
    // would silently disagree), as does a negative fold
    named("SELECT SUM(x) OVER (ORDER BY o GROUPS BETWEEN (4/2) PRECEDING " +
      "AND CURRENT ROW) FROM gft", "constant-expression")
    named("SELECT SUM(x) OVER (ORDER BY o GROUPS BETWEEN (1-2) PRECEDING " +
      "AND CURRENT ROW) FROM gft", "non-negative")
    // qualified star over the block's SOLE relation ≡ bare star: the
    // helper column must not leak, alias and base-name forms both
    val qs = spark.sql(DuckDbDialect.rewrite(
      "SELECT g.*, CAST(SUM(x) OVER (ORDER BY o GROUPS 1 PRECEDING) AS " +
        "BIGINT) AS s FROM gft g ORDER BY i"))
    assert(qs.columns.toSeq == Seq("i", "o", "x", "s"))
    assert(qs.collect().map(_.getAs[Number]("s").longValue).toSeq == once)
    assert(spark.sql(DuckDbDialect.rewrite(
      "SELECT gft.*, CAST(SUM(x) OVER (ORDER BY o GROUPS 1 PRECEDING) AS " +
        "BIGINT) AS s FROM gft ORDER BY i")).columns.toSeq
      == Seq("i", "o", "x", "s"))
    // windows see the filtered rows
    assert(sums("SELECT g.*, CAST(SUM(x) OVER (ORDER BY o GROUPS 1 " +
      "PRECEDING) AS BIGINT) AS s FROM gft g WHERE i >= 3 ORDER BY i")
      == Seq(4L, 60L, 60L, 60L, 120L))
    // an explicit alias SHADOWS the base name: Spark's analyzer rejects
    // `gft.*` over `gft g`, as DuckDB's binder does (measured)
    intercept[org.apache.spark.sql.AnalysisException](spark.sql(DuckDbDialect.rewrite(
      "SELECT gft.*, SUM(x) OVER (ORDER BY o GROUPS 1 PRECEDING) s FROM gft g")))
    // a qualified star over a multi-relation FROM is the relation's
    // columns, as anywhere else (i is unique, so the self-join is 1:1)
    val selfJoin = spark.sql(DuckDbDialect.rewrite("SELECT a.*, SUM(a.x) OVER " +
      "(ORDER BY a.o GROUPS 1 PRECEDING) s FROM gft a JOIN gft b ON a.i = b.i"))
    assert(selfJoin.columns.toSeq == Seq("i", "o", "x", "s"))
    assert(selfJoin.collect().map(r => (r.getInt(0), r.getAs[Number]("s").longValue))
      .sortBy(_._1).map(_._2).toSeq == once)
    // * EXCEPT (cols) and DuckDB's * EXCLUDE (cols) beside a GROUPS window
    val ex1 = spark.sql(DuckDbDialect.rewrite(
      "SELECT * EXCEPT (i), CAST(SUM(x) OVER (ORDER BY o GROUPS 1 " +
        "PRECEDING) AS BIGINT) AS s FROM gft ORDER BY o, x"))
    assert(ex1.columns.toSeq == Seq("o", "x", "s"))
    assert(ex1.collect().map(_.getAs[Number]("s").longValue).toSeq == once)
    val ex2 = spark.sql(DuckDbDialect.rewrite(
      "SELECT * EXCLUDE (i, x), CAST(SUM(x) OVER (ORDER BY o GROUPS 1 " +
        "PRECEDING) AS BIGINT) AS s FROM gft ORDER BY o, x"))
    assert(ex2.columns.toSeq == Seq("o", "s"))
    // string literals that spell keywords inside the spec: 'order by'
    // inside the partition expression, a comma inside a partition
    // literal, and an order expression whose literal suffix spells
    // ' desc' — the marker goes after the real PARTITION BY only
    assert(spark.sql(DuckDbDialect.rewrite(
      "SELECT o, CAST(SUM(SUM(x)) OVER w AS BIGINT) AS s FROM gft " +
        "GROUP BY o WINDOW w AS (PARTITION BY CASE WHEN 'order by' = 'x' " +
        "THEN 0 ELSE 1 END ORDER BY o GROUPS 1 PRECEDING) ORDER BY o"))
      .collect().map(_.getAs[Number]("s").longValue).toSeq
      == Seq(3L, 7L, 60L, 120L))
    assert(sums("SELECT o, CAST(SUM(SUM(x)) OVER (PARTITION BY 'a,b' " +
      "ORDER BY o GROUPS 1 PRECEDING) AS BIGINT) AS s FROM gft " +
      "GROUP BY o ORDER BY o") == Seq(3L, 7L, 60L, 120L))
    assert(sums("SELECT o, CAST(SUM(SUM(x)) OVER (ORDER BY (CAST(o AS " +
      "STRING) || ' desc') GROUPS 1 PRECEDING) AS BIGINT) AS s FROM gft " +
      "GROUP BY o ORDER BY o") == Seq(3L, 7L, 60L, 120L))
    // SELECT DISTINCT + GROUP BY + GROUPS composes (round 19): windows
    // evaluate before DISTINCT, which dedups the WINDOWED output rows
    val dg = spark.sql(DuckDbDialect.rewrite(
      "SELECT DISTINCT (o % 2) AS p, CAST(SUM(SUM(x)) OVER (ORDER BY " +
        "(o % 2) GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS " +
        "BIGINT) AS s FROM gft GROUP BY o ORDER BY p, s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // grouped sums by o: {1:3, 2:4, 3:56, 5:64}; parity p: 1,0,1,1 →
    // peer groups by p: p0 {4}, p1 {3,56,64}; running group-frame sum:
    // p0 rows → 4, p1 rows → 4+123 = 127 (all three p1 rows identical
    // after windowing) → DISTINCT leaves (0,4) and (1,127)
    assert(dg == Seq((0, 4L), (1, 127L)))
    // SELECT DISTINCT * (ungrouped) + GROUPS: the dense rank must not
    // leak through the star into the distinct key
    val ds = spark.sql(DuckDbDialect.rewrite(
      "SELECT DISTINCT *, CAST(SUM(x) OVER (ORDER BY o GROUPS 1 " +
        "PRECEDING) AS BIGINT) AS s FROM gft ORDER BY i"))
    assert(ds.columns.toSeq == Seq("i", "o", "x", "s"))
    assert(ds.collect().map(_.getAs[Number]("s").longValue).toSeq == once)
  }

  test("a GROUPS frame reaches Catalyst as a marked ROWS frame, with no subquery") {
    // the text pass changes only the frame keyword and the partition
    // clause; the dense rank is the analyzer rule's (DuckWindowRule)
    val cases = Seq(
      "SELECT i, SUM(x) OVER (ORDER BY o GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) s " +
        "FROM gft ORDER BY i" ->
        ("SELECT i, SUM(x) OVER (PARTITION BY graft_groups_frame() ORDER BY o ROWS " +
          "BETWEEN 1 PRECEDING AND 1 FOLLOWING) s FROM gft ORDER BY i"),
      "SELECT p, SUM(x) OVER (PARTITION BY p ORDER BY o GROUPS 2 PRECEDING) s FROM gft2" ->
        ("SELECT p, SUM(x) OVER (PARTITION BY graft_groups_frame(), p ORDER BY o ROWS " +
          "2 PRECEDING) s FROM gft2"),
      "SELECT SUM(x) OVER w s FROM gft WINDOW w AS (ORDER BY o GROUPS 1 PRECEDING)" ->
        ("SELECT SUM(x) OVER w s FROM gft WINDOW w AS (PARTITION BY graft_groups_frame() " +
          "ORDER BY o ROWS 1 PRECEDING)"))
    cases.foreach { case (in, out) =>
      val r = DuckDbDialect.rewrite(in)
      assert(r == out)
      assert(!r.contains("__grp") && "(?i)\\bselect\\b".r.findAllIn(r).size == 1, r)
    }
  }

  test("the GROUPS marker outside a window partition fails with a named error") {
    val e = intercept[Throwable](
      TestSpark.spark.sql("SELECT graft_groups_frame() AS m FROM range(3)").collect())
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null &&
      m.contains("graft_groups_frame() marks a GROUPS window frame")), e.toString)
  }

  test("function-surface twins: arg_max, quantiles, list lambdas, unnest, 3-arg date_diff (round 16)") {
    val spark = TestSpark.spark
    def one(sql: String) = spark.sql(DuckDbDialect.rewrite(sql)).head()
    // goldens measured on DuckDB 1.0
    spark.sql("SELECT * FROM VALUES (1, 10),(2, 30),(3, CAST(NULL AS INT)),(4, 20) AS t(x, y)")
      .createOrReplaceTempView("fnt")
    // arg_max/arg_min: value of x at the extreme y; NULL y skipped
    assert(one("SELECT arg_max(x, y) FROM fnt").getInt(0) == 2)
    assert(one("SELECT arg_min(x, y) FROM fnt").getInt(0) == 1)
    // quantile_cont = linear interpolation (measured 2.5/1.75 over 1..4);
    // the array-of-quantiles form carries over; quantile_disc/quantile =
    // smallest element with cumulative distribution >= q (2 and 1)
    assert(one("SELECT quantile_cont(x, 0.5) FROM fnt").getDouble(0) == 2.5)
    assert(one("SELECT quantile_cont(x, [0.25, 0.75]) FROM fnt")
      .getSeq[Double](0) == Seq(1.75, 3.25))
    // result type widens to double (percentile_disc's type) where DuckDB
    // keeps the element type — the VALUE is the same element (documented)
    assert(one("SELECT quantile_disc(x, 0.5) FROM fnt").getDouble(0) == 2.0)
    assert(one("SELECT quantile(x, 0.25) FROM fnt").getDouble(0) == 1.0)
    // list lambdas + the list() aggregate (sorted: neither engine
    // orders the aggregate) + select-list unnest
    assert(one("SELECT list_transform([1,2,3], v -> v + 1)").getSeq[Int](0) == Seq(2, 3, 4))
    assert(one("SELECT list_filter([1,2,3], v -> v > 1)").getSeq[Int](0) == Seq(2, 3))
    assert(one("SELECT list_sort(list(x)) FROM fnt").getSeq[Int](0) == Seq(1, 2, 3, 4))
    assert(spark.sql(DuckDbDialect.rewrite("SELECT unnest([7,8]) u"))
      .collect().map(_.getInt(0)).toSeq == Seq(7, 8))
    // 3-arg date_diff counts PART BOUNDARIES (measured: month of
    // Jan-31 -> Feb-01 is 1; Jan-01 -> Mar-31 is 2), signed; the week
    // part differences ISO-Monday truncations; sub-day parts difference
    // SESSION-LOCAL date_trunc. Spark's own 2-arg datediff and
    // unquoted-part date_diff pass through untouched.
    assert(one("SELECT date_diff('month', DATE '2024-01-31', DATE '2024-02-01')").getLong(0) == 1L)
    assert(one("SELECT date_diff('months', DATE '2024-01-01', DATE '2024-03-31')").getLong(0) == 2L)
    assert(one("SELECT datediff('day', DATE '2024-02-01', DATE '2024-01-31')").getLong(0) == -1L)
    assert(one("SELECT date_diff('week', DATE '2024-01-01', DATE '2024-01-08')").getLong(0) == 1L)
    assert(one("SELECT date_diff('hour', TIMESTAMP '2024-01-01 10:59:00', " +
      "TIMESTAMP '2024-01-01 11:01:00')").getLong(0) == 1L)
    assert(one("SELECT datediff(DATE '2024-02-01', DATE '2024-01-31')").getInt(0) == 1)
    // sub-day boundaries are timezone-independent for fixed-offset
    // zones (DuckDB goldens: hour 10:59->12:01 = 2, minute across
    // :00 = 1, second across a minute = 1) — a raw UTC epoch floor
    // would land half-hour zones (+05:30) mid-hour; the trunc-diff
    // form counts local-clock boundaries in ANY session zone
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (z <- Seq(tz0, "Asia/Kolkata", "Australia/Eucla")) { // +05:30, +08:45
        spark.conf.set("spark.sql.session.timeZone", z)
        assert(one("SELECT date_diff('hour', TIMESTAMP '2024-01-01 10:59:00', " +
          "TIMESTAMP '2024-01-01 12:01:00')").getLong(0) == 2L, z)
        assert(one("SELECT date_diff('minute', TIMESTAMP '2024-01-01 10:59:30', " +
          "TIMESTAMP '2024-01-01 11:00:10')").getLong(0) == 1L, z)
        assert(one("SELECT date_diff('second', TIMESTAMP '2024-01-01 10:59:59.9', " +
          "TIMESTAMP '2024-01-01 11:00:00.1')").getLong(0) == 1L, z)
      }
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
    val ep = intercept[IllegalArgumentException](DuckDbDialect.rewrite(
      "SELECT date_diff('fortnight', DATE '2024-01-01', DATE '2024-02-01')"))
    assert(ep.getMessage.contains("not supported"), ep.getMessage)
    // --- second batch, all goldens measured on DuckDB 1.0 ---
    // string predicates/position renames
    assert(one("SELECT starts_with('hello','he'), ends_with('hello','lo'), " +
      "prefix('hello','he'), suffix('hello','lo'), strpos('hello','ll')").toSeq
      == Seq(true, true, true, true, 3))
    // list mutation/indexing: list_prepend's REVERSED argument order,
    // 1-based NULL-safe extract, reversal, length
    val lst = one("SELECT list_prepend(0, [1,2]), list_reverse([1,2,3]), " +
      "list_append([1,2], 3), array_length([1,2,3]), list_extract([1,2,3], 2), " +
      "array_extract([1,2,3], 9)")
    assert(lst.getSeq[Int](0) == Seq(0, 1, 2) && lst.getSeq[Int](1) == Seq(3, 2, 1))
    assert(lst.getSeq[Int](2) == Seq(1, 2, 3) && lst.getLong(3) == 3L)
    assert(lst.getInt(4) == 2 && lst.isNullAt(5))
    // index 0 and negative indexes (measured: extract(l, 0) = NULL —
    // Spark's try_element_at REJECTS 0, hence the nullif guard;
    // extract(l, -1) = last element)
    val lx = one("SELECT list_extract([1,2,3], 0), list_extract([1,2,3], -1), " +
      "array_extract([1,2,3], i - i) FROM (SELECT 1 AS i)")
    assert(lx.isNullAt(0) && lx.getInt(1) == 3 && lx.isNullAt(2), lx.toSeq)
    // list_unique counts DISTINCT NON-NULL (measured 3, not 4)
    assert(one("SELECT list_unique([1,2,2,3,NULL])").getInt(0) == 3)
    // list_aggregate by name; sums/avgs widen to double (documented) and
    // skip NULL elements; empty list sums NULL
    val la = one("SELECT list_aggregate([NULL,1,2], 'sum'), " +
      "list_aggregate([1,2,3,NULL], 'avg'), list_aggregate([3,1,2], 'min'), " +
      "list_aggregate([1,2,NULL], 'count'), " +
      "list_aggregate(list_filter([1], v -> false), 'sum')")
    assert(la.getDouble(0) == 3.0 && la.getDouble(1) == 2.0 &&
      la.getInt(2) == 1 && la.getInt(3) == 2 && la.isNullAt(4))
    val el = intercept[IllegalArgumentException](spark.sql(DuckDbDialect.rewrite(
      "SELECT list_aggregate([1], 'median')")))
    assert(el.getMessage.contains("sum/min/max/count/avg"), el.getMessage)
    // struct_pack named fields
    val sp = one("SELECT struct_pack(a := 1, b := 'x') s")
    assert(sp.getStruct(0).getInt(0) == 1 && sp.getStruct(0).getString(1) == "x")
    // regexp_extract: DuckDB's 2-arg form is the FULL MATCH (Spark's
    // 2-arg default is group 1 and errors on group-free patterns);
    // 3-arg agrees and passes through
    assert(one("SELECT regexp_extract('abc123', '[0-9]+')").getString(0) == "123")
    assert(one("SELECT regexp_extract('a1b2', '([a-z])([0-9])', 2)").getString(0) == "1")
    // --- third batch ---
    // regex split names map 1:1 (Spark's split IS regex-based)
    assert(one("SELECT string_split_regex('a1b22c', '[0-9]+')")
      .getSeq[String](0) == Seq("a", "b", "c"))
    assert(one("SELECT regexp_split_to_array('a1b22c', '[0-9]+')")
      .getSeq[String](0) == Seq("a", "b", "c"))
    // list_has_any: never NULL, NULL elements never match (measured)
    val ha = one("SELECT list_has_any([1,2],[2,3]), list_has_any([1],[3]), " +
      "list_has_any([1,CAST(NULL AS INT)],[CAST(NULL AS INT)])")
    assert(ha.toSeq == Seq(true, false, false), ha.toSeq.mkString(","))
    // list_has_all: subset incl. NULL-matches-NULL; empty sub is TRUE
    val hb = one("SELECT list_has_all([1,2,3],[2,3]), list_has_all([1,2],[2,9]), " +
      "list_has_all([1,2], list_filter([1], v -> false)), " +
      "list_has_all([1,CAST(NULL AS INT)],[CAST(NULL AS INT)])")
    assert(hb.toSeq == Seq(true, false, true, true), hb.toSeq.mkString(","))
    // whole-list NULL arguments propagate NULL (measured on DuckDB 1.0:
    // has_any/has_all with a NULL LIST in either position = NULL — the
    // coalesce pins only the NULL-ELEMENT no-match case)
    val hn = one("SELECT list_has_any(CAST(NULL AS ARRAY<INT>), [1,2]), " +
      "list_has_any([1,2], CAST(NULL AS ARRAY<INT>)), " +
      "list_has_all(CAST(NULL AS ARRAY<INT>), [1]), " +
      "list_has_all([1], CAST(NULL AS ARRAY<INT>))")
    assert((0 to 3).forall(hn.isNullAt), hn.toSeq.mkString(","))
  }

  test("COLUMNS('regex') expands against the relation schema (round 16)") {
    val spark = TestSpark.spark
    // goldens measured on DuckDB 1.0: PARTIAL regex match ('a' matches
    // abc), case-sensitive, relation order, binder error on zero
    // matches, and a wrapped COLUMNS replicates the whole item named
    // by the BASE column (min(COLUMNS('.*')) -> columns a, b)
    spark.sql("SELECT 1 AS abc, 2 AS b, 3 AS Axe").createOrReplaceTempView("ct")
    def gw(sql: String) = graft.engine.SqlGateway.run(spark, sql)
    val bare = gw("SELECT COLUMNS('a') FROM ct")
    assert(bare.columns.toSeq == Seq("abc"), bare.columns.mkString(","))
    assert(bare.head().getInt(0) == 1)
    // case-sensitive, several matches in relation order
    val multi = gw("SELECT COLUMNS('b') FROM ct")
    assert(multi.columns.toSeq == Seq("abc", "b"))
    // wrapped call: item replicated per column, named by the column
    val agg = gw("SELECT min(COLUMNS('.*')) FROM ct")
    assert(agg.columns.toSeq == Seq("abc", "b", "Axe"), agg.columns.mkString(","))
    assert(agg.head().toSeq == Seq(1, 2, 3))
    // expression context + surrounding items survive
    val mixed = gw("SELECT 'k' AS k, COLUMNS('^b$') + 10 FROM ct")
    assert(mixed.columns.toSeq == Seq("k", "b") && mixed.head().getInt(1) == 12)
    // join relation: schemas concatenate in FROM order
    spark.sql("SELECT 4 AS bz").createOrReplaceTempView("ct2")
    val joined = gw("SELECT COLUMNS('b') FROM ct JOIN ct2")
    assert(joined.columns.toSeq == Seq("abc", "b", "bz"))
    // comma cross join: DuckDB expands over the WHOLE comma join
    // (measured: COLUMNS('a|b') FROM t1, t2 yields both relations'
    // columns) — a depth-0 comma resumes table scanning, with or
    // without aliases in between
    val comma = gw("SELECT COLUMNS('b') FROM ct, ct2")
    assert(comma.columns.toSeq == Seq("abc", "b", "bz"), comma.columns.mkString(","))
    val commaAl = gw("SELECT COLUMNS('bz') FROM ct AS x, ct2 AS y")
    assert(commaAl.columns.toSeq == Seq("bz") && commaAl.head().getInt(0) == 4)
    // COLUMNS(*) = every column (measured)
    val star2 = gw("SELECT max(COLUMNS(*)) FROM ct")
    assert(star2.columns.toSeq == Seq("abc", "b", "Axe") &&
      star2.head().toSeq == Seq(1, 2, 3))
    // zero matches: DuckDB's binder error, not a silent empty list
    val ez = intercept[IllegalArgumentException](gw("SELECT COLUMNS('zz') FROM ct"))
    assert(ez.getMessage.contains("No matching columns"), ez.getMessage)
    // named bounds: non-literal arg, derived-table FROM, item alias
    val en = intercept[IllegalArgumentException](gw("SELECT COLUMNS(x) FROM ct"))
    assert(en.getMessage.contains("regex literal"), en.getMessage)
    val ed = intercept[IllegalArgumentException](
      gw("SELECT COLUMNS('a') FROM (SELECT 1 AS a)"))
    assert(ed.getMessage.contains("derived-table"), ed.getMessage)
    val ea = intercept[IllegalArgumentException](
      gw("SELECT COLUMNS('a') AS z FROM ct"))
    assert(ea.getMessage.contains("alias"), ea.getMessage)
    // subquery-level COLUMNS reduces through the query-block recursion
    val sub = gw("SELECT count(*) c FROM (SELECT COLUMNS('a') FROM ct) q")
    assert(sub.head().getLong(0) == 1L)
  }

  test("window frame EXCLUDE GROUP/TIES over ROWS and off-frame RANGE (round 15)") {
    val spark = TestSpark.spark
    // x is CONSTANT within each peer group so the per-group multiset of
    // results is independent of tie order (peer-position assignment is
    // arbitrary in both engines); rows compare sorted by (v, s, c).
    spark.sql("SELECT * FROM VALUES (1,1,3),(2,5,15),(3,10,30),(4,10,30)," +
        "(5,10,30),(6,10,30),(7,20,60),(8,25,75) AS t(i,v,x)")
      .createOrReplaceTempView("exg")
    def run(frame: String, excl: String): Seq[(Option[Long], Long, Option[Double])] = {
      val spec = s"ORDER BY v $frame EXCLUDE $excl".replaceAll("\\s+", " ")
      val q = s"SELECT SUM(x) OVER ($spec) s, COUNT(x) OVER ($spec) c, " +
        s"AVG(x) OVER ($spec) a FROM exg ORDER BY v, s NULLS FIRST, c"
      spark.sql(DuckDbDialect.rewrite(q)).collect().toSeq.map { r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      }
    }
    // goldens measured on DuckDB 1.0 over the same rows & sort
    def g(rows: (Int, Int, Double)*): Seq[(Option[Long], Long, Option[Double])] =
      rows.map { case (s, c, a) =>
        (if (c == 0) None else Some(s.toLong), c.toLong,
          if (c == 0) None else Some(a))
      }
    val N = (-1, 0, 0.0) // NULL row (sum NULL, count 0, avg NULL)
    val cases = Seq(
      ("ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING", "GROUP",
        g((15,1,15.0),(33,2,16.5),N,N,(15,1,15.0),(60,1,60.0),(105,2,52.5),(60,1,60.0))),
      ("ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING", "TIES",
        g((18,2,9.0),(48,3,16.0),(30,1,30.0),(30,1,30.0),(45,2,22.5),(90,2,45.0),(165,3,55.0),(135,2,67.5))),
      ("ROWS BETWEEN 3 PRECEDING AND 2 PRECEDING", "GROUP",
        g(N,(3,1,3.0),N,(15,1,15.0),(18,2,9.0),(18,2,9.0),(90,3,30.0),(120,3,40.0))),
      ("ROWS BETWEEN 3 PRECEDING AND 2 PRECEDING", "TIES",
        g((3,1,3.0),(18,2,9.0),(30,1,30.0),(45,2,22.5),(48,3,16.0),(48,3,16.0),(150,4,37.5),(195,4,48.75))),
      ("ROWS BETWEEN 2 FOLLOWING AND 4 FOLLOWING", "GROUP",
        g((105,4,26.25),(120,4,30.0),(60,1,60.0),(135,2,67.5),(135,2,67.5),(135,2,67.5),(75,1,75.0),N)),
      ("ROWS BETWEEN 2 FOLLOWING AND 4 FOLLOWING", "TIES",
        g((108,5,21.6),(135,5,27.0),(90,2,45.0),(165,3,55.0),(165,3,55.0),(165,3,55.0),(135,2,67.5),(75,1,75.0))),
      ("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW", "GROUP",
        g(N,(3,1,3.0),(18,2,9.0),(18,2,9.0),(18,2,9.0),(18,2,9.0),(138,6,23.0),(198,7,198.0/7))),
      ("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW", "TIES",
        g((3,1,3.0),(18,2,9.0),(48,3,16.0),(48,3,16.0),(48,3,16.0),(48,3,16.0),(198,7,198.0/7),(273,8,34.125))),
      ("ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING", "GROUP",
        g((270,7,270.0/7),(255,6,42.5),(135,2,67.5),(135,2,67.5),(135,2,67.5),(135,2,67.5),(75,1,75.0),N)),
      ("ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING", "TIES",
        g((273,8,34.125),(270,7,270.0/7),(165,3,55.0),(165,3,55.0),(165,3,55.0),(165,3,55.0),(135,2,67.5),(75,1,75.0))),
      ("ROWS 2 PRECEDING", "GROUP",
        g(N,(3,1,3.0),N,N,(15,1,15.0),(18,2,9.0),(60,2,30.0),(90,2,45.0))),
      ("ROWS 2 PRECEDING", "TIES",
        g((3,1,3.0),(18,2,9.0),(30,1,30.0),(30,1,30.0),(45,2,22.5),(48,3,16.0),(120,3,40.0),(165,3,55.0))),
      ("RANGE BETWEEN 15 PRECEDING AND 5 PRECEDING", "GROUP",
        g(N,(3,1,3.0),(18,2,9.0),(18,2,9.0),(18,2,9.0),(18,2,9.0),(135,5,27.0),(180,5,36.0))),
      ("RANGE BETWEEN 15 PRECEDING AND 5 PRECEDING", "TIES",
        g((3,1,3.0),(18,2,9.0),(48,3,16.0),(48,3,16.0),(48,3,16.0),(48,3,16.0),(195,6,32.5),(255,6,42.5))),
      ("RANGE BETWEEN 5 FOLLOWING AND 15 FOLLOWING", "GROUP",
        g((135,5,27.0),(180,5,36.0),(135,2,67.5),(135,2,67.5),(135,2,67.5),(135,2,67.5),(75,1,75.0),N)),
      ("RANGE BETWEEN 5 FOLLOWING AND 15 FOLLOWING", "TIES",
        g((138,6,23.0),(195,6,32.5),(165,3,55.0),(165,3,55.0),(165,3,55.0),(165,3,55.0),(135,2,67.5),(75,1,75.0))))
    for ((frame, excl, want) <- cases) {
      val got = run(frame, excl)
      assert(got.map(t => (t._1, t._2)) == want.map(t => (t._1, t._2)),
        s"$frame EXCLUDE $excl (sum/count)")
      got.zip(want).foreach { case ((_, _, ga), (_, _, wa)) =>
        (ga, wa) match {
          case (Some(x), Some(y)) => assert(math.abs(x - y) < 1e-9, s"$frame EXCLUDE $excl avg")
          case (a, b) => assert(a == b, s"$frame EXCLUDE $excl avg nullity")
        }
      }
    }
    // multi-token INTERVAL frame bounds (round-14 boundKind fix) run
    // end-to-end: containing RANGE frames with interval offsets +
    // EXCLUDE CURRENT ROW. DuckDB goldens over (i, d, x) =
    // (1,'01-01',10),(2,'01-03',20),(3,'01-03',5),(4,'01-07',40),
    // (5,'01-08',80): s = [NULL,15,30,NULL,40], c = [2,1,1,1,0].
    spark.sql("SELECT * FROM VALUES (1, DATE '2024-01-01', 10)," +
        "(2, DATE '2024-01-03', 20),(3, DATE '2024-01-03', 5)," +
        "(4, DATE '2024-01-07', 40),(5, DATE '2024-01-08', 80) AS t(i,d,x)")
      .createOrReplaceTempView("exiv")
    val iv = spark.sql(DuckDbDialect.rewrite(
      "SELECT i, SUM(x) OVER (ORDER BY d RANGE BETWEEN INTERVAL '3' DAY " +
        "PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) s, " +
        "COUNT(x) OVER (ORDER BY d RANGE BETWEEN CURRENT ROW AND INTERVAL '2' " +
        "DAY FOLLOWING EXCLUDE CURRENT ROW) c FROM exiv ORDER BY i")).collect()
    assert(iv.map(r => if (r.isNullAt(1)) None else Some(r.getLong(1))).toSeq
      == Seq(None, Some(15L), Some(30L), None, Some(40L)))
    assert(iv.map(_.getLong(2)).toSeq == Seq(2L, 1L, 1L, 1L, 0L))
    // GROUPS + EXCLUDE composes (the rule computes the exclusion over
    // the rank-space frame): on gft's
    // row i=4 (x=8, G3) the 1 PRECEDING..1 FOLLOWING frame is G2+G3+G4
    // = 124; EXCLUDE GROUP removes all of G3 (8+16+32) → 68
    spark.sql("SELECT * FROM VALUES (1,1,1),(2,1,2),(3,2,4),(4,3,8)," +
        "(5,3,16),(6,3,32),(7,5,64) AS t(i,o,x)").createOrReplaceTempView("gfx")
    val eg = spark.sql(DuckDbDialect.rewrite(
      "SELECT i, SUM(x) OVER (ORDER BY o GROUPS BETWEEN 1 PRECEDING AND " +
        "1 FOLLOWING EXCLUDE GROUP) s FROM gfx ORDER BY i")).collect()
    assert(eg.map(_.getAs[Number](1).longValue).toSeq
      == Seq(4L, 4L, 59L, 68L, 68L, 68L, 56L))
    // a column ROWS offset fails loudly, never silently wrong: Spark's
    // parser names it once the clause is gone
    val er = intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      SqlGateway.run(spark, "SELECT SUM(x) OVER (ORDER BY v ROWS BETWEEN i PRECEDING AND " +
        "CURRENT ROW EXCLUDE TIES) FROM exg"))
    assert(er.getMessage.contains("Frame bound value must be a literal"), er.getMessage)
    // MIN has no subtractive form — still a named reject, by the rule
    val em = intercept[IllegalArgumentException](SqlGateway.run(spark,
      "SELECT MIN(x) OVER (ORDER BY v ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) FROM exg"))
    assert(em.getMessage.contains("no decomposable rewrite"))
    // off-frame RANGE + EXCLUDE CURRENT ROW (round 15 — the last
    // frame-exclusion throw, now decomposed over mixed ROWS/RANGE
    // prefixes). DuckDB's measured extension includes the current
    // row's PEERS, so x is group-constant and rows compare sorted.
    for ((frame, want) <- Seq(
        ("RANGE BETWEEN 100 PRECEDING AND 5 PRECEDING",
          g(N,(3,1,3.0),(18,2,9.0),(48,3,16.0),(78,4,19.5),(108,5,21.6),(138,6,23.0),(198,7,198.0/7))),
        ("RANGE BETWEEN 5 FOLLOWING AND 100 FOLLOWING",
          g((270,7,270.0/7),(255,6,42.5),(135,2,67.5),(165,3,55.0),(195,4,48.75),(225,5,45.0),(75,1,75.0),N)))) {
      val got = run(frame, "CURRENT ROW")
      assert(got.map(t => (t._1, t._2)) == want.map(t => (t._1, t._2)),
        s"$frame EXCLUDE CURRENT ROW (sum/count)")
      got.zip(want).foreach { case ((_, _, ga), (_, _, wa)) =>
        (ga, wa) match {
          case (Some(x), Some(y)) => assert(math.abs(x - y) < 1e-9, s"$frame avg")
          case (a2, b2) => assert(a2 == b2, s"$frame avg nullity")
        }
      }
    }
  }

  test("USING SAMPLE rewrites to TABLESAMPLE; JOIN ... USING is untouched") {
    assert(DuckDbDialect.rewrite("SELECT * FROM t USING SAMPLE 10%")
      == "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(DuckDbDialect.rewrite("SELECT * FROM t USING SAMPLE 5 PERCENT")
      == "SELECT * FROM t TABLESAMPLE (5 PERCENT)")
    assert(DuckDbDialect.rewrite("SELECT * FROM t USING SAMPLE 50 ROWS")
      == "SELECT * FROM t TABLESAMPLE (50 ROWS)")
    // bare count defaults to rows (DuckDB semantics)
    assert(DuckDbDialect.rewrite("SELECT * FROM t USING SAMPLE 50")
      == "SELECT * FROM t TABLESAMPLE (50 ROWS)")
    // the USING of a join-condition clause must not be touched
    val ju = "SELECT * FROM a JOIN b USING (k)"
    assert(DuckDbDialect.rewrite(ju) == ju)
    // and the words inside a string literal stay verbatim
    val lit = "SELECT 'USING SAMPLE 10%' AS s"
    assert(DuckDbDialect.rewrite(lit) == lit)
    // end-to-end: the rewritten statement runs and samples
    import spark.implicits._
    (1 to 1000).toDF("v").createOrReplaceTempView("sample_t")
    val n = spark.sql(DuckDbDialect.rewrite(
      "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sample_t USING SAMPLE 100 ROWS"))
      .head().getLong(0)
    assert(n == 100)
  }

  test("3-arg time_bucket matches DuckDB's measured origin semantics") {
    // probed DuckDB 1.0 answers: 15-min buckets keep the origin's :07
    // offset (10:23 → 10:22; pre-origin 23:59 → 23:52 floors down);
    // 3-day buckets keep the 12:00 offset; 2-month buckets truncate the
    // origin to its month start (02-15 06:00 → 02-01/04-01 boundaries,
    // and 02-14 — BEFORE the origin's day — still lands in 02-01)
    val r = spark.sql(DuckDbDialect.rewrite(
      "SELECT time_bucket(INTERVAL '15 minutes', TIMESTAMP '2024-01-05 10:23:00', " +
        "TIMESTAMP '2024-01-01 00:07:00') AS a, " +
        "time_bucket(INTERVAL '15 minutes', TIMESTAMP '2023-12-31 23:59:00', " +
        "TIMESTAMP '2024-01-01 00:07:00') AS b, " +
        "time_bucket(INTERVAL '3 days', TIMESTAMP '2024-01-07 05:00:00', " +
        "TIMESTAMP '2024-01-02 12:00:00') AS c, " +
        "time_bucket(INTERVAL '2 months', TIMESTAMP '2024-05-05', " +
        "TIMESTAMP '2024-02-15 06:00:00') AS d, " +
        "time_bucket(INTERVAL '2 months', TIMESTAMP '2024-02-14', " +
        "TIMESTAMP '2024-02-15 06:00:00') AS e")).head()
    assert(r.getTimestamp(0).toString.startsWith("2024-01-05 10:22:00"))
    assert(r.getTimestamp(1).toString.startsWith("2023-12-31 23:52:00"))
    assert(r.getTimestamp(2).toString.startsWith("2024-01-05 12:00:00"))
    assert(r.getTimestamp(3).toString.startsWith("2024-04-01"))
    assert(r.getTimestamp(4).toString.startsWith("2024-02-01"))
  }

  // ---- executed through the gateway -----------------------------------

  test("the reference README demo runs as-is through the gateway") {
    // /root/reference/README.md:61-62 — the flagship NL→SQL output the
    // reference executes in DuckDB, pasted verbatim (plus its trailing
    // semicolon? the reference strips fences only, so none here)
    Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
      .createOrReplaceTempView("data_table")
    val df = SqlGateway.run(spark,
      """SELECT sales_rep, SUM(price * quantity) AS total_sales
        |FROM data_table GROUP BY sales_rep ORDER BY total_sales DESC LIMIT 1""".stripMargin)
    val row = df.collect()(0)
    assert(row.getString(0) == "王红")
    assert(math.abs(row.getDouble(1) - 7729.62) < 1e-9)
  }

  test("DuckDB-spelled date query matches the Spark-SQL spelling") {
    Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
      .createOrReplaceTempView("data_table")
    val duck = SqlGateway.run(spark,
      "SELECT strftime(sale_date, '%Y-%m') AS ym, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM data_table GROUP BY 1 ORDER BY 1").collect()
    val sparkSpelled = SqlGateway.run(spark,
      "SELECT date_format(sale_date, 'yyyy-MM') AS ym, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM data_table GROUP BY 1 ORDER BY 1").collect()
    assert(duck.toSeq == sparkSpelled.toSeq)
    assert(duck.nonEmpty)
  }

  test("integer division and epoch run end-to-end") {
    assert(one[Long]("SELECT 7 // 2") == 3L)
    // DOUBLE seconds, fractional part preserved (DuckDB epoch semantics)
    assert(one[Double]("SELECT epoch(TIMESTAMP '2024-01-01 00:00:00.25')")
      == 1704067200.25)
  }

  test("time_bucket runs end-to-end over events") {
    graft.ops.Tables.events(spark, TestSpark.Sf).createOrReplaceTempView("events")
    val n = SqlGateway.run(spark,
      "SELECT time_bucket(INTERVAL '15 minutes', ts) AS b, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM events GROUP BY 1 ORDER BY 1").count()
    assert(n > 0)
    // a 15-minute bucket start must sit on a 900-second boundary
    val misaligned = SqlGateway.run(spark,
      "SELECT CAST(COUNT(*) AS BIGINT) FROM (" +
        "SELECT time_bucket(INTERVAL '15 minutes', ts) AS b FROM events) " +
        "WHERE unix_timestamp(b) % 900 <> 0").collect()(0).getLong(0)
    assert(misaligned == 0L)
  }

  test("the structural SELECT-only gate still fires after the rewrite") {
    intercept[SecurityException] {
      SqlGateway.run(spark, "```sql\nDROP TABLE data_table\n```")
    }
  }

  test("GROUP BY ALL and ORDER BY ALL are native Spark — no shim needed") {
    Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
      .createOrReplaceTempView("data_table")
    val g = SqlGateway.run(spark,
      "SELECT sales_rep, CAST(COUNT(*) AS BIGINT) AS n FROM data_table " +
        "GROUP BY ALL ORDER BY ALL").collect()
    assert(g.nonEmpty && g.map(_.getString(0)).toSeq == g.map(_.getString(0)).toSeq.sorted)
  }

  // ---- QUALIFY ---------------------------------------------------------

  test("QUALIFY on a select-list alias wraps into a filtered subquery") {
    Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
      .createOrReplaceTempView("data_table")
    // top seller per city — the canonical DuckDB QUALIFY idiom
    val rows = SqlGateway.run(spark,
      """SELECT customer_city, sales_rep, price * quantity AS amount,
        |       ROW_NUMBER() OVER (PARTITION BY customer_city
        |                          ORDER BY price * quantity DESC, id) AS rn
        |FROM data_table QUALIFY rn = 1 ORDER BY customer_city""".stripMargin).collect()
    assert(rows.nonEmpty)
    // one row per city, and it carries rn = 1
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    assert(rows.forall(_.getAs[Int]("rn") == 1))
  }

  test("QUALIFY with an inline window expression hoists it and drops the synthetic column") {
    Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
      .createOrReplaceTempView("data_table")
    val df = SqlGateway.run(spark,
      """SELECT id, customer_city, price * quantity AS amount
        |FROM data_table
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY customer_city
        |                           ORDER BY price * quantity DESC, id) <= 2
        |ORDER BY customer_city, amount DESC""".stripMargin)
    // the synthetic __qualify_w1 column must NOT leak into the schema
    assert(df.columns.toSeq == Seq("id", "customer_city", "amount"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val perCity = rows.groupBy(_.getString(1)).values.map(_.length)
    assert(perCity.forall(_ <= 2))
  }

  test("QUALIFY equals the explicit subquery spelling") {
    Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
      .createOrReplaceTempView("data_table")
    val q = SqlGateway.run(spark,
      """SELECT sales_rep, SUM(price * quantity) AS total,
        |       RANK() OVER (ORDER BY SUM(price * quantity) DESC) AS r
        |FROM data_table GROUP BY sales_rep QUALIFY r <= 3 ORDER BY r""".stripMargin)
      .collect().toSeq
    val sub = SqlGateway.run(spark,
      """SELECT * FROM (
        |  SELECT sales_rep, SUM(price * quantity) AS total,
        |         RANK() OVER (ORDER BY SUM(price * quantity) DESC) AS r
        |  FROM data_table GROUP BY sales_rep) WHERE r <= 3 ORDER BY r""".stripMargin)
      .collect().toSeq
    assert(q == sub && q.nonEmpty)
  }

  test("QUALIFY inside a subquery rewrites the inner block (round 13)") {
    // the inner block is wrapped exactly as a top-level QUALIFY would be
    assert(DuckDbDialect.rewrite(
      "SELECT * FROM (SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS rn FROM t QUALIFY rn = 1) s")
      == "SELECT * FROM (SELECT * FROM ( SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS rn FROM t ) " +
        "__qualify WHERE rn = 1) s")
    // two independent subqueries, each carrying its own QUALIFY
    val both = DuckDbDialect.rewrite(
      "SELECT x.a FROM (SELECT a, RANK() OVER (ORDER BY a) AS r FROM t QUALIFY r <= 2) x " +
        "JOIN (SELECT b, RANK() OVER (ORDER BY b) AS r2 FROM u QUALIFY r2 <= 3) y ON x.a = y.b")
    assert(both.contains("WHERE r <= 2") && both.contains("WHERE r2 <= 3") &&
      "(?i)(?<![A-Za-z0-9_])qualify(?![A-Za-z0-9_])".r.findFirstIn(both).isEmpty)
    // nested two levels deep resolves innermost-first
    val nested = DuckDbDialect.rewrite(
      "SELECT * FROM (SELECT * FROM (SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS rn " +
        "FROM t QUALIFY rn <= 5) i QUALIFY rn <= 2) o")
    assert(nested.contains("WHERE rn <= 5") && nested.contains("WHERE rn <= 2"))
    // inline window form inside a subquery still hoists + drops synthetics
    val inl = DuckDbDialect.rewrite(
      "SELECT c FROM (SELECT a AS c FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1) s")
    assert(inl.contains("__qualify_w1") && inl.contains("EXCEPT (__qualify_w1)"))
    // set ops INSIDE the subquery block rewrite branch-locally too
    val sub = DuckDbDialect.rewrite(
      "SELECT * FROM (SELECT a, rn FROM t QUALIFY rn = 1 UNION ALL SELECT a, 1 FROM u) s")
    assert(sub.contains("WHERE rn = 1") && sub.contains("UNION ALL SELECT a, 1 FROM u"))
  }

  test("QUALIFY binds to its own branch of a set operation (round 13d — bound closed)") {
    // measured DuckDB 1.0 semantics on t(a) = {1,2,3}: QUALIFY filters
    // ONLY its branch; a trailing ORDER BY/LIMIT binds to the compound
    val spark = TestSpark.spark
    import spark.implicits._
    Seq(1, 2, 3).toDF("a").createOrReplaceTempView("qset_t")
    def rows(sql: String): Seq[(Int, Long)] =
      SqlGateway.run(spark, sql).collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // QUALIFY in the FIRST branch: golden [(1,1),(1,9),(2,9),(3,9)]
    assert(rows("SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS r FROM qset_t QUALIFY r <= 1 " +
      "UNION ALL SELECT a, CAST(9 AS BIGINT) FROM qset_t").sorted ==
      Seq((1, 1L), (1, 9L), (2, 9L), (3, 9L)))
    // QUALIFY in the LAST branch: golden multiset {(1,9),(2,9),(3,9),(1,1)}
    assert(rows("SELECT a, CAST(9 AS BIGINT) AS r FROM qset_t UNION ALL " +
      "SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS r FROM qset_t QUALIFY r <= 1").sorted ==
      Seq((1, 1L), (1, 9L), (2, 9L), (3, 9L)))
    // trailing ORDER BY/LIMIT binds to the WHOLE compound: golden
    // [(1,1),(1,9),(2,9)] (DuckDB-measured)
    assert(rows("SELECT a, CAST(9 AS BIGINT) AS r FROM qset_t UNION ALL " +
      "SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS r FROM qset_t QUALIFY r <= 1 " +
      "ORDER BY 2, 1 LIMIT 3") ==
      Seq((1, 1L), (1, 9L), (2, 9L)))
    // ...but Spark's star-exclusion EXCEPT is NOT a set operation
    assert(DuckDbDialect.rewrite(
      "SELECT * EXCEPT (b), ROW_NUMBER() OVER (ORDER BY a) AS rn FROM t QUALIFY rn = 1")
      .contains("WHERE rn = 1"))
    // the DISTINCT guard anchors to the MAIN select even under a CTE head
    val e4 = intercept[IllegalArgumentException] {
      DuckDbDialect.rewrite(
        "WITH c AS (SELECT x, y FROM t) SELECT DISTINCT x FROM c " +
          "QUALIFY ROW_NUMBER() OVER (ORDER BY y) <= 2")
    }
    assert(e4.getMessage.contains("DISTINCT"))
    // the word inside a string literal is untouched
    assert(DuckDbDialect.rewrite("SELECT 'qualify' AS w") == "SELECT 'qualify' AS w")
  }

  test("comments and double-quoted identifiers are masked from the rewrites") {
    // QUALIFY inside a line comment must not steer the clause scan
    val c1 = "SELECT a FROM t -- qualify union limit\nWHERE a > 1"
    assert(DuckDbDialect.rewrite(c1) == c1)
    // ... nor inside a block comment, and // inside a comment stays
    val c2 = "SELECT a /* b // c UNION */ FROM t"
    assert(DuckDbDialect.rewrite(c2) == c2)
    // a double-quoted identifier containing a rename target stays verbatim
    val c3 = "SELECT \"list_length\" FROM t"
    assert(DuckDbDialect.rewrite(c3) == c3)
    // but the same name as a real call still resolves
    assert(spark.sql(DuckDbDialect.rewrite("SELECT list_length(xs) FROM (SELECT array(1, 2) AS xs)"))
      .head().getInt(0) == 2)
  }

  test("star EXCEPT/EXCLUDE next to a set-op EXCEPT: each pass tells them apart") {
    // `* EXCEPT (cols)` is the star modifier, `EXCEPT [ALL] <query>` the
    // set operation; FROM-first, QUALIFY and DISTINCT ON each cut at set
    // operations, so each must keep the modifier inside its branch (and
    // GROUPS, which no longer cuts, must leave both alone)
    def flat(s: String): String = s.replace('\n', ' ')
    val cases = Seq(
      "FROM t SELECT * EXCEPT (b) WHERE a > 0 EXCEPT FROM u SELECT * EXCLUDE (b)" ->
        "SELECT * EXCEPT (b) FROM t WHERE a > 0 EXCEPT SELECT * except (b) FROM u",
      "FROM t SELECT * EXCLUDE (b) EXCEPT SELECT * EXCEPT (b) FROM u" ->
        "SELECT * except (b) FROM t EXCEPT SELECT * EXCEPT (b) FROM u",
      "SELECT * EXCEPT (b) FROM t QUALIFY ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) = 1 " +
        "EXCEPT SELECT * EXCLUDE (b) FROM u" ->
        ("SELECT * EXCEPT (__qualify_w1) FROM ( SELECT * EXCEPT (b) , ROW_NUMBER() OVER " +
          "(PARTITION BY a ORDER BY b) AS __qualify_w1 FROM t ) __qualify WHERE " +
          "__qualify_w1 = 1 EXCEPT SELECT * except (b) FROM u"),
      "SELECT * EXCLUDE (b) FROM t EXCEPT SELECT * EXCEPT (b) FROM u " +
        "QUALIFY SUM(a) OVER (ORDER BY a) > 2 ORDER BY a" ->
        ("SELECT * except (b) FROM t EXCEPT SELECT * EXCEPT (__qualify_w1) FROM ( " +
          "SELECT * EXCEPT (b) , SUM(a) OVER (ORDER BY a) AS __qualify_w1 FROM u ) " +
          "__qualify WHERE __qualify_w1 > 2 ORDER BY a"),
      "SELECT * EXCEPT (b), SUM(a) OVER (ORDER BY a GROUPS BETWEEN 1 PRECEDING AND " +
        "CURRENT ROW) AS s FROM t EXCEPT SELECT * EXCLUDE (b), 0 AS s FROM u" ->
        ("SELECT * EXCEPT (b), SUM(a) OVER (PARTITION BY graft_groups_frame() ORDER BY " +
          "a ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM t EXCEPT SELECT * " +
          "except (b), 0 AS s FROM u"),
      "SELECT * EXCLUDE (b) FROM u EXCEPT ALL SELECT * EXCEPT (b), SUM(a) OVER " +
        "(ORDER BY a GROUPS 1 PRECEDING) AS s FROM t" ->
        ("SELECT * except (b) FROM u EXCEPT ALL SELECT * EXCEPT (b), SUM(a) OVER " +
          "(PARTITION BY graft_groups_frame() ORDER BY a ROWS 1 PRECEDING) AS s FROM t"),
      "SELECT DISTINCT ON (a) * FROM t ORDER BY a, b" ->
        ("SELECT * EXCEPT (__don_rn) FROM ( SELECT *, ROW_NUMBER() OVER (PARTITION BY " +
          "a ORDER BY a, b) AS __don_rn FROM t ) __don WHERE __don_rn = 1 ORDER BY a, b"))
    cases.foreach { case (in, out) => assert(flat(DuckDbDialect.rewrite(in)) == out, in) }
    // DISTINCT ON refuses a set operation, but not a star modifier
    val e = intercept[IllegalArgumentException](DuckDbDialect.rewrite(
      "SELECT DISTINCT ON (a) * EXCEPT (b) FROM t EXCEPT SELECT * EXCEPT (b) FROM u ORDER BY a"))
    assert(e.getMessage == "DISTINCT ON combined with GROUP BY/HAVING/QUALIFY/set " +
      "operations is outside the shim's bounded support")
  }

  // ---- * REPLACE -------------------------------------------------------

  test("star REPLACE rewrites to EXCEPT + trailing projection") {
    assert(DuckDbDialect.rewrite("SELECT * REPLACE (price * 2 AS price) FROM t")
      == "SELECT * EXCEPT (price), price * 2 AS price FROM t")
    assert(DuckDbDialect.rewrite(
      "SELECT * REPLACE (a + 1 AS a, UPPER(b) AS b) FROM t WHERE a > 0")
      == "SELECT * EXCEPT (a, b), a + 1 AS a, UPPER(b) AS b FROM t WHERE a > 0")
    // multiplication by the REPLACE() scalar function is NOT a modifier
    val mul = "SELECT price * REPLACE(name, 'a', 'b') FROM t"
    assert(DuckDbDialect.rewrite(mul) == mul)
    // and the scalar function alone is untouched
    val fn = "SELECT REPLACE(name, 'a', 'b') AS n FROM t"
    assert(DuckDbDialect.rewrite(fn) == fn)
  }

  test("star EXCLUDE + REPLACE chain merges into one EXCEPT") {
    assert(DuckDbDialect.rewrite(
      "SELECT * EXCLUDE (sk) REPLACE (price * 2 AS price) FROM t")
      == "SELECT * EXCEPT (sk, price), price * 2 AS price FROM t")
    // multiple exclusions and replacements, with a WHERE tail
    assert(DuckDbDialect.rewrite(
      "SELECT * EXCLUDE (a, b) REPLACE (c + 1 AS c, UPPER(d) AS d) FROM t WHERE c > 0")
      == "SELECT * EXCEPT (a, b, c, d), c + 1 AS c, UPPER(d) AS d FROM t WHERE c > 0")
    // Spark's EXCEPT spelling chains the same way
    assert(DuckDbDialect.rewrite(
      "SELECT * EXCEPT (a) REPLACE (b * 2 AS b) FROM t")
      == "SELECT * EXCEPT (a, b), b * 2 AS b FROM t")
    // a parenthesized multiplication by REPLACE() is still arithmetic:
    // the keyword before the paren group is not EXCLUDE/EXCEPT
    val mul2 = "SELECT (a + b) * REPLACE(name, 'a', 'b') FROM t"
    assert(DuckDbDialect.rewrite(mul2) == mul2)
  }

  test("star EXCLUDE + REPLACE chain runs end-to-end") {
    Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
      .createOrReplaceTempView("data_table")
    val df = SqlGateway.run(spark,
      "SELECT * EXCLUDE (category) REPLACE (price * 10 AS price) " +
        "FROM data_table ORDER BY id LIMIT 3")
    val plain = SqlGateway.run(spark,
      "SELECT * FROM data_table ORDER BY id LIMIT 3")
    assert(df.columns.sorted.toSeq ==
      plain.columns.filterNot(_ == "category").sorted.toSeq)
    val byId = plain.collect().map(r => r.getAs[Int]("id") -> r.getAs[Double]("price")).toMap
    df.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("price") - byId(r.getAs[Int]("id")) * 10) < 1e-9)
    }
  }

  test("star REPLACE runs end-to-end with replaced values") {
    Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
      .createOrReplaceTempView("data_table")
    val df = SqlGateway.run(spark,
      "SELECT * REPLACE (price * 10 AS price) FROM data_table ORDER BY id LIMIT 3")
    // same column SET as the table (order differs — documented bound)
    val plain = SqlGateway.run(spark,
      "SELECT * FROM data_table ORDER BY id LIMIT 3")
    assert(df.columns.sorted.toSeq == plain.columns.sorted.toSeq)
    val byId = plain.collect().map(r => r.getAs[Int]("id") -> r.getAs[Double]("price")).toMap
    df.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("price") - byId(r.getAs[Int]("id")) * 10) < 1e-9)
    }
  }

  // ---- DISTINCT ON -----------------------------------------------------

  test("DISTINCT ON rewrites to the window formulation") {
    val out = DuckDbDialect.rewrite(
      "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, ts DESC")
    assert(out.contains("ROW_NUMBER() OVER (PARTITION BY k ORDER BY k, ts DESC)"), out)
    assert(out.contains("WHERE __don_rn = 1 ORDER BY k, ts DESC"), out)
    // bare * never leaks the synthetic rank
    val star = DuckDbDialect.rewrite("SELECT DISTINCT ON (k) * FROM t ORDER BY k, ts DESC")
    assert(star.contains("SELECT * EXCEPT (__don_rn) FROM"), star)
    // nor does a star that already carries an EXCEPT/EXCLUDE list
    val except = DuckDbDialect.rewrite("SELECT DISTINCT ON (a) * EXCEPT (b) FROM t ORDER BY a, b")
    assert(except.startsWith("SELECT * EXCEPT (b, __don_rn) FROM ( SELECT *,"), except)
    val exclude = DuckDbDialect.rewrite("SELECT DISTINCT ON (a) * EXCLUDE (b) FROM t ORDER BY a, b")
    assert(exclude.startsWith("SELECT * except (b, __don_rn) FROM ( SELECT *,"), exclude)
    // plain DISTINCT (no ON) is untouched
    val plain = "SELECT DISTINCT k FROM t ORDER BY k"
    assert(DuckDbDialect.rewrite(plain) == plain)
    // and a column merely NAMED "on" is untouched too
    val named = "SELECT DISTINCT only_col FROM t ORDER BY only_col"
    assert(DuckDbDialect.rewrite(named) == named)
  }

  test("DISTINCT ON bounds fail loudly") {
    val e1 = intercept[IllegalArgumentException] {
      DuckDbDialect.rewrite("SELECT DISTINCT ON (k) v FROM t")
    }
    assert(e1.getMessage.contains("ORDER BY"))
    val e2 = intercept[IllegalArgumentException] {
      DuckDbDialect.rewrite("SELECT DISTINCT ON (k) v FROM t GROUP BY k ORDER BY k")
    }
    assert(e2.getMessage.contains("bounded support"))
    val e3 = intercept[IllegalArgumentException] {
      DuckDbDialect.rewrite(
        "SELECT x FROM (SELECT DISTINCT ON (k) k AS x FROM t ORDER BY k, v) s")
    }
    assert(e3.getMessage.contains("subquery"))
    val e4 = intercept[IllegalArgumentException] {
      DuckDbDialect.rewrite("SELECT DISTINCT ON (k) v FROM t ORDER BY 1, 2")
    }
    assert(e4.getMessage.contains("ordinal"))
  }

  test("DISTINCT ON matches DuckDB semantics end-to-end") {
    import spark.implicits._
    Seq((1, "a", 10), (2, "a", 30), (3, "a", 20), (4, "b", 5))
      .toDF("id", "k", "v").createOrReplaceTempView("don_t")
    // top row per k under ORDER BY k, v DESC → a picks id2 (v=30), b picks id4
    val rows = SqlGateway.run(spark,
      "SELECT DISTINCT ON (k) k, id, v FROM don_t ORDER BY k, v DESC").collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
      == Seq(("a", 2, 30), ("b", 4, 5)))
  }

  // ---- ASOF JOIN -------------------------------------------------------

  test("ASOF JOIN rewrites to the domain-join + window formulation") {
    val out = DuckDbDialect.rewrite(
      "SELECT a.id, b.v FROM ticks a ASOF JOIN quotes b ON b.k = a.k AND a.ts >= b.ts")
    // distinct left-domain, equi-join to the right, rank-1 per domain tuple
    assert(out.contains("SELECT DISTINCT a.k AS __asof_c1, a.ts AS __asof_t FROM ticks a"), out)
    assert(out.contains("JOIN quotes b ON b.k = d.__asof_c1 AND d.__asof_t >= b.ts"), out)
    assert(out.contains("ORDER BY b.ts DESC NULLS LAST) AS __asof_rn"), out)
    assert(out.contains("WHERE __asof_rn = 1"), out)
    // the equi-join back to the outer left row
    assert(out.contains("ON b.__asof_c1 = a.k AND b.__asof_t = a.ts"), out)
    assert(!out.contains("LATERAL"), out)
    val left = DuckDbDialect.rewrite(
      "SELECT a.id, b.v FROM ticks a ASOF LEFT JOIN quotes b ON b.k = a.k AND a.ts >= b.ts")
    assert(left.contains("LEFT JOIN ( SELECT"), left)
    // flipped inequality side and direction: right >= outer → earliest ≥ → ASC
    val fwd = DuckDbDialect.rewrite(
      "SELECT a.id FROM ticks a ASOF JOIN quotes b ON b.k = a.k AND b.ts >= a.ts")
    assert(fwd.contains("ORDER BY b.ts ASC NULLS FIRST) AS __asof_rn"), fwd)
    assert(fwd.contains("d.__asof_t <= b.ts"), fwd)
  }

  test("ASOF JOIN accepts an aliased subquery right side") {
    val out = DuckDbDialect.rewrite(
      "SELECT a.id, b.v FROM ticks a ASOF JOIN " +
        "(SELECT k, ts, v FROM quotes WHERE v > 0) b ON b.k = a.k AND a.ts >= b.ts")
    // the derived table drops into the domain join verbatim
    assert(out.contains("JOIN (SELECT k, ts, v FROM quotes WHERE v > 0) b ON"), out)
    assert(out.contains("ROW_NUMBER() OVER"), out)
    assert(!out.toUpperCase.contains("ASOF JOIN"), out)
  }

  test("ASOF JOIN bounds fail loudly") {
    val e1 = intercept[IllegalArgumentException] {
      // a subquery right side WITHOUT an alias has no name for ON to reference
      DuckDbDialect.rewrite("SELECT 1 FROM a ASOF JOIN (SELECT * FROM q) ON k = a.k AND a.t >= t")
    }
    assert(e1.getMessage.contains("alias"))
    val e2 = intercept[IllegalArgumentException] {
      DuckDbDialect.rewrite("SELECT 1 FROM a ASOF JOIN q b ON b.k = a.k")
    }
    assert(e2.getMessage.contains("exactly one inequality"))
    val e3 = intercept[IllegalArgumentException] {
      DuckDbDialect.rewrite("SELECT 1 FROM a ASOF JOIN q b ON a.t >= b.t AND a.u <= b.u")
    }
    assert(e3.getMessage.contains("inequality"))
    // a bare * select list would surface the synthetic __asof_ columns
    val e4 = intercept[IllegalArgumentException] {
      DuckDbDialect.rewrite(
        "SELECT * FROM ticks a ASOF JOIN quotes b ON b.k = a.k AND a.ts >= b.ts")
    }
    assert(e4.getMessage.contains("__asof_"))
    // ...but multiplication in the select list is not a star
    DuckDbDialect.rewrite(
      "SELECT a.x * 2 AS y FROM ticks a ASOF JOIN quotes b ON b.k = a.k AND a.ts >= b.ts")
    // a multi-join left side is refused, not mis-rewritten
    val e5 = intercept[IllegalArgumentException] {
      DuckDbDialect.rewrite("SELECT a.x FROM t1 x JOIN t2 a ON a.i = x.i " +
        "ASOF JOIN quotes b ON b.k = a.k AND a.ts >= b.ts")
    }
    assert(e5.getMessage.toLowerCase.contains("bounded support"))
    // 'asof' inside a string literal is untouched
    assert(DuckDbDialect.rewrite("SELECT 'asof join' AS w") == "SELECT 'asof join' AS w")
  }

  test("ASOF rewrite decorrelates to a join, never a per-row nested loop") {
    // the scale question: Catalyst must decorrelate the LIMIT-1 lateral
    // (DecorrelateInnerQuery → ranked window over a regular join); a
    // BroadcastNestedLoopJoin/CartesianProduct here would be O(n·m) and
    // disqualify the rewrite at any real size
    import graft.ops.Tables
    Seq("lineitem", "orders").foreach { t =>
      Tables.t(spark, TestSpark.Sf, t).createOrReplaceTempView(t)
    }
    for (variant <- Seq("ASOF JOIN", "ASOF LEFT JOIN")) {
      val sql = DuckDbDialect.rewrite(
        s"SELECT a.l_orderkey AS k, b.o_totalprice AS v FROM lineitem a $variant orders b " +
          "ON b.o_orderkey = a.l_orderkey AND a.l_shipdate >= b.o_orderdate")
      val plan = spark.sql(sql).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$variant planned a nested loop:\n$plan")
    }
  }

  test("ASOF JOIN matches the AsOf operator end-to-end") {
    import spark.implicits._
    Seq((1, "k", "2024-01-01 00:00:05"), (2, "k", "2024-01-01 00:00:02"),
        (3, "k", "2024-01-01 00:00:00"), (4, "z", "2024-01-01 00:00:10"))
      .toDF("id", "k", "ts")
      .selectExpr("id", "k", "CAST(ts AS TIMESTAMP) AS ts")
      .createOrReplaceTempView("asof_l")
    Seq(("k", "2024-01-01 00:00:01", 10.0), ("k", "2024-01-01 00:00:04", 20.0),
        ("q", "2024-01-01 00:00:00", 99.0))
      .toDF("k", "ts", "v")
      .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v")
      .createOrReplaceTempView("asof_r")
    val rows = SqlGateway.run(spark,
      "SELECT a.id, b.v FROM asof_l a ASOF LEFT JOIN asof_r b " +
        "ON b.k = a.k AND a.ts >= b.ts ORDER BY a.id").collect()
    // id1@5s→20.0 (latest ≤5s), id2@2s→10.0, id3@0s→no match (NULL), id4 key z→NULL
    assert(rows.map(r => (r.getInt(0), Option(r.get(1)))).toSeq == Seq(
      (1, Some(20.0)), (2, Some(10.0)), (3, None), (4, None)))
    // inner variant drops the unmatched rows
    val inner = SqlGateway.run(spark,
      "SELECT a.id, b.v FROM asof_l a ASOF JOIN asof_r b " +
        "ON b.k = a.k AND a.ts >= b.ts ORDER BY a.id").collect()
    assert(inner.map(_.getInt(0)).toSeq == Seq(1, 2))
    // subquery right side: prefiltering to v <= 10 leaves only the
    // 00:00:01/10.0 quote, so both matching rows now take it
    val sub = SqlGateway.run(spark,
      "SELECT a.id, b.v FROM asof_l a ASOF JOIN " +
        "(SELECT k, ts, v FROM asof_r WHERE v <= 10) b " +
        "ON b.k = a.k AND a.ts >= b.ts ORDER BY a.id").collect()
    assert(sub.map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((1, 10.0), (2, 10.0)))
  }

  test("SIMILAR TO rewrites to anchored RLIKE (DuckDB 1.0 measured semantics)") {
    // anchored pass-through — DuckDB 1.0 does NOT translate %/_ (its
    // docs say otherwise; the engine is the oracle, measured in the
    // shim's scaladoc)
    assert(DuckDbDialect.rewrite("SELECT * FROM t WHERE c SIMILAR TO 'ab.*'")
      == "SELECT * FROM t WHERE c rlike '^(?:ab.*)$'")
    assert(DuckDbDialect.rewrite("SELECT * FROM t WHERE c NOT SIMILAR TO '(a|b).'")
      == "SELECT * FROM t WHERE c not rlike '^(?:(a|b).)$'")
    // backslash escapes survive Spark's escaping string-literal parser
    assert(DuckDbDialect.rewrite("SELECT 1 WHERE x SIMILAR TO 'a\\.c'")
      == "SELECT 1 WHERE x rlike '^(?:a\\\\.c)$'")
    // keyword inside a string literal is untouched
    val lit = "SELECT 'x SIMILAR TO y' AS s FROM t"
    assert(DuckDbDialect.rewrite(lit) == lit)
    // ESCAPE clause is a documented bound
    intercept[IllegalArgumentException](
      DuckDbDialect.rewrite("SELECT * FROM t WHERE c SIMILAR TO 'a%' ESCAPE '!'"))
    // end-to-end through Spark, pinned against DuckDB 1.0 goldens:
    // 'a(.|x)c' matches abc/a.c/axc (regex dot IS a wildcard there);
    // escaped \. matches only the literal dot; NOT RLIKE parses in
    // Spark 4
    val spark = TestSpark.spark
    import spark.implicits._
    Seq("abc", "a.c", "axc", "ab").toDF("s").createOrReplaceTempView("simto")
    val got = SqlGateway.run(spark,
      "SELECT s FROM simto WHERE s SIMILAR TO 'a(.|x)c' ORDER BY s").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a.c", "abc", "axc"))
    val esc = SqlGateway.run(spark,
      "SELECT s FROM simto WHERE s SIMILAR TO 'a\\.c' ORDER BY s").collect()
    assert(esc.map(_.getString(0)).toSeq == Seq("a.c"))
    val neg = SqlGateway.run(spark,
      "SELECT s FROM simto WHERE s NOT SIMILAR TO 'a.c' ORDER BY s").collect()
    assert(neg.map(_.getString(0)).toSeq == Seq("ab"))
  }

  test("in-paren IGNORE NULLS hoists to Spark's trailing position") {
    // DuckDB parses the modifier only INSIDE the call parens; Spark only
    // trailing — both measured (shim scaladoc). The OVER lookahead pins
    // the rewrite to window calls.
    assert(DuckDbDialect.rewrite(
      "SELECT last_value(x IGNORE NULLS) OVER (ORDER BY k) FROM t")
      == "SELECT last_value(x) IGNORE NULLS OVER (ORDER BY k) FROM t")
    assert(DuckDbDialect.rewrite(
      "SELECT lag(x, 1 IGNORE NULLS) OVER (PARTITION BY p ORDER BY k) FROM t")
      == "SELECT lag(x, 1) IGNORE NULLS OVER (PARTITION BY p ORDER BY k) FROM t")
    assert(DuckDbDialect.rewrite(
      "SELECT nth_value(x, 2 respect nulls) OVER (ORDER BY k) FROM t")
      == "SELECT nth_value(x, 2) RESPECT NULLS OVER (ORDER BY k) FROM t")
    // nested call in the argument: the rewrite anchors on the CLOSING
    // paren before OVER, not the first one
    assert(DuckDbDialect.rewrite(
      "SELECT first_value(coalesce(x, y) IGNORE NULLS) OVER (ORDER BY k) FROM t")
      == "SELECT first_value(coalesce(x, y)) IGNORE NULLS OVER (ORDER BY k) FROM t")
    // no OVER → not a window call → untouched (and a string literal too)
    val lit = "SELECT 'a IGNORE NULLS) OVER' AS s FROM t"
    assert(DuckDbDialect.rewrite(lit) == lit)
    // Spark-style input (already trailing) passes through byte-identical
    val sparkStyle = "SELECT last_value(x) IGNORE NULLS OVER (ORDER BY k) FROM t"
    assert(DuckDbDialect.rewrite(sparkStyle) == sparkStyle)
    // end-to-end: skip back over a NULL, pinned against the DuckDB
    // golden [(1,10),(2,10),(3,30)] measured for this exact frame
    val spark = TestSpark.spark
    import spark.implicits._
    Seq((1, Some(10)), (2, None: Option[Int]), (3, Some(30)))
      .toDF("a", "b").createOrReplaceTempView("ign")
    val got = SqlGateway.run(spark,
      "SELECT a, last_value(b IGNORE NULLS) OVER (ORDER BY a " +
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS lv FROM ign ORDER BY a")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(got.toSeq == Seq((1, 10), (2, 10), (3, 30)))
  }

  test("window frame EXCLUDE CURRENT ROW rewrites to the frame-minus-current form") {
    // end-to-end against DuckDB 1.0 goldens measured on
    // t(a,b) = (1,10),(2,NULL),(3,30),(4,40); every case below was run
    // verbatim in DuckDB and the expected rows copied from its output
    val spark = TestSpark.spark
    import spark.implicits._
    Seq((1, Some(10)), (2, None: Option[Int]), (3, Some(30)), (4, Some(40)))
      .toDF("a", "b").createOrReplaceTempView("exc")
    def run(sel: String): Seq[Any] =
      SqlGateway.run(spark, s"SELECT $sel AS v FROM exc ORDER BY a")
        .collect().map(r => if (r.isNullAt(0)) null else r.get(0)).toSeq
    // SUM: golden [NULL, 40, 40, 30] (NULL when no other non-null remains)
    assert(run("SUM(b) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      "EXCLUDE CURRENT ROW)").map(v => Option(v).map(_.toString.toLong))
      == Seq(None, Some(40L), Some(40L), Some(30L)))
    // single-row frame → empty after exclusion → all NULL
    assert(run("SUM(b) OVER (ORDER BY a ROWS BETWEEN CURRENT ROW AND CURRENT ROW " +
      "EXCLUDE CURRENT ROW)").forall(_ == null))
    // COUNT(x): golden [0, 1, 0, 1]
    assert(run("COUNT(b) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND CURRENT ROW " +
      "EXCLUDE CURRENT ROW)").map(_.toString.toLong) == Seq(0L, 1L, 0L, 1L))
    // AVG: golden [NULL, 20.0, 40.0, 30.0]
    assert(run("AVG(b) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      "EXCLUDE CURRENT ROW)").map(v => Option(v).map(_.toString.toDouble))
      == Seq(None, Some(20.0), Some(40.0), Some(30.0)))
    // current row not in frame: DuckDB 1.0's exclusion is NOT the ANSI
    // no-op — its segment arithmetic extends the near bound to the row
    // adjacent to current (measured; found by the dexc fuzz kind, seed
    // 8282). Goldens [NULL, 10, 10, 40] and [70, 70, 40, NULL]; the ANSI
    // frames would give [NULL, NULL, 10, 10] and [70, 40, NULL, NULL]
    def longs(sel: String) = run(sel).map(v => Option(v).map(_.toString.toLong))
    assert(longs("SUM(b) OVER (ORDER BY a ROWS BETWEEN 3 PRECEDING AND 2 PRECEDING " +
      "EXCLUDE CURRENT ROW)") == Seq(None, Some(10L), Some(10L), Some(40L)))
    assert(longs("SUM(b) OVER (ORDER BY a ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING " +
      "EXCLUDE CURRENT ROW)") == Seq(Some(70L), Some(70L), Some(40L), None))
    // EXCLUDE NO OTHERS is the ANSI no-op spelling: golden [2, 3, 3, 2]
    assert(longs("COUNT(*) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      "EXCLUDE NO OTHERS)").flatten == Seq(2L, 3L, 3L, 2L))
    // ROWS + GROUP/TIES decompose (segment algebra — see the round-15
    // EXCLUDE test): golden [10, 40, 70, 70]
    assert(longs("SUM(b) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      "EXCLUDE TIES)").flatten == Seq(10L, 40L, 70L, 70L))
    // documented bound fails loudly: MIN has no decomposition
    val em = intercept[IllegalArgumentException](run("MIN(b) OVER (ORDER BY a ROWS " +
      "BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)"))
    assert(em.getMessage.contains("no decomposable rewrite"), em.getMessage)
    // off-frame RANGE exclusion extends in row space too: golden
    // [NULL, 10, 10, 40] (the ANSI frame gives [NULL, NULL, 10, 10])
    assert(longs("SUM(b) OVER (ORDER BY a RANGE BETWEEN 100 PRECEDING AND 2 PRECEDING " +
      "EXCLUDE CURRENT ROW)") == Seq(None, Some(10L), Some(10L), Some(40L)))
    // multi-token INTERVAL bounds, off-frame and containing the current
    // row (round-13 advice: an INTERVAL offset ending before the current
    // row must not take the subtraction). DuckDB goldens over (a, d, b)
    // = (1,'01-01',10),(2,'01-03',20),(3,'01-04',30),(4,'01-07',40),
    // (5,'01-08',NULL): [NULL, 10, 30, 50, 90] for both frames (the
    // off-frame ANSI frame gives [NULL, 10, 10, 50, 50])
    spark.sql("SELECT * FROM VALUES (1, DATE '2024-01-01', 10), (2, DATE '2024-01-03', 20), " +
      "(3, DATE '2024-01-04', 30), (4, DATE '2024-01-07', 40), " +
      "(5, DATE '2024-01-08', CAST(NULL AS INT)) AS t(a, d, b)").createOrReplaceTempView("excd")
    for (frame <- Seq("INTERVAL '5' DAY PRECEDING AND INTERVAL '2' DAY PRECEDING",
        "INTERVAL '5' DAY PRECEDING AND CURRENT ROW"))
      assert(SqlGateway.run(spark, s"SELECT SUM(b) OVER (ORDER BY d RANGE BETWEEN $frame " +
        "EXCLUDE CURRENT ROW) AS v FROM excd ORDER BY a").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
        == Seq(None, Some(10L), Some(30L), Some(50L), Some(90L)), frame)
    // star EXCLUDE is untouched by the frame pass (no OVER context)
    assert(DuckDbDialect.rewrite("SELECT * EXCLUDE (b) FROM t")
      == "SELECT * except (b) FROM t")
  }

  test("window frame EXCLUDE reaches Catalyst as a marked frame") {
    // only the frame clause and the partition marker change; the rule
    // computes the exclusion on the analyzed plan
    Seq(
      ("SELECT SUM(b) OVER (ORDER BY a ROWS BETWEEN 3 PRECEDING AND 2 PRECEDING " +
        "EXCLUDE CURRENT ROW) FROM t",
        "SELECT SUM(b) OVER (PARTITION BY graft_frame_exclude('current row') ORDER BY a " +
          "ROWS BETWEEN 3 PRECEDING AND 2 PRECEDING) FROM t"),
      ("SELECT COUNT(*) OVER (PARTITION BY g ORDER BY d RANGE BETWEEN 1 PRECEDING AND " +
        "1 FOLLOWING EXCLUDE GROUP) c FROM t",
        "SELECT COUNT(*) OVER (PARTITION BY graft_frame_exclude('group'), g ORDER BY d " +
          "RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) c FROM t"),
      ("SELECT SUM(b) OVER w FROM t WINDOW w AS (ORDER BY a ROWS 1 PRECEDING EXCLUDE TIES)",
        "SELECT SUM(b) OVER w FROM t WINDOW w AS (PARTITION BY graft_frame_exclude('ties') " +
          "ORDER BY a ROWS 1 PRECEDING)"),
      ("SELECT SUM(x) OVER (ORDER BY o GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW " +
        "EXCLUDE GROUP) FROM t",
        "SELECT SUM(x) OVER (PARTITION BY graft_frame_exclude('group'), graft_groups_frame() " +
          "ORDER BY o ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t"),
      ("SELECT AVG(b) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
        "EXCLUDE NO OTHERS) FROM t",
        "SELECT AVG(b) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) FROM t")
    ).foreach { case (in, out) => assert(DuckDbDialect.rewrite(in) == out) }
  }

  test("window frame EXCLUDE in a named WINDOW definition") {
    val spark = TestSpark.spark
    import spark.implicits._
    Seq((1, Some(10)), (2, None: Option[Int]), (3, Some(30)), (4, Some(40)))
      .toDF("a", "b").createOrReplaceTempView("exc")
    // DuckDB 1.0 golden: [NULL, 40, 40, 30], as for the inline spec
    val got = SqlGateway.run(spark, "SELECT SUM(b) OVER w AS v FROM exc WINDOW w AS " +
      "(ORDER BY a ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) ORDER BY a")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(got == Seq(None, Some(40L), Some(40L), Some(30L)))
  }

  test("window frame EXCLUDE over a FILTERed aggregate") {
    val spark = TestSpark.spark
    import spark.implicits._
    Seq((1, Some(10)), (2, None: Option[Int]), (3, Some(30)), (4, Some(40)))
      .toDF("a", "b").createOrReplaceTempView("exc")
    def run(fn: String): Seq[Option[String]] = SqlGateway.run(spark,
      s"SELECT $fn FILTER (WHERE b > 10) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND " +
        "1 FOLLOWING EXCLUDE CURRENT ROW) AS v FROM exc ORDER BY a")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.get(0).toString)).toSeq
    // DuckDB 1.0 goldens: the filter drops b = 10 from every frame and
    // from the current-row term
    assert(run("SUM(b)") == Seq(None, Some("30"), Some("40"), Some("30")))
    assert(run("COUNT(*)") == Seq(Some("0"), Some("1"), Some("1"), Some("1")))
    assert(run("AVG(b)") == Seq(None, Some("30.0"), Some("40.0"), Some("30.0")))
  }

  test("window frame EXCLUDE GROUP/TIES decompose over RANGE frames (round 13d)") {
    // goldens measured on DuckDB 1.0 over
    // t(k,d,b) = (1,1,10),(2,2,20),(3,2,NULL),(4,2,25),(5,3,30) —
    // d=2 is a 3-row peer group with one NULL value inside it
    val spark = TestSpark.spark
    import spark.implicits._
    Seq((1, 1, Some(10)), (2, 2, Some(20)), (3, 2, None: Option[Int]),
        (4, 2, Some(25)), (5, 3, Some(30)))
      .toDF("k", "d", "b").createOrReplaceTempView("excg")
    def rows(expr: String): Seq[Any] =
      SqlGateway.run(spark, s"SELECT $expr AS v FROM excg ORDER BY k")
        .collect().map(r => if (r.isNullAt(0)) null else r.get(0)).toSeq
    val cum = "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    // SUM GROUP: [NULL, 10, 10, 10, 55]
    assert(rows(s"SUM(b) OVER (ORDER BY d $cum EXCLUDE GROUP)")
      .map(Option(_).map(_.toString.toLong)) ==
      Seq(None, Some(10L), Some(10L), Some(10L), Some(55L)))
    // SUM TIES (keeps current): [10, 30, 10, 35, 85]
    assert(rows(s"SUM(b) OVER (ORDER BY d $cum EXCLUDE TIES)")
      .map(_.toString.toLong) == Seq(10L, 30L, 10L, 35L, 85L))
    // COUNT(b) GROUP: [0, 1, 1, 1, 3]; COUNT(*) TIES: [1, 2, 2, 2, 5]
    assert(rows(s"COUNT(b) OVER (ORDER BY d $cum EXCLUDE GROUP)")
      .map(_.toString.toLong) == Seq(0L, 1L, 1L, 1L, 3L))
    assert(rows(s"COUNT(*) OVER (ORDER BY d $cum EXCLUDE TIES)")
      .map(_.toString.toLong) == Seq(1L, 2L, 2L, 2L, 5L))
    // AVG GROUP: [NULL, 10.0, 10.0, 10.0, 55/3]
    val avg = rows(s"AVG(b) OVER (ORDER BY d $cum EXCLUDE GROUP)")
      .map(Option(_).map(_.toString.toDouble))
    assert(avg.head.isEmpty && avg(1).contains(10.0) &&
      math.abs(avg(4).get - 55.0 / 3) < 1e-9)
    // value-offset RANGE frame: golden [45, 40, 40, 40, 45]
    assert(rows("SUM(b) OVER (ORDER BY d RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      "EXCLUDE GROUP)").map(_.toString.toLong) == Seq(45L, 40L, 40L, 40L, 45L))
    // frame == peer group → empty remainder → all NULL
    assert(rows("SUM(b) OVER (ORDER BY d RANGE BETWEEN CURRENT ROW AND CURRENT ROW " +
      "EXCLUDE GROUP)").forall(_ == null))
    // GROUP/TIES without an explicit frame throws (DuckDB itself
    // requires the frame clause before an exclusion)
    intercept[IllegalArgumentException](DuckDbDialect.rewrite(
      "SELECT SUM(b) OVER (ORDER BY d EXCLUDE GROUP) FROM t"))
  }

  test("GROUPS round-20: multi-relation qualified star resolves through the gateway schema") {
    val spark = TestSpark.spark
    spark.sql("SELECT * FROM VALUES (1,1,1),(2,1,2),(3,2,4),(4,3,8)," +
      "(5,3,16),(6,3,32),(7,5,64) AS t(i,o,x)").createOrReplaceTempView("gft")
    spark.sql("SELECT * FROM VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d'),(5,'e')," +
      "(6,'f'),(7,'g') AS t(ref,tag)").createOrReplaceTempView("gfr")
    val once = Seq(3L, 3L, 7L, 60L, 60L, 60L, 120L)
    // a.* over a TWO-relation FROM through the gateway: the star is
    // gft's columns, qualified references (the window args and the ORDER
    // BY tail) resolve as in any query, and the goldens match the
    // single-relation form's
    val qs = engine.SqlGateway.run(spark,
      "SELECT a.*, CAST(SUM(a.x) OVER (ORDER BY a.o GROUPS 1 PRECEDING) " +
        "AS BIGINT) AS s FROM gft a JOIN gfr b ON a.i = b.ref ORDER BY a.i")
    assert(qs.columns.toSeq == Seq("i", "o", "x", "s"))
    assert(qs.collect().map(_.getAs[Number]("s").longValue).toSeq == once)
    // mixed qualified references from BOTH relations, no star
    val mixed = engine.SqlGateway.run(spark,
      "SELECT a.i, b.tag, CAST(SUM(a.x) OVER (ORDER BY a.o GROUPS 1 " +
        "PRECEDING) AS BIGINT) AS s FROM gft a JOIN gfr b ON a.i = b.ref " +
        "ORDER BY a.i")
    assert(mixed.columns.toSeq == Seq("i", "tag", "s"))
    assert(mixed.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d", 5 -> "e", 6 -> "f", 7 -> "g"))
    // a self-join, where every gft column name is shared by both sides:
    // a.* is still a's columns (i is unique, so the join is 1:1)
    def byI(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      assert(df.columns.toSeq == Seq("i", "o", "x", "s"))
      df.collect().map(r => (r.getInt(0), r.getAs[Number]("s").longValue))
        .sortBy(_._1).map(_._2).toSeq
    }
    assert(byI(engine.SqlGateway.run(spark,
      "SELECT a.*, SUM(a.x) OVER (ORDER BY a.o GROUPS 1 PRECEDING) AS s " +
        "FROM gft a JOIN gft b ON a.i = b.i")) == once)
    // a DIRECT rewrite() needs no schema source: the rule sees the
    // analyzed plan, where a.* is already resolved
    assert(byI(spark.sql(DuckDbDialect.rewrite(
      "SELECT a.*, SUM(a.x) OVER (ORDER BY a.o GROUPS 1 PRECEDING) AS s " +
        "FROM gft a JOIN gfr b ON a.i = b.ref"))) == once)
    // an unknown qualifier (struct access shape) passes through
    // untouched rather than being mangled: gateway run still resolves
    // it against the inner star output
    spark.sql("SELECT i, o, x, named_struct('f', i) AS st FROM gft")
      .createOrReplaceTempView("gfs")
    val st = engine.SqlGateway.run(spark,
      "SELECT st.f AS f, CAST(SUM(x) OVER (ORDER BY o GROUPS 1 PRECEDING) " +
        "AS BIGINT) AS s FROM gfs ORDER BY f")
    assert(st.collect().map(_.getAs[Number]("s").longValue).toSeq == once)
  }
}

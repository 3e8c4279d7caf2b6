package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.engine._

/** Tier-A engine shell: ingestion tiers, profile, gateway, rendering,
  * NL-stub (SURVEY.md §5.2-2/3). */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // --- reference-parity: flagship golden (README.md:61–77 analog) -------
  test("flagship query over sample_sales_data.csv answers 王红 / 7729.62") {
    val df = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    assert(df.count() == 40 && df.columns.length == 11)
    Catalog.register(df)
    val r = SqlGateway.run(spark,
      """SELECT sales_rep, ROUND(SUM(price * quantity), 2) AS total_sales
        |FROM data_table GROUP BY sales_rep ORDER BY total_sales DESC LIMIT 1""".stripMargin)
      .collect()
    assert(r.length == 1)
    assert(r(0).getString(0) == "王红")
    assert(math.abs(r(0).getDouble(1) - 7729.62) < 1e-9)
  }

  test("SUMMARIZE statement returns the per-column profile through the gateway") {
    val df = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    Catalog.register(df)
    val s = SqlGateway.run(spark, "SUMMARIZE data_table")
    assert(s.columns.toSeq == Seq("column_name", "column_type", "min", "max",
      "approx_unique", "avg", "std", "q25", "q50", "q75", "count", "null_percentage"))
    val rows = s.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size == df.columns.length)
    val id = rows("id")
    assert(id.getString(2) == "1" && id.getAs[Long]("count") == 40 &&
      id.getAs[Double]("null_percentage") == 0.0)
    // numeric columns carry quartiles; string columns leave them NULL
    assert(!rows("price").isNullAt(rows("price").fieldIndex("q50")))
    assert(rows("product_name").isNullAt(rows("product_name").fieldIndex("q50")))
    // SUMMARIZE over an inline query (DuckDB's second form)
    val q = SqlGateway.run(spark,
      "SUMMARIZE SELECT price, quantity FROM data_table WHERE quantity > 1")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("price", "quantity"))
    // the inner statement still passes the SELECT-only gate
    intercept[SecurityException](
      SqlGateway.run(spark, "SUMMARIZE DROP TABLE data_table"))
    // non-numeric columns (arrays, timestamps) summarize without error:
    // min/max render as strings, quartiles stay NULL
    import spark.implicits._
    val exotic = Seq((1L, Seq(0.5f, 1.5f), java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, Seq(2.5f, 3.5f), java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
      .toDF("id", "vec", "ts")
    val es = Profile.summarize(exotic).collect().map(r => r.getString(0) -> r).toMap
    assert(es("vec").isNullAt(es("vec").fieldIndex("q50")) &&
      es("vec").getString(2).startsWith("["))
    assert(es("ts").getString(2).startsWith("2024-01-01"))
  }

  // --- DuckDB PIVOT/UNPIVOT statements (round 13c) ----------------------
  // Goldens computed by DuckDB 1.x on the same sample CSV (PIVOT ... ON
  // category USING sum(quantity) GROUP BY sales_rep, etc.) — the gateway
  // must reproduce DuckDB's semantics: binder-style value discovery in
  // ascending order, sum cells NULL where no rows matched, count cells 0.
  test("PIVOT statement: discovery, GROUP BY, count-zero backfill, IN list") {
    val df = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    Catalog.register(df)
    val p = SqlGateway.run(spark,
      "PIVOT data_table ON category USING sum(quantity) GROUP BY sales_rep")
    assert(p.columns.toSeq ==
      Seq("sales_rep", "Electronics", "Fashion", "Food", "Home", "Sports"))
    val rows = p.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size == 3)
    def cell(rep: String, c: String): Option[Long] = {
      val r = rows(rep); val i = r.fieldIndex(c)
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    }
    // DuckDB golden: 李明 → [20, NULL, 16, 5, 2]; 张丽 Electronics NULL
    assert(cell("李明", "Electronics").contains(20L))
    assert(cell("李明", "Fashion").isEmpty)
    assert(cell("李明", "Food").contains(16L))
    assert(cell("张丽", "Electronics").isEmpty)
    assert(cell("王红", "Home").isEmpty)
    assert(cell("王红", "Food").contains(15L))
    // count backfills zero where sum left NULL (DuckDB golden: 张丽
    // Electronics 0, 王红 Home 0) — over a subquery dataset with
    // implicit group keys (every column not in ON/USING)
    val c = SqlGateway.run(spark,
      "PIVOT (SELECT sales_rep, category FROM data_table) ON category USING count(*)")
    val crows = c.collect().map(r => r.getString(0) -> r).toMap
    assert(crows("张丽").getLong(crows("张丽").fieldIndex("Electronics")) == 0L)
    assert(crows("王红").getLong(crows("王红").fieldIndex("Home")) == 0L)
    assert(crows("李明").getLong(crows("李明").fieldIndex("Electronics")) == 6L)
    // explicit IN list restricts and orders the output columns
    val in = SqlGateway.run(spark,
      "PIVOT data_table ON category IN ('Food', 'Home') USING sum(quantity) GROUP BY sales_rep")
    assert(in.columns.toSeq == Seq("sales_rep", "Food", "Home"))
    // IN-list parsing is quote-aware: values containing ',' or ')' are
    // kept whole (round-13 advice — a naive [^)]*/split(',') silently
    // split them into wrong pivot columns). DuckDB golden:
    // PIVOT t ON cat IN ('a,b', 'c)d') USING sum(q) GROUP BY k →
    // columns [k, "a,b", "c)d"], rows r1→(2,3), r2→(5,NULL).
    spark.sql("SELECT * FROM VALUES ('r1','a,b',2),('r1','c)d',3)," +
      "('r2','a,b',5),('r2','plain',7) AS v(k, cat, q)")
      .createOrReplaceTempView("pivq")
    val q = SqlGateway.run(spark,
      "PIVOT pivq ON cat IN ('a,b', 'c)d') USING sum(q) GROUP BY k").orderBy("k")
    assert(q.columns.toSeq == Seq("k", "a,b", "c)d"))
    val qr = q.collect()
    assert(qr(0).getString(0) == "r1" && qr(0).getLong(1) == 2L && qr(0).getLong(2) == 3L)
    assert(qr(1).getString(0) == "r2" && qr(1).getLong(1) == 5L && qr(1).isNullAt(2))
    // trailing ORDER BY/LIMIT order the PIVOTED result (round 14;
    // DuckDB golden on pv2(k,cat,q) = (r1,a,2),(r1,b,3),(r2,a,5),
    // (r3,c,7): ORDER BY k DESC LIMIT 2 → r3(c=7), r2(a=5))
    spark.sql("SELECT * FROM VALUES ('r1','a',2),('r1','b',3)," +
      "('r2','a',5),('r3','c',7) AS v(k, cat, q)").createOrReplaceTempView("pv2")
    val ord = SqlGateway.run(spark,
      "PIVOT pv2 ON cat USING sum(q) GROUP BY k ORDER BY k DESC LIMIT 2").collect()
    assert(ord.length == 2)
    assert(ord(0).getString(0) == "r3" && ord(0).getLong(3) == 7L && ord(0).isNullAt(1))
    assert(ord(1).getString(0) == "r2" && ord(1).getLong(1) == 5L && ord(1).isNullAt(3))
    // the dataset subquery still passes the SELECT-only gate
    intercept[SecurityException](
      SqlGateway.run(spark, "PIVOT (DROP TABLE data_table) ON category USING count(*)"))
    // unsupported spellings throw with the offending form named
    intercept[IllegalArgumentException](
      SqlGateway.run(spark, "PIVOT data_table ON category USING median(price)"))
  }

  test("UNPIVOT statement: NAME/VALUE melt, NULL rows dropped") {
    val df = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    Catalog.register(df)
    val u = SqlGateway.run(spark,
      "UNPIVOT (SELECT id, price, quantity FROM data_table WHERE id <= 2) " +
        "ON price, quantity INTO NAME k VALUE v")
    assert(u.columns.toSeq == Seq("id", "k", "v"))
    val got = u.collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // DuckDB golden on the same statement
    assert(got == Seq((1L, "price", 999.99), (1L, "quantity", 2.0),
      (2L, "price", 2499.99), (2L, "quantity", 1.0)))
    // NULL-dropping default matches DuckDB: a column that is NULL for a
    // row contributes no output row
    import spark.implicits._
    Seq((1L, Some(5.0), None: Option[Double]), (2L, None: Option[Double], Some(7.0)))
      .toDF("rid", "a", "b").createOrReplaceTempView("unpiv_nulls")
    val n = SqlGateway.run(spark,
      "UNPIVOT unpiv_nulls ON a, b INTO NAME k VALUE v")
    assert(n.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
      Set((1L, "a", 5.0), (2L, "b", 7.0)))
    // trailing ORDER BY/LIMIT (round 14; DuckDB golden on up2(k,g,m1,m2)
    // = (r1,a,2,9),(r2,b,5,7): ORDER BY k, k2 DESC LIMIT 3 →
    // (r1,a,m2,9),(r1,a,m1,2),(r2,b,m2,7))
    spark.sql("SELECT * FROM VALUES ('r1','a',2,9),('r2','b',5,7) " +
      "AS v(k, g, m1, m2)").createOrReplaceTempView("up2")
    val o = SqlGateway.run(spark,
      "UNPIVOT up2 ON m1, m2 INTO NAME k2 VALUE v ORDER BY k, k2 DESC LIMIT 3")
      .collect().map(r => (r.getString(0), r.getString(2), r.getInt(3))).toSeq
    assert(o == Seq(("r1", "m2", 9), ("r1", "m1", 2), ("r2", "m2", 7)))
  }

  test("SUMMARIZE, PIVOT and UNPIVOT inner queries take the gateway's full dialect path") {
    val df = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    Catalog.register(df)
    // COLUMNS(...) expands against the relation schemas only the gateway has
    val s = SqlGateway.run(spark, "SUMMARIZE SELECT COLUMNS('^p') FROM data_table")
    assert(s.collect().map(_.getString(0)).toSeq == df.columns.filter(_.startsWith("p")).toSeq)
    val u = SqlGateway.run(spark,
      "UNPIVOT (SELECT id, COLUMNS('^(price|quantity)$') FROM data_table WHERE id <= 2) " +
        "ON price, quantity INTO NAME k VALUE v")
    assert(u.columns.toSeq == Seq("id", "k", "v") && u.count() == 4)
    val p = SqlGateway.run(spark,
      "PIVOT (SELECT sales_rep, category, COLUMNS('^quantity$') FROM data_table) " +
        "ON category USING sum(quantity) GROUP BY sales_rep")
    val direct = SqlGateway.run(spark,
      "PIVOT data_table ON category USING sum(quantity) GROUP BY sales_rep")
    assert(p.collect().toSet == direct.collect().toSet)
  }

  test("PIVOT/UNPIVOT parens are matched outside comments and literals") {
    val df = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    Catalog.register(df)
    def rows(sql: String) = SqlGateway.run(spark, sql).collect().toSeq
    val plainSql = "PIVOT (SELECT sales_rep, category, quantity FROM data_table) " +
      "ON category IN ('Food', 'Home') USING sum(quantity) GROUP BY sales_rep ORDER BY sales_rep"
    assert(SqlGateway.run(spark, plainSql).columns.toSeq == Seq("sales_rep", "Food", "Home"))
    val plain = rows(plainSql)
    assert(plain.nonEmpty)
    assert(rows("PIVOT (SELECT sales_rep, category, quantity /* ) */ FROM data_table) " +
      "ON category IN ('Food', 'Home') USING sum(quantity) GROUP BY sales_rep ORDER BY sales_rep") == plain)
    assert(rows("PIVOT (SELECT sales_rep, category, quantity FROM data_table) " +
      "ON category IN ('Food' /* ) */, 'Home') USING sum(quantity) GROUP BY sales_rep " +
      "ORDER BY sales_rep") == plain)
    val melt = rows("UNPIVOT (SELECT id, price, quantity FROM data_table WHERE id <= 2) " +
      "ON price, quantity INTO NAME k VALUE v ORDER BY id, k")
    assert(rows("UNPIVOT (SELECT id, price, quantity -- ) \n FROM data_table WHERE id <= 2) " +
      "ON price, quantity INTO NAME k VALUE v ORDER BY id, k") == melt)
  }

  test("DESCRIBE and SHOW TABLES pass the gate as read-only metadata") {
    val df = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    Catalog.register(df)
    val desc = SqlGateway.run(spark, "DESCRIBE data_table").collect()
    assert(desc.map(_.getString(0)).contains("sales_rep"))
    val tables = SqlGateway.run(spark, "SHOW TABLES").collect()
    assert(tables.map(_.getString(1)).contains("data_table"))
    // mutating commands stay rejected
    intercept[SecurityException](SqlGateway.run(spark, "DROP TABLE data_table"))
    intercept[SecurityException](
      SqlGateway.run(spark, "CREATE TABLE t2 AS SELECT 1"))
  }

  test("EXPLAIN of a SELECT passes the gate; EXPLAIN of DDL is rejected") {
    val plan = SqlGateway.run(spark, "EXPLAIN SELECT 1 AS x")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Physical Plan"))
    intercept[SecurityException](
      SqlGateway.run(spark, "EXPLAIN DROP TABLE data_table"))
  }

  test("profile mirrors data_info: counts, dtypes, head-5") {
    val df = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    val info = Profile(df)
    assert(info.rowCount == 40 && info.columnCount == 11)
    assert(info.dtypes("price") == "double" && info.dtypes("product_name") == "string")
    assert(info.head.length == 5 && info.head.head.contains("sales_rep"))
  }

  test("extended profile: one-pass null + distinct counts") {
    import spark.implicits._
    val df = Seq((1, Some("a")), (2, None), (3, Some("a")), (4, Some("b")))
      .toDF("id", "v")
    val stats = Profile.extended(df)
    assert(stats("id").nullCount == 0 && stats("v").nullCount == 1)
    assert(stats("id").approxDistinct == 4 && stats("v").approxDistinct == 2)
  }

  // --- JSON three-tier loader (doc.py:52–76 analog) ---------------------
  test("json tier 1: JSONL") {
    val p = Files.createTempFile("t1", ".json")
    Files.writeString(p, """{"a": 1, "b": "x"}
                           |{"a": 2, "b": "y"}""".stripMargin)
    val df = Ingest.json(spark, p.toString)
    assert(df.count() == 2 && df.columns.sorted.sameElements(Array("a", "b")))
  }

  test("json tier 2: top-level array (sample_products.json)") {
    val df = Ingest.load(spark, TestSpark.resource("sample_products.json"))
    assert(df.count() == 10)
    assert(df.columns.contains("brand") && df.columns.contains("rating"))
  }

  test("json tier 3a: dict-of-lists transposes to columns") {
    val p = Files.createTempFile("t3a", ".json")
    Files.writeString(p, """{
                           |  "name": ["a", "b", "c"],
                           |  "score": [1, 2, 3]
                           |}""".stripMargin)
    val df = Ingest.json(spark, p.toString)
    assert(df.count() == 3)
    assert(df.columns.sorted.sameElements(Array("name", "score")))
    assert(df.filter(df("name") === "b").select("score").collect()(0).getLong(0) == 2L)
  }

  test("json tier 3b: single object becomes one row") {
    val p = Files.createTempFile("t3b", ".json")
    Files.writeString(p, """{
                           |  "name": "solo",
                           |  "score": 9
                           |}""".stripMargin)
    val df = Ingest.json(spark, p.toString)
    assert(df.count() == 1 && df.columns.length == 2)
  }

  test("json tier 1: partially-malformed JSONL keeps the good rows") {
    val p = Files.createTempFile("t1bad", ".json")
    Files.writeString(p, """{"a": 1, "b": "x"}
                           |not json at all
                           |{"a": 3, "b": "z"}""".stripMargin)
    val df = Ingest.json(spark, p.toString)
    assert(!df.columns.contains("_corrupt_record"))
    assert(df.count() == 2)
  }

  test("json scalar shape rejected") {
    val p = Files.createTempFile("bad", ".json")
    Files.writeString(p, "42")
    intercept[IllegalArgumentException](Ingest.json(spark, p.toString))
  }

  test("unsupported extension and empty file rejected") {
    intercept[IllegalArgumentException](Ingest.load(spark, "/tmp/nope.txt"))
    val p = Files.createTempFile("empty", ".csv")
    Files.writeString(p, "a,b\n")
    intercept[IllegalArgumentException](Ingest.load(spark, p.toString))
    // codec suffix alone is not a format
    intercept[IllegalArgumentException](Ingest.load(spark, "/tmp/file.gz"))
  }

  test("orc roundtrip and gzip-compressed csv dispatch") {
    val dir = Files.createTempDirectory("orc").toString + "/t.orc"
    val src = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    src.write.mode("overwrite").orc(dir)
    val orc = Ingest.load(spark, dir)
    assert(orc.count() == src.count() && orc.columns.sameElements(src.columns))
    // data.csv.gz → inner .csv dispatch; Spark decompresses transparently
    val gz = Files.createTempFile("data", ".csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    out.write(Files.readAllBytes(java.nio.file.Paths.get(TestSpark.resource("sample_sales_data.csv"))))
    out.close()
    val viaGz = Ingest.load(spark, gz.toString)
    assert(viaGz.count() == src.count())
    // .tsv rides the csv reader with a tab separator
    val tsv = Files.createTempFile("data", ".tsv")
    Files.writeString(tsv, "a\tb\n1\tx\n2\ty\n")
    val viaTsv = Ingest.load(spark, tsv.toString)
    assert(viaTsv.columns.toSeq == Seq("a", "b") && viaTsv.count() == 2)
    assert(viaTsv.filter(org.apache.spark.sql.functions.col("a") === 2)
      .head.getString(1) == "y")
  }

  // --- xlsx reader ------------------------------------------------------
  test("xlsx minimal OOXML roundtrip") {
    val path = XlsxFixture.write()
    val df = Xlsx.read(spark, path)
    assert(df.columns.sameElements(Array("name", "qty", "price")))
    val rows = df.orderBy("qty").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "widget" && rows(0).getLong(1) == 2L
      && rows(0).getDouble(2) == 1.5)
    assert(rows(1).getString(0) == "bolt 螺栓")
  }

  test("xlsx column letter math") {
    assert(Xlsx.colIndex("A1") == 0 && Xlsx.colIndex("Z9") == 25
      && Xlsx.colIndex("AA3") == 26 && Xlsx.colIndex("BC12") == 54)
  }

  // --- gateway ----------------------------------------------------------
  test("gateway strips markdown fences (doc.py:217–223 analog)") {
    assert(SqlGateway.sanitize("```sql\nSELECT 1\n```") == "SELECT 1")
    assert(SqlGateway.sanitize("```\nSELECT 2\n```") == "SELECT 2")
    assert(SqlGateway.sanitize("  SELECT 3  ") == "SELECT 3")
  }

  test("gateway rejects DDL/DML, allows query shapes") {
    for (bad <- Seq(
      "INSERT INTO t VALUES (1)",
      "DROP TABLE data_table",
      "CREATE TABLE x (a INT)",
      "UPDATE data_table SET a = 1",
      "DELETE FROM data_table",
      "SET spark.sql.shuffle.partitions=1",
      "CREATE OR REPLACE TEMP VIEW v AS SELECT 1"))
      intercept[SecurityException](SqlGateway.validate(spark, bad))
    // multi-statement injection does not parse as a single plan
    intercept[Exception](SqlGateway.validate(spark, "SELECT 1; DROP TABLE data_table"))
    for (ok <- Seq(
      "SELECT 1",
      "WITH t AS (SELECT 1 AS a) SELECT * FROM t",
      "SELECT 1 UNION ALL SELECT 2",
      "SELECT * FROM (SELECT 1) WHERE 1 IN (SELECT 1)"))
      SqlGateway.validate(spark, ok)
  }

  test("gateway supports direct file scans (read_csv_auto analog)") {
    val n = SqlGateway.run(spark,
      "SELECT count(*) AS n FROM parquet.`/root/testdata/sf0.001/region.parquet`")
      .collect()(0).getLong(0)
    assert(n == 5)
  }

  test("DISTINCT ON with a star EXCEPT/EXCLUDE/REPLACE modifier returns no rank column") {
    import spark.implicits._
    Seq((1, "a", 10), (2, "a", 30), (3, "b", 5))
      .toDF("id", "k", "v").createOrReplaceTempView("don_ex")
    for (kw <- Seq("EXCEPT", "EXCLUDE")) {
      val df = SqlGateway.run(spark,
        s"SELECT DISTINCT ON (k) * $kw (v) FROM don_ex ORDER BY k, v DESC")
      assert(df.columns.toSeq == Seq("id", "k"), kw)
      assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq
        == Seq((2, "a"), (3, "b")), kw)
    }
    val replaced = SqlGateway.run(spark,
      "SELECT DISTINCT ON (k) * REPLACE (v * 2 AS v) FROM don_ex ORDER BY k, v DESC")
    assert(replaced.columns.toSeq == Seq("id", "k", "v"))
    assert(replaced.collect().map(_.getInt(2)).toSeq == Seq(60, 10))
  }

  test("a FROM-first branch after a commented set operation runs") {
    import spark.implicits._
    Seq(1, 2).toDF("a").createOrReplaceTempView("ff_t")
    Seq(2, 3).toDF("a").createOrReplaceTempView("ff_u")
    def rows(sql: String) = SqlGateway.run(spark, sql).collect().map(_.getInt(0)).sorted.toSeq
    // Spark parses a bare `FROM u` branch on its own, but not `FROM u WHERE …`
    for ((branch, expected) <- Seq("FROM ff_u" -> Seq(1, 2, 2, 3), "FROM ff_u WHERE a > 2" -> Seq(1, 2, 3))) {
      val plain = rows(s"SELECT a FROM ff_t UNION ALL SELECT * $branch")
      assert(plain == expected, branch)
      assert(rows(s"SELECT a FROM ff_t UNION /*c*/ ALL $branch") == plain, branch)
      assert(rows(s"SELECT a FROM ff_t UNION -- c\nALL $branch") == plain, branch)
    }
  }

  // --- results / markdown (app.py:81–99 analog) -------------------------
  test("markdown formatting rules") {
    assert(Results.formatCell(null) == "null")
    assert(Results.formatCell(3.14159) == "3.14")
    assert(Results.formatCell(1234567L) == "1,234,567")
    assert(Results.formatCell("x" * 60) == "x" * 50 + "...")
    val r = QueryResult(Seq("a"), (1 to 15).map(i => Seq[Any](i)), 15)
    val md = Results.toMarkdown(r)
    assert(md.linesIterator.count(_.startsWith("|")) == 12) // header+sep+10
    assert(md.contains("showing first 10 of 15 rows"))
  }

  test("auto-chart: label+measure shapes render an escaped SVG; others opt out") {
    import graft.engine.Results
    // classic shape → horizontal bars, labels/values escaped
    val ok = Results.toSvgChart(QueryResult(Seq("city", "rev"),
      Seq(Seq[Any]("北京", 100L), Seq[Any]("<tag>&", -40L), Seq[Any]("c", 70L)), 3)).get
    assert(ok.startsWith("<svg") && ok.count(_ == 'r') > 0)
    assert(ok.contains("&lt;tag&gt;&amp;") && !ok.contains("<tag>")) // XML-escaped label
    assert(ok.contains("#c0504d")) // negative bar gets the negative fill
    // first numeric column is found past non-numeric ones
    assert(Results.toSvgChart(QueryResult(Seq("k", "note", "v"),
      Seq(Seq[Any]("a", "x", 1.5), Seq[Any]("b", "y", 2.5)), 2)).isDefined)
    // a long result charts its first DisplayCap rows, titled as such
    val long = Results.toSvgChart(QueryResult(Seq("k", "v"),
      (1 to 40).map(i => Seq[Any](s"k$i", i.toLong)), 40)).get
    assert(long.contains("(first 10 of 40)") && !long.contains("k11"))
    // opt-outs: single row, no numeric column, null in the charted rows
    assert(Results.toSvgChart(QueryResult(Seq("k", "v"), Seq(Seq[Any]("a", 1L)), 1)).isEmpty)
    assert(Results.toSvgChart(QueryResult(Seq("k", "s"),
      Seq(Seq[Any]("a", "x"), Seq[Any]("b", "y")), 2)).isEmpty)
    assert(Results.toSvgChart(QueryResult(Seq("k", "v"),
      Seq(Seq[Any]("a", 1L), Seq[Any]("b", null)), 2)).isEmpty)
  }

  // --- NL stub (CJK routing must happen in-JVM: CLI args mangle CJK) ----
  test("NL stub routes the documented question shapes") {
    val df = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    val info = Profile(df)
    val sql = SqlGenerator.Stub.generate("每个城市的销售额", info)
    assert(sql.contains("customer_city") && sql.toUpperCase.contains("GROUP BY"))
    assert(SqlGenerator.Stub.generate("数量超过2的订单", info).contains("quantity > 2"))
    // fallback mirrors doc.py:188
    assert(SqlGenerator.Stub.generate("unrelated?", info).startsWith("SELECT *"))
    // generated SQL passes the gateway and runs
    Catalog.register(df)
    assert(SqlGateway.run(spark, sql).count() > 0)
  }

  test("Json.getString matches only top-level keys, never text inside values") {
    // the key name occurring inside an EARLIER string value must not
    // misroute the lookup (a question mentioning "file_id" is routine)
    val j1 = Json.obj("question" -> Json.str("""what does "file_id": mean?"""),
      "file_id" -> Json.str("abc-123"))
    assert(Json.getString(j1, "file_id").contains("abc-123"))
    assert(Json.getString(j1, "question").contains("""what does "file_id": mean?"""))
    // a same-named key inside a NESTED object is not a top-level field
    assert(Json.getString("""{"meta":{"file_id":"inner"},"file_id":"outer"}""",
      "file_id").contains("outer"))
    assert(Json.getString("""{"meta":{"file_id":"inner"}}""", "file_id").isEmpty)
    // arrays and non-string values are skipped / rejected, not misparsed
    assert(Json.getString("""{"tags":["file_id","x"],"file_id":"v"}""",
      "file_id").contains("v"))
    assert(Json.getString("""{"file_id":123}""", "file_id").isEmpty)
    assert(Json.getString("""not json""", "file_id").isEmpty)
    // malformed unicode escape in a PRECEDING value must not throw or
    // block later fields (built via concat: scalac itself pre-processes
    // backslash-u even inside triple quotes)
    val bsU = "\\" + "u"
    assert(Json.getString(s"""{"note":"${bsU}ZZZZ","file_id":"abc"}""", "file_id")
      .contains("abc"))
    assert(Json.getString(s"""{"k":"${bsU}00e"}""", "k").nonEmpty) // truncated hex
  }

  test("Json.getStringArray reads top-level string arrays, skipping junk") {
    assert(Json.getStringArray("""{"file_ids":["a","b"],"q":"x"}""", "file_ids")
      .contains(Seq("a", "b")))
    // non-string elements are skipped, not misparsed
    assert(Json.getStringArray("""{"file_ids":["a",1,{"k":"v"},"b"]}""", "file_ids")
      .contains(Seq("a", "b")))
    assert(Json.getStringArray("""{"file_ids":[]}""", "file_ids").contains(Seq()))
    // a string (not array) value, nested same-named keys, absence
    assert(Json.getStringArray("""{"file_ids":"a"}""", "file_ids").isEmpty)
    assert(Json.getStringArray("""{"meta":{"file_ids":["x"]},"q":"y"}""", "file_ids").isEmpty)
    // the key name inside an earlier string value must not misroute
    assert(Json.getStringArray(
      """{"q":"about \"file_ids\": huh","file_ids":["z"]}""", "file_ids")
      .contains(Seq("z")))
  }

  test("multi-table generation: prompt contract and deterministic stub join") {
    val sales = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    val info = Profile(sales)
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // dim cities drawn from the live data so the join actually matches
    val dims = sales.select("customer_city").distinct().limit(2)
      .withColumn("manager", lit("m"))
    val dinfo = Profile(dims)
    // single-table call routes to the single-table contract
    assert(SqlGenerator.Stub.generateMulti("show rows", Seq(("t1", info)))
      == SqlGenerator.Stub.generate("show rows", info, "t1"))
    // two tables: join on the first shared column; totals → SUM shape
    val sql = SqlGenerator.Stub.generateMulti("total price by city",
      Seq(("cities", dinfo), ("sales", info)))
    assert(sql.contains("JOIN") && sql.contains("customer_city"), sql)
    assert(sql.toUpperCase.contains("SUM("), sql)
    // the multi prompt lists every table and the join permission
    val prompt = SqlGenerator.buildPromptMulti("q",
      Seq(("cities", dinfo), ("sales", info)))
    assert(prompt.contains("cities") && prompt.contains("sales"))
    assert(prompt.contains("JOINed"))
    // no shared column → loud failure, not a guessed cross join
    val disjoint = Profile(Seq((1, "x")).toDF("zz_a", "zz_b"))
    intercept[IllegalArgumentException] {
      SqlGenerator.Stub.generateMulti("q", Seq(("t1", dinfo), ("t2", disjoint)))
    }
    // the generated join runs through the gateway against live views
    Catalog.register(sales, "sales")
    Catalog.register(dims, "cities")
    val rows = SqlGateway.run(spark, sql).collect()
    assert(rows.nonEmpty)
    spark.catalog.dropTempView("sales"); spark.catalog.dropTempView("cities")
  }

  test("display names: data_table alone, else sanitized stems, deduped, data_table_k fallback") {
    assert(Catalog.displayNames(Seq("sales.csv")) == Seq("data_table"))
    assert(Catalog.displayNames(Seq("sales.csv", "sales.json", "2024 report.xlsx", "!!!.csv",
      "数据.csv", ".csv")) ==
      Seq("sales", "sales_2", "t2024_report", "data_table_4", "data_table_5", "data_table_6"))
  }

  test("Gemini transport: response parsing and fence stripping (no network)") {
    val g = new GeminiSqlGenerator(apiKey = "unused-in-tests")
    val resp = """{"candidates":[{"content":{"parts":[{"text":
      |"```sql\nSELECT *\nFROM data_table\n```"}],"role":"model"}}]}"""
      .stripMargin.replace("\n\"", "\"")
    assert(g.firstCandidateText(resp) == "```sql\nSELECT *\nFROM data_table\n```")
    assert(g.stripFences(g.firstCandidateText(resp)) == "SELECT *\nFROM data_table")
    assert(g.stripFences("SELECT 1") == "SELECT 1")
    assert(g.stripFences("```\nSELECT 2\n```") == "SELECT 2")
    assert(g.firstCandidateText("""{"candidates":[{"content":{"parts":[{"text":"aé\tb"}]}}]}""") == "aé\tb")
  }

  test("custom SQL functions: dot_product expression + geo_mean udaf") {
    // DuckDB len()/array_length() via the type-dispatching DuckLen
    // (round 14; DuckDB goldens: len('héllo')=5 CHARS, len('王红ab')=4,
    // len([1,2,3])=3, BIGINT, NULL→NULL)
    val ln = spark.sql("SELECT len('héllo') AS a, len('王红ab') AS b, " +
      "len(array(1, 2, 3)) AS c, len(CAST(NULL AS STRING)) AS d, " +
      "array_length(array(5, 6)) AS e").head()
    assert(ln.getLong(0) == 5L && ln.getLong(1) == 4L && ln.getLong(2) == 3L)
    assert(ln.isNullAt(3) && ln.getLong(4) == 2L)
    intercept[Exception](spark.sql("SELECT len(42)").collect())
    val d = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect()(0).getDouble(0)
    assert(d == 11.0)
    val c = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").collect()(0).getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    val orth = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c").collect()(0).getDouble(0)
    assert(math.abs(orth) < 1e-12)
    val g = spark.sql(
      "SELECT geo_mean(x) FROM VALUES (2.0), (8.0) AS t(x)").collect()(0).getDouble(0)
    assert(math.abs(g - 4.0) < 1e-9)
    assert(graft.functions.Udfs.vowelDensity("aeiou") == 1.0)
    assert(graft.functions.Udfs.vowelDensity("xyz") == 0.0)
  }

  test("catalog persist/load roundtrip") {
    val df = Ingest.load(spark, TestSpark.resource("sample_sales_data.csv"))
    val dir = Files.createTempDirectory("persist").toString
    val src = s"$dir/sales.csv"
    Files.copy(Paths.get(TestSpark.resource("sample_sales_data.csv")), Paths.get(src))
    val path = Catalog.persist(df, src)
    assert(path == s"$dir/data_sales.parquet")
    assert(Catalog.loadPersisted(spark, src).count() == 40)
  }
}

/** Builds a tiny hand-rolled .xlsx (zip + OOXML) — shared strings,
  * inline numbers, a CJK cell — without any Excel library. */
object XlsxFixture {
  def write(): String = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val path = Files.createTempFile("fixture", ".xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    entry("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst><si><t>name</t></si><si><t>qty</t></si><si><t>price</t></si><si><t>widget</t></si><si><t>bolt 螺栓</t></si></sst>""")
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>3</v></c><c r="B2"><v>2</v></c><c r="C2"><v>1.5</v></c></row>
        |<row r="3"><c r="A3" t="s"><v>4</v></c><c r="B3"><v>7</v></c><c r="C3"><v>19.25</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    path.toString
  }
}

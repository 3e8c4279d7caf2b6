package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan}

/** Safe SQL execution gateway (SURVEY.md §2 Tier A9/A10).
  *
  * The reference strips markdown fences off LLM output
  * (/root/reference/doc.py:217–223) and *promises* SELECT-only via the
  * prompt (doc.py:187) — a promise, not an enforcement. Here the gate is
  * structural: the statement is parsed with Catalyst's SQL parser and the
  * logical plan is rejected if it contains any command/DML node, then
  * executed with `spark.sql` (Catalyst replaces DuckDB end-to-end,
  * doc.py:240–243 analog).
  */
object SqlGateway {

  /** ```sql fences + whitespace stripping (doc.py:217–223 analog). */
  def sanitize(raw: String): String = {
    var s = raw.trim
    if (s.startsWith("```sql")) s = s.substring(6)
    else if (s.startsWith("```")) s = s.substring(3)
    if (s.endsWith("```")) s = s.substring(0, s.length - 3)
    s.trim
  }

  /** Read-only metadata statements a DuckDB user types at the prompt
    * (round 13): DESCRIBE and SHOW TABLES/COLUMNS inspect the catalog
    * and mutate nothing, so the SELECT-only gate admits them by node
    * name. Everything else that parses to a Command stays rejected. */
  private val ReadOnlyCommands = Set(
    "DescribeRelation", "DescribeColumn", "ShowTables", "ShowColumns")

  /** Structural SELECT-only enforcement: walk the parsed plan and reject
    * commands (DDL: CREATE/DROP/ALTER/…) and DML (INSERT/UPDATE/MERGE).
    * Subqueries/CTEs/set-ops all parse to non-Command query plans and pass.
    */
  def validate(spark: SparkSession, sql: String): LogicalPlan = {
    val plan = spark.sessionState.sqlParser.parsePlan(sql)
    // EXPLAIN is read-only: unwrap it and gate the INNER statement, so
    // `EXPLAIN SELECT …` works while `EXPLAIN DROP TABLE …` is rejected
    // exactly like the bare DROP (round 13).
    val toCheck = plan match {
      case e: org.apache.spark.sql.execution.command.ExplainCommand => e.logicalPlan
      case p => p
    }
    val offending = toCheck.collectFirst {
      case c: Command if !ReadOnlyCommands(c.nodeName) => c.nodeName
      case i: InsertIntoStatement   => i.nodeName
    }
    offending.foreach { node =>
      throw new SecurityException(s"Only SELECT queries are allowed; rejected $node")
    }
    plan
  }

  /** sanitize → dialect-accept → validate → execute.
    *
    * The dialect pass runs BEFORE validation so the structural
    * SELECT-only gate judges the statement Spark will actually execute.
    * It is a no-op on valid Spark SQL: its text passes touch only syntax
    * Spark cannot parse (`//`, QUALIFY, FROM-first, …) and the DuckDB
    * arities of regexp_extract/date_diff, while DuckDB function names
    * (strftime, list_*, epoch, time_bucket, …) resolve at analysis
    * through the builders [[graft.functions.GraftExtensions]] injects.
    * Together they close the SURVEY §7.4-1 dialect-drift gap where a
    * user pasting DuckDB SQL (the reference's pinned dialect,
    * /root/reference/doc.py:186-188) got a parse error here. */
  def run(spark: SparkSession, rawSql: String): DataFrame = {
    val s0 = sanitize(rawSql)
    // DuckDB's SUMMARIZE statement (round 13): `SUMMARIZE <table>` or
    // `SUMMARIZE SELECT …` produces the per-column profile. The inner
    // query (if any) still passes through the dialect shim and the
    // structural SELECT-only gate — `SUMMARIZE DROP TABLE t` is
    // rejected exactly like `DROP TABLE t`.
    val Summarize = "(?is)^summarize\\b(.*)$".r
    s0 match {
      case Summarize(rest0) =>
        val rest = rest0.trim
        val df =
          if (rest.matches("[A-Za-z_][A-Za-z0-9_.]*")) spark.table(rest)
          else spark.sql(gatedSql(spark, rest))
        Profile.summarize(df)
      case _ if s0.matches("(?is)^pivot\\b.*") => runPivot(spark, s0)
      case _ if s0.matches("(?is)^unpivot\\b.*") => runUnpivot(spark, s0)
      case _ => spark.sql(gatedSql(spark, s0))
    }
  }

  /** A DuckDB query → the Spark SQL the gateway runs for it, passed by
    * the SELECT-only gate. Every query the gateway executes takes this
    * path: the statement itself, and the inner query of SUMMARIZE,
    * PIVOT and UNPIVOT. */
  private def gatedSql(spark: SparkSession, query: String): String = {
    // COLUMNS('regex') needs the relation schema — only the gateway has it
    val sql = DuckDbDialect.rewriteWithSchema(query, name =>
      scala.util.Try(spark.table(name).schema.fieldNames.toSeq).toOption)
    validate(spark, sql)
    sql
  }

  /** Split `<dataset> <rest>` where dataset is either a (possibly
    * qualified) identifier or a parenthesized subquery — the paren match
    * is the dialect scanner's, so a `)` inside a string literal, quoted
    * identifier or comment can't end it. */
  private def splitDataset(rest: String): (String, String) = {
    val s = rest.trim
    if (s.startsWith("(")) {
      val end = new DuckDbDialect.Lex(s).closeOf(0,
        DuckDbDialect.required(s"PIVOT/UNPIVOT: unbalanced parens in dataset: $s"))
      (s.substring(1, end).trim, s.substring(end + 1))
    } else {
      val m = "^[A-Za-z_][A-Za-z0-9_.]*".r.findFirstIn(s).getOrElse(
        throw new IllegalArgumentException(
          s"PIVOT/UNPIVOT: expected a table name or (subquery), got: $s"))
      (m, s.substring(m.length))
    }
  }

  /** Resolve the dataset half to a DataFrame (subqueries pass through
    * the dialect shim and the SELECT-only gate like any other text). */
  private def datasetDf(spark: SparkSession, ds: String): DataFrame =
    if (ds.matches("[A-Za-z_][A-Za-z0-9_.]*")) spark.table(ds)
    else spark.sql(gatedSql(spark, ds))

  /** DuckDB's PIVOT statement (round 13c):
    * `PIVOT ds ON col [IN (v, …)] [USING agg(arg) [AS a]] [GROUP BY g, …]`.
    * DuckDB's binder runs a DISTINCT query to discover the pivot values
    * when no IN list is given; this does the same (sorted ascending,
    * DuckDB's documented column order), then expands to a grouped
    * conditional aggregation via the DataFrame pivot — with the value
    * set always EXPLICIT, so no extra enumeration job hides in the
    * plan. Without GROUP BY the group keys are every column not named
    * in ON or USING (DuckDB's implicit-key rule). COUNT cells backfill
    * 0 where no rows matched (DuckDB counts an empty cell as 0; a
    * naive pivot leaves NULL).
    *
    * Bounds (throws, never silently wrong): one ON column, one USING
    * aggregate over `*` or a plain column, and a pivot-value domain
    * capped at 10,000 (each value becomes a physical output column —
    * past that the statement is almost certainly a mistake; DuckDB
    * itself caps at 100k grouped sets). */
  private def runPivot(spark: SparkSession, s0: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, count, sum, min, max, avg}
    val (ds, rest0) = splitDataset(s0.trim.substring("pivot".length))
    // The IN (...) list is extracted with the scanner BEFORE the shape
    // regex: a quoted pivot value containing ',' or ')' (e.g. IN
    // ('a,b')) would otherwise be split at the wrong boundary — silently
    // wrong pivot columns (round-13 advice).
    val onM = "(?is)^\\s*on\\s+([A-Za-z_][A-Za-z0-9_]*)".r
      .findFirstMatchIn(rest0).getOrElse(throw new IllegalArgumentException(
        "PIVOT: supported form is PIVOT <ds> ON <col> [IN (values)] " +
          s"[USING <agg>(<col>|*)] [GROUP BY cols] — got: $rest0"))
    val pcol = onM.group(1)
    val afterOn = rest0.substring(onM.matched.length)
    val (inList, rest) = "(?is)^\\s+in\\s*\\(".r.findFirstIn(afterOn) match {
      case Some(pre) =>
        val end = new DuckDbDialect.Lex(afterOn).closeOf(pre.length - 1,
          DuckDbDialect.required(s"PIVOT: unbalanced IN list: $afterOn"))
        // a comment inside the list belongs to no value
        val values = new DuckDbDialect.Lex(afterOn.substring(pre.length, end)).uncommented
        (Some(values), afterOn.substring(end + 1))
      case None => (None, afterOn)
    }
    val m = ("(?is)^" +
      "(?:\\s+using\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*\\(\\s*(\\*|[A-Za-z_][A-Za-z0-9_]*)\\s*\\)" +
      "(?:\\s+as\\s+[A-Za-z_][A-Za-z0-9_]*)?)?" +
      "(?:\\s+group\\s+by\\s+(.+?))?" +
      "(?:\\s+order\\s+by\\s+(.+?))?(?:\\s+limit\\s+(\\d+))?\\s*;?\\s*$").r
    val mm = m.findFirstMatchIn(rest).getOrElse(throw new IllegalArgumentException(
      "PIVOT: supported form is PIVOT <ds> ON <col> [IN (values)] " +
        s"[USING <agg>(<col>|*)] [GROUP BY cols] [ORDER BY cols] [LIMIT n] — got: $rest"))
    val (fnName, fnArg, groupBy, orderBy, limitN) =
      (Option(mm.group(1)), Option(mm.group(2)), Option(mm.group(3)),
        Option(mm.group(4)), Option(mm.group(5)))
    val df = datasetDf(spark, ds)
    val vals: Seq[Any] = inList match {
      case Some(l) =>
        // the scanner's comma split ('' stays an escaped quote inside a value)
        new DuckDbDialect.Lex(l).split(',').map(_.trim).filter(_.nonEmpty).map { v =>
          if (v.startsWith("'") && v.endsWith("'"))
            v.substring(1, v.length - 1).replace("''", "'")
          else v // numeric literal: Spark matches it by string form
        }.toSeq
      case None =>
        // binder-style discovery: the pivot domain is the data
        val rows = df.select(col(pcol)).distinct().orderBy(col(pcol))
          .limit(10001).collect()
        require(rows.length <= 10000,
          s"PIVOT: more than 10000 distinct values in $pcol")
        rows.map(_.get(0)).toSeq
    }
    val fn = fnName.getOrElse("count").toLowerCase
    val arg = fnArg.getOrElse("*")
    val groups: Seq[String] = groupBy match {
      case Some(g) => g.split(",").map(_.trim).toSeq
      case None => df.columns.toSeq.filterNot(c => c == pcol || c == arg)
    }
    val aggCol = (fn, arg) match {
      case ("count", "*") => count(lit(1))
      case ("count", a) => count(col(a))
      case ("sum", a) => sum(col(a))
      case ("min", a) => min(col(a))
      case ("max", a) => max(col(a))
      case ("avg" | "mean", a) => avg(col(a))
      case (other, _) => throw new IllegalArgumentException(
        s"PIVOT: unsupported aggregate $other (count/sum/min/max/avg)")
    }
    val out = df.groupBy(groups.map(col): _*).pivot(pcol, vals).agg(aggCol)
    // count over an empty cell is 0 in DuckDB, NULL from a naive pivot
    val filled = if (fn == "count") {
      val valueCols = out.columns.filterNot(groups.contains)
      out.na.fill(0L, valueCols)
    } else out
    applyOrderLimit(filled, orderBy, limitN)
  }

  /** Trailing ORDER BY / LIMIT on PIVOT/UNPIVOT statements, exactly
    * DuckDB's statement semantics (round 14; simple identifiers with
    * optional ASC/DESC — anything else throws via the regex). */
  private def applyOrderLimit(df: DataFrame, orderBy: Option[String],
      limitN: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val sorted = orderBy match {
      case Some(ob) =>
        val items = ob.split(",").map(_.trim).map { it =>
          val om = "(?is)^([A-Za-z_][A-Za-z0-9_]*)(?:\\s+(asc|desc))?$".r
            .findFirstMatchIn(it).getOrElse(throw new IllegalArgumentException(
              s"PIVOT/UNPIVOT: ORDER BY supports plain columns [ASC|DESC] — got: $it"))
          if (Option(om.group(2)).exists(_.equalsIgnoreCase("desc")))
            col(om.group(1)).desc else col(om.group(1)).asc
        }
        df.orderBy(items.toIndexedSeq: _*)
      case None => df
    }
    limitN.fold(sorted)(n => sorted.limit(n.toInt))
  }

  /** DuckDB's UNPIVOT statement (round 13c):
    * `UNPIVOT ds ON c1, c2, … INTO NAME n VALUE v` — rewritten to
    * Spark's own UNPIVOT clause (same NULL-dropping default in both
    * engines). Columns must share a least common type, as in DuckDB. */
  private def runUnpivot(spark: SparkSession, s0: String): DataFrame = {
    val (ds, rest) = splitDataset(s0.trim.substring("unpivot".length))
    val m = ("(?is)^\\s*on\\s+(.+?)\\s+into\\s+name\\s+([A-Za-z_][A-Za-z0-9_]*)" +
      "\\s+value\\s+([A-Za-z_][A-Za-z0-9_]*)" +
      "(?:\\s+order\\s+by\\s+(.+?))?(?:\\s+limit\\s+(\\d+))?\\s*;?\\s*$").r
    val mm = m.findFirstMatchIn(rest).getOrElse(throw new IllegalArgumentException(
      "UNPIVOT: supported form is UNPIVOT <ds> ON <cols> INTO NAME <n> " +
        s"VALUE <v> [ORDER BY cols] [LIMIT n] — got: $rest"))
    val cols = mm.group(1).split(",").map(_.trim)
    require(cols.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
      s"UNPIVOT: ON must list plain column names, got: ${mm.group(1)}")
    val (nameCol, valueCol) = (mm.group(2), mm.group(3))
    val base = if (ds.matches("[A-Za-z_][A-Za-z0-9_.]*")) ds
      else s"(${gatedSql(spark, ds)})"
    val sql = s"SELECT * FROM $base UNPIVOT ($valueCol FOR $nameCol IN " +
      s"(${cols.mkString(", ")}))"
    validate(spark, sql)
    applyOrderLimit(spark.sql(sql), Option(mm.group(4)), Option(mm.group(5)))
  }
}

package graft

import graft.engine._

/** Thin CLI over the engine shell (SURVEY.md §2 Tier A16;
  * /root/reference/main.py:5–29 analog): load a file, register it as
  * `data_table`, run a SQL query (or the NL→SQL stub when the input is
  * not SQL) through the SELECT-only gateway, print the profile and the
  * markdown-rendered result.
  *
  * Multi-source analysis (the reference's own roadmap item,
  * README.md:109–116): a comma-separated file list registers each file
  * under its sanitized stem (`sales.csv,dims.csv` → views `sales`,
  * `dims`; collisions suffixed `_2`, unusable stems fall back to
  * `data_table_k`), and the NL path routes through the multi-table
  * prompt so cross-file joins work from one question.
  *
  * Register-time bucketing opt-in (`--bucket=col[:N]`, default 16
  * buckets): every loaded file that HAS column `col` registers as a
  * bucketed+sorted catalog table instead of a temp view
  * (Catalog.registerBucketed), so equi-joins between co-bucketed
  * files run without a shuffle on that key — the pay-once-join-many
  * layout for fact tables queried by key repeatedly. Files without
  * the column register plain.
  *
  * Usage: runMain graft.Cli [--bucket=col[:N]] <data-file>[,<data-file>...] <sql-or-question>
  */
object Cli {
  /** Parse `--bucket=col[:N]` → (col, buckets); N defaults to 16. */
  private[graft] def parseBucket(arg: String): (String, Int) = {
    val spec = arg.stripPrefix("--bucket=")
    spec.split(":", 2) match {
      case Array(c, n) => (c, n.toInt)
      case Array(c) => (c, 16)
    }
  }
  def main(args: Array[String]): Unit = {
    val (bucketArgs, rest) = args.partition(_.startsWith("--bucket="))
    require(rest.length >= 2,
      "usage: graft.Cli [--bucket=col[:N]] <data-file>[,<data-file>...] <sql-or-question>")
    val bucket = bucketArgs.lastOption.map(parseBucket)
    val paths = rest(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val query = rest.drop(1).mkString(" ")
    val spark = Session.local("graft-cli")

    val views = Catalog.displayNames(paths.map(new java.io.File(_).getName))
    val tables = paths.zip(views).map { case (path, view) =>
      val df = Ingest.load(spark, path)
      bucket match {
        case Some((c, n)) if df.columns.contains(c) =>
          Catalog.registerBucketed(spark, df, view, c, n)
          println(s"$view: bucketed on $c ($n buckets)")
        case _ => Catalog.register(df, view)
      }
      val info = Profile(df)
      println(s"$view: rows=${info.rowCount} cols=${info.columnCount} " +
        info.columns.map(c => s"$c:${info.dtypes(c)}").mkString("[", ", ", "]"))
      (view, info)
    }

    val sql =
      if (query.trim.toUpperCase.startsWith("SELECT") || query.trim.startsWith("```"))
        query
      else SqlGenerator.fromEnv().generateMulti(query, tables)
    println(s"sql> ${SqlGateway.sanitize(sql)}")

    val result = Results.materialize(SqlGateway.run(spark, sql))
    println(Results.toMarkdown(result))
    spark.stop()
  }
}

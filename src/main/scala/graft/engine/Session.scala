package graft.engine

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine: the one session configuration
  * every main in `src/main` runs (SessionSpec pins that this is the only
  * builder), so what the bench measures is what users are served.
  *
  * The reference (Arterning/ai-duckdb) runs an embedded DuckDB with default
  * settings, one connection per statement (/root/reference/doc.py:117,241).
  * Here one long-lived SparkSession plays DuckDB's role; Catalyst + AQE
  * replace DuckDB's optimizer/scheduler end-to-end (SURVEY.md §4).
  *
  * Config choices are scale-oriented, not demo-oriented:
  *  - `local[cores]` and shuffle.partitions = cores (on a real cluster this
  *    is sized to data volume; AQE coalesces post-shuffle partitions
  *    anyway),
  *  - AQE on for runtime re-planning (skew joins, broadcast demotion). An
  *    interleaved A/B at 173 queries × 12 streams on 32 cores measured AQE
  *    on / 32 partitions at 15.5-16.9 s against 21.0-22.4 s for AQE off /
  *    16 partitions (BENCH_NOTES.md, round 13d "config flip"),
  *  - constraint propagation off: it is O(constraints²) optimizer time on
  *    every plan, a real cost over many small plans with no benefit at
  *    these sizes,
  *  - 20 range-exchange samples per partition (Spark's default is 100):
  *    range-sort boundary sampling re-executes the sort's child, and fewer
  *    samples per partition cost nothing at these partition counts,
  *  - UTC session timezone so results are reproducible against the
  *    DuckDB oracle regardless of host timezone,
  *  - [[graft.functions.GraftExtensions]] (custom SQL functions and the
  *    DuckDivRule analyzer rule) plus the [[graft.functions.Udfs]].
  *
  * Tools that need another value of a runtime conf (the plan tools' 4
  * partitions, the ladders' AQE off) set it with `spark.conf.set` on the
  * session this returns.
  */
object Session {
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString).toInt

  /** Pin the JVM default locale to ROOT: Spark's string functions
    * (UTF8String.toLowerCaseSlow and friends) fall back to the JVM
    * DEFAULT locale for non-ASCII strings, so on e.g. a Turkish-locale
    * host `lower('I')` would yield dotless ı while DuckDB's
    * locale-independent lower yields 'i' — silently breaking oracle
    * hash comparisons and the dedup canonicalization. Called from every
    * JVM entry point that creates a session. */
  def pinLocale(): Unit =
    java.util.Locale.setDefault(java.util.Locale.ROOT)

  def local(appName: String = "graft"): SparkSession = {
    pinLocale()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.execution.rangeExchange.sampleSizePerPartition", "20")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Udfs.register(spark)
    spark
  }
}

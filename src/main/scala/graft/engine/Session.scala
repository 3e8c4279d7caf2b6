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
  *  - [[CodegenCacheEntries]] compiled classes kept (Spark's default is
  *    100; see there),
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
  /** Entries of Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is an
    * LRU, and every round of the same work asks for the same classes in
    * the same cyclic order: a cache smaller than that working set evicts
    * each class just before it is asked for again, so nearly every class
    * is recompiled (Janino) every round. Measured on 4 cores, Janino
    * compiles per warm round, 100 entries -> this size: a `web_session`
    * round (3 uploads, 10 asks) 48-83 -> 0, an `ops_mix` pass 75-87 ->
    * 0-10, a pass over the 180-query library at sf0.01 2,439 -> 34-58.
    * That library's working set is about 1,800 classes (its first pass
    * compiles 1,782-1,792), so this size holds it with room to spare.
    * An entry holds about 32 KB of heap: the 1,876 entries of two
    * library passes held 60 MB.
    *
    * The cache is JVM-global, and its size is read once, from the SQLConf
    * that is active at the JVM's first code generation (it is a static
    * conf). It holds only because [[local]] builds the first session of
    * every main (Cli, WebMain, Bench, Verify, the tools) and `TestSpark`
    * the first one of the test JVM; a session built after the first
    * code generation leaves the size as it found it. */
  val CodegenCacheEntries = 4096

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Udfs.register(spark)
    spark
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = { graft.engine.Session.pinLocale(); SparkSession.builder() }
      .master("local[4]")
      .appName("graft-test")
      // the same extensions the production gateway session gets
      // (engine.Session.local): custom functions AND the DuckDivRule
      // analyzer rule — function registration alone can be retrofitted
      // post-build, injected rules cannot
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      // the compiled-class cache users get; this is the test JVM's first
      // session, so the size holds (see Session.CodegenCacheEntries)
      .config("spark.sql.codegen.cache.maxEntries",
        graft.engine.Session.CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.Udfs.register(s) // as Session.local does, once per session
    s
  }
  /** Janino compiles (misses of Spark's JVM-global compiled-class
    * cache) while `body` runs, in any thread of this JVM. */
  def codegenCompiles(body: => Unit): Long = {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }

  val Sf = "/root/testdata/sf0.001"
  def resource(name: String): String = s"src/test/resources/$name"
}

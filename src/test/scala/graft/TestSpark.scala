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
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.Udfs.register(s) // as Session.local does, once per session
    s
  }
  val Sf = "/root/testdata/sf0.001"
  def resource(name: String): String = s"src/test/resources/$name"
}

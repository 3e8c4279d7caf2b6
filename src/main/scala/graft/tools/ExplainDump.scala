package graft.tools

/** Dev tool: write `.explain("formatted")` for named queries to files —
  * the plans/rNN/<query>_{before,after}.txt optimization-round evidence.
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> <query> [...]
  * e.g.   runMain graft.tools.ExplainDump plans/r20 before q_window_rank
  * Writes <outDir>/<query>_<suffix>.txt. sfDir via SPARK_GRAFT_SF_DIR
  * (default sf0.001 — plan shape, not data, is what these files pin).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    sys.props("graft.no.cache") = "1"
    val spark = graft.engine.Session.local("graft-explain-dump")
    // the committed plan text pins 4 shuffle partitions
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt")
      java.nio.file.Files.writeString(p, txt)
      System.err.println(s"[explain-dump] wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}

package graft.tools

/** Dev tool: solo-latency timing for named operator queries.
  *
  * Usage: runMain graft.tools.Timeit <sfDir> <query> [<query> ...]
  * Runs each query `GRAFT_TIMEIT_REPS` times (default 3) after a warm-up
  * and prints min/median seconds — the contention-free number the
  * VERDICT compares against the DuckDB per-query baseline.
  */
object Timeit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    // env var, not a sys prop: sbt forks the runMain JVM, which drops -D flags
    val reps = sys.env.get("GRAFT_TIMEIT_REPS").map(_.toInt).getOrElse(3)
    // the session Bench and users get, so solo numbers measure the
    // configuration the driver benches
    val spark = graft.engine.Session.local("graft-timeit")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // the warm-up IS the cold run: record it, so ledgers can carry a
      // first-rep column alongside min — a query whose min depends on a
      // warm Caches.cached materialization (e.g. q_text_tfidf) never
      // silently flatters a ratio (VERDICT r19 item 8)
      val first = once()
      val ts = (1 to reps).map(_ => once()).sorted
      graft.ops.Caches.release() // shared intra-query cache convention
      println(f"$n%-28s min=${ts.head}%.3f med=${ts(ts.size / 2)}%.3f first=$first%.3f s ($reps reps)")
    }
    spark.stop()
  }
}

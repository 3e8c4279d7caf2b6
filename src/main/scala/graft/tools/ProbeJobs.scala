package graft.tools

/** Count the Spark jobs a query starts, DataFrame construction apart
  * from execution, plus the stages execution completes and wall
  * seconds. Construction should start no job at all (everything it
  * needs is planned lazily); the jobs it does start are eager driver
  * work, paid before the query can even be planned. Under the driver's
  * 12-stream concurrent protocol a query's latency floor is its SERIAL
  * stage chain × the per-stage scheduling floor, so the execution
  * job/stage count is the thing to shrink for the sub-second class.
  *
  * Each query runs twice, the first time untimed (JIT, memoized index
  * builds); the figures are the second run's, with the first build's
  * job count beside them. Jobs are counted exactly by [[JobCounter]].
  * Usage:
  *   runMain graft.tools.ProbeJobs [sfDir] [--build-only] [q1 q2 ...]
  * With no query names, every `SparkEntry` query runs, and the TOTAL
  * line gives the job count of building the whole library.
  * `--build-only` builds each query without executing it.
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val buildOnly = args.contains("--build-only")
    val names = args.drop(1).filterNot(_ == "--build-only").toSeq match {
      case Seq() => graft.SparkEntry.queries.keys.toSeq.sorted
      case ns => ns
    }
    val spark = graft.engine.Session.local("graft-probe-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    val counter = new JobCounter(spark.sparkContext)
    graft.ops.Tables.warm(spark, sfDir)

    final case class Run(buildJobs: Int, buildMs: Double, execJobs: Int, execStages: Int,
        execS: Double)
    def once(n: String): Run = {
      val t0 = System.nanoTime()
      val (df, bj, _) = counter.count(graft.SparkEntry.queries(n)(spark, sfDir))
      val buildMs = (System.nanoTime() - t0) / 1e6
      if (buildOnly) Run(bj, buildMs, 0, 0, 0.0)
      else {
        val t1 = System.nanoTime()
        val (_, xj, xs) = counter.count(df.write.format("noop").mode("overwrite").save())
        Run(bj, buildMs, xj, xs, (System.nanoTime() - t1) / 1e9)
      }
    }

    val runs = names.flatMap { n =>
      try {
        val first = once(n); graft.ops.Caches.release()
        val r = once(n); graft.ops.Caches.release()
        println(f"$n%-28s build: jobs=${r.buildJobs}%3d (first ${first.buildJobs}%3d) " +
          f"ms=${r.buildMs}%7.1f" + (if (buildOnly) "" else
            f"  exec: jobs=${r.execJobs}%3d stages=${r.execStages}%3d wall=${r.execS}%.3f s"))
        Some(first -> r)
      } catch { case e: Exception =>
        graft.ops.Caches.release()
        println(s"$n FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
    }
    val rs = runs.map(_._2)
    println(f"TOTAL ${runs.size}%d of ${names.size}%d queries  build: " +
      f"jobs=${rs.map(_.buildJobs).sum}%d (first ${runs.map(_._1.buildJobs).sum}%d) " +
      f"ms=${rs.map(_.buildMs).sum}%.0f" + (if (buildOnly) "" else
        f"  exec: jobs=${rs.map(_.execJobs).sum}%d stages=${rs.map(_.execStages).sum}%d " +
          f"wall=${rs.map(_.execS).sum}%.1f s"))
    counter.close()
    spark.stop()
  }
}

package perfbench

import graft.SparkEntry
import graft.engine.Json
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import scala.collection.mutable

/** The operator-library workload: one stream of `SparkEntry.queries`,
  * each built (DataFrame construction, which may run eager jobs) and then
  * run to the noop sink, the sink `Bench` uses. Passes are
  * timed after [[WarmPasses]] untimed warm-up passes over the same tables. */
object OpsSuite {

  /** One stream of six operator queries, chosen from traced passes that
    * timed each query's DataFrame construction (with its eager jobs) and
    * its execution apart; perfbench/README.md has the split. The first
    * four are the lightest: 45-56% of their time is construction, and the
    * median, in wall time and in CPU, falls between the third and the
    * fourth. The last two are the heaviest: about 90% of their time is
    * execution, and they use more than half of a pass's CPU. */
  val Mix: Seq[String] = Seq(
    "q_topk", "q_join_cross", "q_dedup_ngram_jaccard", "q_tpch_q18_shape",
    "q_agg_hll_merge", "q_agg_kll_merge")

  /** Untimed passes before the timed ones. The first, in a cold JVM,
    * takes about three times as long as a warm pass; the second lets the
    * JIT catch up further, which narrowed the spread of the CPU figures
    * between runs. */
  val WarmPasses = 2

  /** One query's run: DataFrame construction, then execution to the sink,
    * and the Java-thread CPU ms of both. */
  private final case class Timing(name: String, constructMs: Double, execMs: Double,
      rows: Long, cpuMs: Double) {
    def totalMs: Double = constructMs + execMs
  }

  def run(a: Harness.Args): Harness.Result = {
    val dir = s"${a.data}/tables"
    val (spark, _, setupS) = Harness.setUp(Harness.SetUps)(_ => ())(_ => ())
    val r = new Harness.Result
    Harness.mark("set up")
    val warm = (1 to WarmPasses).flatMap(_ => pass(spark, dir, None))
    Harness.mark("warmed up")
    // timed passes: one per 4 s of --seconds, at least two
    val reps = math.max(2, a.seconds / 4)
    val walls, cpus = mutable.ArrayBuffer.empty[Double]
    val timed = (1 to reps).flatMap { _ =>
      val t0 = System.nanoTime()
      val c0 = Harness.threadCpu()
      val p = pass(spark, dir, None)
      walls += Harness.ms(t0)
      cpus += Harness.cpuMsSince(c0)
      p
    }
    Harness.mark("timed passes done")
    val ok = timed.collect { case Right(t) => t }
    r.attempted = warm.size + timed.size
    (warm ++ timed).collect { case Left(err) => err }.foreach(r.errors += _)
    val byQuery = ok.groupBy(_.name).values.toSeq
    // per query: its CPU is the median over the passes, its latency the best
    val cpu = byQuery.map(ts => Harness.median(ts.map(_.cpuMs)))
    val lat = byQuery.map(ts => ts.map(_.totalMs).min)
    r.e2e ++= Seq(
      "setup_s" -> setupS,
      "op_cpu_p50_ms" -> Harness.median(cpu),
      "round_cpu_s" -> Harness.median(cpus.toSeq) / 1e3,
      "retained_heap_mb" -> Harness.retainedHeapMb())
    r.layers ++= Seq(
      "wall.op_p50_ms" -> Harness.median(lat),
      "wall.op_p90_ms" -> Harness.quantile(lat, 0.9),
      "wall.round_s" -> walls.min / 1e3)
    val rowsSeen = mutable.ArrayBuffer.empty[(String, Timing)] ++=
      warm.collect { case Right(t) => "warm" -> t } ++= ok.map("timed" -> _)
    r.extra("timed_walls_s") = Json.arr(walls.toSeq.map(w => f"${w / 1e3}%.3f"))
    r.extra("timed_cpu_s") = Json.arr(cpus.toSeq.map(w => f"${w / 1e3}%.3f"))
    val oracles = SparkEntry.oracleSql
    r.extra("oracles") = Json.obj(Mix.flatMap(q => oracles.get(q).map(q -> Json.str(_))): _*)

    if (a.trace) {
      val trace = new Trace(spark)
      val t1 = System.nanoTime()
      val traced = pass(spark, dir, Some(trace))
      val tracedMs = Harness.ms(t1)
      trace.detach()
      // one more untraced pass, so the traced one sits between two
      // untraced ones
      val t2 = System.nanoTime()
      val after = pass(spark, dir, None)
      val afterMs = Harness.ms(t2)
      val c = trace.listener.of("construct")
      val x = trace.listener.of("exec")
      r.layers ++= Seq(
        "entry.construct_ms" -> trace.durations("construct").sum,
        "entry.construct_jobs" -> c.jobs.get.toDouble,
        "catalyst.analysis_ms" -> trace.listener.analysisMs.sum,
        "catalyst.optimization_ms" -> trace.listener.optimizationMs.sum,
        "catalyst.planning_ms" -> trace.listener.planningMs.sum,
        "exec.ms" -> trace.durations("exec").sum,
        "exec.jobs" -> x.jobs.get.toDouble,
        "exec.stages" -> x.stages.get.toDouble,
        "exec.tasks" -> x.tasks.get.toDouble,
        "exec.task_time_ms" -> x.taskTimeMs.get.toDouble,
        "exec.shuffle_read_bytes" -> x.shuffleRead.get.toDouble,
        "exec.shuffle_write_bytes" -> x.shuffleWrite.get.toDouble,
        "exec.spill_bytes" -> x.spill.get.toDouble,
        "exec.gc_ms" -> x.gcMs.get.toDouble,
        "exec.rows_out" -> traced.collect { case Right(t) => t.rows.toDouble }.sum,
        "tables.cached_mb" ->
          spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0,
        "trace.overhead_ms" -> (tracedMs - (walls.last + afterMs) / 2))
      // a failure that shows only in these passes still counts
      for ((phase, p) <- Seq("traced" -> traced, "after" -> after)) {
        p.collect { case Left(err) => err }.foreach(r.errors += _)
        rowsSeen ++= p.collect { case Right(t) => phase -> t }
        r.attempted += Mix.size
      }
    }
    // per query and pass: phase, name, rows, construction ms, execution
    // ms, Java-thread CPU ms
    r.extra("rows") = Json.arr(rowsSeen.toSeq.map { case (phase, t) =>
      Json.arr(Seq(Json.str(phase), Json.str(t.name), t.rows.toString,
        f"${t.constructMs}%.1f", f"${t.execMs}%.1f", f"${t.cpuMs}%.1f"))
    })
    r
  }

  /** One sequential pass over [[Mix]]; per query its timing or its error. */
  private def pass(spark: SparkSession, dir: String, trace: Option[Trace])
      : Seq[Either[String, Timing]] = {
    val queries = SparkEntry.queries
    def span[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))
    Mix.map { name =>
      try {
        val c0 = Harness.threadCpu()
        val t0 = System.nanoTime()
        val df = span("construct")(queries(name)(spark, dir))
        val t1 = System.nanoTime()
        val rows = span("exec")(runToNoop(df))
        val execMs = Harness.ms(t1)
        Right(Timing(name, (t1 - t0) / 1e6, execMs, rows, Harness.cpuMsSince(c0)))
      } catch {
        case e: Exception => Left(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  /** Full materialization through the noop sink; the row count rides an
    * observed metric, so no second job is needed to count. */
  private def runToNoop(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }
}

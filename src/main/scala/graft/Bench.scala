package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Driver-run benchmark: every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * one shared session (like the reference's per-process engine), full
  * materialization through the noop sink (count() would let Catalyst
  * prune whole subtrees of scan-heavy queries). Emits ONE JSON line.
  *
  * The JSON line is kept deliberately compact (headline queries only):
  * round-1's full 106-query map made the line ~3 KB and it arrived
  * truncated in the driver's tail capture ("parsed": null in
  * BENCH_r01.json). The complete per-query latency map is written to
  * bench_full.json in the working directory instead.
  */
object Bench {

  /** Representative subset reported inline — one per operator family. */
  private val headline = Seq(
    "q_agg_group", "q_tpch_q3_shape", "q_tpch_q10_shape", "q_tpch_q18_shape",
    "q_join_multiway", "q_window_rank", "q_topn_per_group", "q_except_all",
    "q_events_session", "q_events_sliding", "q_dedup_minhash",
    "q_dedup_ngram_jaccard", "q_sim_cosine_topk", "q_sim_ivf",
    "q_text_quality", "q_scan_project")

  /** Longest-processing-time-first submission order (classic makespan
    * heuristic): the known-heavy queries start immediately instead of
    * landing at the tail of the 8 concurrent streams. Ranked by measured
    * sf0.1 latency; unlisted queries follow alphabetically. */
  private val heavyFirst = Seq(
    "q_dedup_cluster", "q_join_salted", "q_dedup_minhash",
    "q_dedup_simhash", "q_agg_approx_quantile", "q_sim_ivf",
    "q_agg_stats", "q_agg_count_distinct", "q_events_gapfill",
    "q_grouping_sets", "q_cte_maxrev", "q_events_anomaly",
    "q_join_multiway", "q_text_charngram_sketch", "q_events_session",
    "q_agg_group", "q_dedup_embedding", "q_corpus_contamination",
    "q_asof_join", "q_window_range_frame", "q_window_ntile",
    "q_sample_stratified", "q_embed_quantize", "q_scalar_cast",
    "q_distinct", "q_tpch_q18_shape", "q_tpch_q3_shape",
    "q_sim_centroid_dist", "q_cube", "q_media_pipeline",
    "q_join_theta", "q_sample", "q_join_inner")
    .zipWithIndex.toMap

  private val plateauTol = 0.15

  /** Plateau test for the adaptive re-run loop, anchored on the RUNNING
    * MIN rather than adjacent pairs. A run "improves" only if it beats
    * the best of all PRECEDING runs by more than [[plateauTol]]; walls
    * plateau once the last two runs both fail to improve. The previous
    * adjacent-pair criterion compared each run to its immediate
    * predecessor, so a single contention spike followed by a return to
    * baseline ([12, 13, 30, 12.5] — the 12.5 "improves" on the 30 by
    * 58%) read as renewed descent and could only exit at the run cap
    * with a spurious steady_state:false (round 10's contended walls
    * [81, 94, 50, 53, 30, 13] did exactly that). Against the running
    * min, the post-spike 12.5 is correctly a non-improvement over the
    * earlier 12, while genuine monotone descent (round 8's
    * [183, 93, 80.5]) still keeps the loop running. */
  private[graft] def plateaued(ws: Seq[Double]): Boolean =
    ws.size >= 3 && (1 to 2).forall { k =>
      val i = ws.size - k
      ws(i) >= ws.take(i).min * (1 - plateauTol)
    }

  /** Contention spread: upper-median of (concurrent latency / solo
    * latency) over the solo-probed heaviest queries. On an idle box the
    * 12-stream concurrent phase inflates a heavy query 2.5-5× over its
    * solo latency (self-contention — r11 idle measurements: 2.46/4.53/
    * 5.02); on a neighbor-loaded box the oversubscribed concurrent phase
    * inflates superlinearly while the later solo probe slips into
    * scheduling gaps (r11 driver box: q_join_multiway 13.0 s concurrent
    * vs 0.74 s solo = 17.6×). [[SpreadBound]] sits between the two
    * regimes. Pairs with failed/sentinel solo (≤0) are excluded; None
    * when nothing is measurable. */
  private[graft] def spreadOf(pairs: Seq[(Double, Double)]): Option[Double] = {
    val ratios = pairs.collect { case (c, s) if s > 0 && c > 0 => c / s }.sorted
    if (ratios.isEmpty) None else Some(ratios(ratios.size / 2))
  }
  private[graft] val SpreadBound = 8.0

  /** 1-minute /proc/loadavg (−1 when unreadable): raw observability for
    * the artifact — the r11 driver run ([147.5, 44.2, 115.7, 48.9] s
    * walls) satisfied the running-min plateau and self-labeled
    * steady_state:true while ~3× inflated by neighbors; loadavg per run
    * plus the spread metric make that contention machine-readable. */
  private def loadavg1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    // sampled before the session spins up any work: the cleanest view of
    // pre-existing (neighbor) load this process can get
    val loadStart = loadavg1()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.engine.Session.cores
    // the production session (see engine.Session for its settings and
    // their measured reasons): the bench times what users are served
    val spark = graft.engine.Session.local("graft-bench")
    spark.sparkContext.setLogLevel("ERROR")
    graft.ops.Tables.warm(spark, sfDir)
    // Concurrent execution (TPC-H throughput-test style): a median query
    // uses a handful of the 32 cores for ~0.5 s, so running a few
    // streams concurrently measures what the engine can actually
    // deliver. "value" = suite wall-clock at this parallelism;
    // "queries" = headline-query latencies under that load; "sum_sec" =
    // the sequential-equivalent sum over ALL queries.
    // 12 streams measured best on local[32] (8 → 25.5 s wall, 12 →
    // 18.4 s, 16 → 19.8 s with contention-inflated latencies)
    val par = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAR", "12").toInt
    // dev-only subset filter, e.g. SPARK_GRAFT_ONLY=q_dedup_minhash,q_topk
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.select(only).toSeq
      .sortBy { case (n, _) => (heavyFirst.getOrElse(n, Int.MaxValue), n) }
    // (latency, succeeded) per query — a failure is reported in the
    // "failed" list, never as a plausible-looking duration.
    // 1-min loadavg sampled as each suite run starts (the first sample is
    // near-pristine neighbor load; later ones include this process's own
    // decaying contribution — still enough to see a loaded box)
    val loadRuns = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runSuite(): (Double, Seq[(String, Double, Boolean)]) = {
      loadRuns += loadavg1()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      val wall0 = System.nanoTime()
      val futures = selected.map { case (name, fn) =>
        name -> pool.submit(new java.util.concurrent.Callable[(Double, Boolean)] {
          def call(): (Double, Boolean) = {
            val t0 = System.nanoTime()
            val ok =
              try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
              catch { case e: Throwable =>
                System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
              }
            val dt = (System.nanoTime() - t0) / 1e9
            System.err.println(f"[bench] $name%-28s $dt%.3f s${if (ok) "" else " (failed)"}")
            (dt, ok)
          }
        })
      }
      val rs = futures.map { case (n, f) => val (dt, ok) = f.get(); (n, dt, ok) }
      pool.shutdown()
      // release the queries' registered intra-query caches between SUITE
      // runs (not between the 12 concurrent streams' queries — an
      // unpersist racing another stream's reader costs recompute time)
      graft.ops.Caches.release()
      ((System.nanoTime() - wall0) / 1e9, rs)
    }
    // Steady-state-aware repetition: the driver benches minutes after its
    // correctness sweep, and a fixed run count on a hot box can stop while
    // the wall is still falling — round 8's three runs recorded
    // [183, 93, 80.5] s (still monotonically descending) for code that
    // runs 11.3 s idle, a 6.7× artifact inflation. So: run at least
    // SPARK_GRAFT_BENCH_RUNS (default 3) suites, then KEEP re-running
    // (cap SPARK_GRAFT_BENCH_MAX_RUNS, default 6) until the walls
    // plateau (see [[Bench.plateaued]] — running-min anchored, so one
    // contention spike can't read as renewed descent). If the cap is
    // hit while still descending, steady_state:false is emitted so the
    // artifact self-reports that its headline number is a hot-box upper
    // bound, not the engine's latency. The BEST wall / per-query
    // latencies are reported; a failure in ANY run still fails the
    // artifact. An EXPLICIT SPARK_GRAFT_BENCH_RUNS=N without MAX_RUNS
    // means exactly N runs (the pre-round-9 dev contract — a quick
    // RUNS=1 smoke must not silently become 2-6 full suites); the
    // adaptive re-running applies to the defaults or when MAX_RUNS
    // opts in.
    val runsEnv = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
    val maxEnv = sys.env.get("SPARK_GRAFT_BENCH_MAX_RUNS")
    val minRuns = runsEnv.getOrElse("3").toInt
    val maxRuns = math.max(minRuns,
      maxEnv.orElse(runsEnv).getOrElse("6").toInt)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[(String, Double, Boolean)])]
    // Janino compiles (misses of Spark's compiled-class cache, see
    // Session.CodegenCacheEntries) over the timed phase: every suite run
    // and solo re-run, so an artifact tells "recompiled" from "ran slower".
    // The time is CodeGenerator's exact sum over the same compiles (the
    // metric's histogram keeps only a sample of their times).
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    while (acc.size < minRuns || (acc.size < maxRuns && !plateaued(acc.map(_._1).toSeq)))
      acc += runSuite()
    // per-query min across runs (contention on either run is one-sided)
    def minsOf(runs: Seq[(Double, Seq[(String, Double, Boolean)])]): Seq[(String, Double, Boolean)] =
      selected.map { case (n, _) =>
        val obs = runs.map(_._2.find(_._1 == n).get)
        (n, obs.map(_._2).min, obs.forall(_._3))
      }
    var results = minsOf(acc.toSeq)
    // Locale.ROOT: the f-interpolator honors the JVM default locale, so a
    // comma-decimal locale would emit invalid JSON (same bug class fixed
    // in Results.formatCell).
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f",
      v.asInstanceOf[AnyRef])
    def jmap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    // Solo re-runs of the 8 slowest concurrent-phase queries: under 12
    // concurrent streams a heavy query's recorded latency includes
    // machine contention (round 2: 70 s recorded vs 3.5 s real). The solo
    // numbers make that skew visible in the artifact itself. Min of 3
    // reps, not single-shot: this box shows 1.5-2x run-to-run noise, and
    // round 7's single-shot solo recorded 7.44 s for a query a 5-rep
    // Timeit measures at 2.14 s — the noise guard was itself noise-bound.
    // Only SUCCESSFUL reps count toward the min: a rep that fails fast
    // (e.g. a transient write error) records its time-to-fail, and an
    // unguarded min() would report that as the query's solo latency.
    // All-reps-failed emits the -1.0 sentinel (never a plausible time).
    // take(8) since round 21 (was 3): the r20 driver bench landed in a
    // contended window and its 16-query headline latencies drifted 0.6-
    // 0.9× with zero code change; eight solo rows put contention-free
    // numbers for every heavy operator in the artifact itself
    // (additions-only: the solo_rerun map just gains entries).
    val solo = results.filter(_._3).sortBy(-_._2).take(8).map { case (n, _, _) =>
      val fn = SparkEntry.queries(n)
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case _: Throwable => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val good = reps.collect { case (dt, true) => dt }
      n -> (if (good.nonEmpty) good.min else -1.0)
    }
    val soloJson = jmap(solo)
    // Contention-aware re-running: while the concurrent-vs-solo spread of
    // the solo-probed heaviest queries exceeds [[SpreadBound]] (the r11
    // driver-box signature the plateau criterion blessed), burn remaining
    // run budget hoping for a calmer window — per-query minima absorb any
    // improvement. If the cap is hit still wide, the artifact self-labels
    // contended:true so a 3×-inflated wall can't read as the engine's
    // latency.
    def currentSpread(): Option[Double] = spreadOf(solo.map { case (n, s) =>
      (results.find(_._1 == n).map(_._2).getOrElse(-1.0), s)
    })
    var spread = currentSpread()
    while (spread.exists(_ > SpreadBound) && acc.size < maxRuns) {
      acc += runSuite()
      results = minsOf(acc.toSeq)
      spread = currentSpread()
    }
    val contended = spread.exists(_ > SpreadBound)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    val walls = acc.map(_._1).toSeq
    val steadyState = plateaued(walls)
    val wall = walls.min
    val failed = acc.flatMap(_._2).collect { case (n, _, false) => n }.distinct.toSeq
    val okLatency = results.collect { case (n, dt, true) => n -> dt }.toMap
    val sum = okLatency.values.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val wallsJson = walls.map(num).mkString("[", ",", "]")
    val spreadJson = spread.map(num).getOrElse("null")
    val loadJson = loadRuns.map(num).mkString("[", ",", "]")
    val contentionJson = s""""loadavg_start":${num(loadStart)},"loadavg_runs":$loadJson,"spread":$spreadJson,"contended":$contended"""
    val codegenJson = s""""codegen_compiles":$compiles,"codegen_compile_ms":${num(compileMs)}"""
    // full map → file (too long for one safely-parseable stdout line)
    val full = jmap(results.map(r => r._1 -> r._2).sortBy(_._1))
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(s"""{"wall_sec":${num(wall)},"wall_runs":$wallsJson,"steady_state":$steadyState,$contentionJson,$codegenJson,"parallelism":$par,"sf":"$sfDir","failed":$failedJson,"solo_rerun":$soloJson,"queries":$full}""")
      finally w.close()
    } catch { case _: Throwable => () }
    val head = jmap(headline.flatMap(n => okLatency.get(n).map(n -> _)))
    // protocol self-description (VERDICT r19 item 5): the DuckDB
    // comparison number varies ~1.7× by HOW the baseline is run
    // (in-process warm vs per-process cold) — naming this run's own
    // protocol in the artifact forces every committed ratio to be
    // like-for-like (pair with tools/bench_duckdb.py run WITH a
    // timeout arg = per-process, the conservative protocol)
    val protocol = s""""protocol":"spark local[$cpus] $par-stream concurrent suite, best of ${walls.size} runs, table cache warm; session Session.local: AQE on, shuffle partitions = cores ($cpus), constraint propagation off, range-exchange sample 20 per partition, codegen cache ${graft.engine.Session.CodegenCacheEntries} entries, GraftExtensions + Udfs; compare to DuckDB per-process sequential (tools/bench_duckdb.py with timeout arg)""""
    val line = s"""{"metric":"total","value":${num(wall)},"unit":"sec","queries":$head,"sf":"$sfDir","sum_sec":${num(sum)},"parallelism":$par,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"solo_rerun":$soloJson,"wall_runs":$wallsJson,"steady_state":$steadyState,$contentionJson,$codegenJson,$protocol}"""
    println(line)
    spark.stop()
    // re-print after spark.stop(): guarantees the JSON is the last
    // stdout line this program emits, directly above sbt's epilogue,
    // inside any bounded tail capture.
    println(line)
    System.out.flush()
  }
}

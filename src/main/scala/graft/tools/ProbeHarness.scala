package graft.tools

import org.apache.spark.sql.SparkSession

/** Shared harness for the three scaling probes ([[ScaleProbe]],
  * [[ScaleProbeRel]], [[ScaleProbeEvents]]): one session config, one
  * generate→warmup→time loop and one report format, so the probes
  * cannot drift apart in methodology (they had already diverged in ks
  * sets and label widths before this extraction). Each probe supplies
  * only its replica-generation logic and query list.
  *
  * `GRAFT_PROBE_KS` (e.g. "1,4") overrides the K ladder for quick dev
  * smokes of a probe without paying the full 64× generation.
  */
object ProbeHarness {

  def session(): SparkSession = {
    // NOTE: probes keep AQE OFF deliberately even after the round-13d
    // bench config flip — a ladder measures how PLANNED shuffle work
    // grows with K, and AQE's runtime coalescing would re-shape stages
    // differently per rung, confounding the growth signal with plan
    // variance. Absolute probe times are therefore not comparable to
    // Bench walls; only the K-to-K ratios matter here.
    val spark = graft.engine.Session.local("graft-probe")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def ks(default: Seq[Int]): Seq[Int] =
    sys.env.get("GRAFT_PROBE_KS")
      .map(_.split(",").toSeq.map(_.trim.toInt))
      .getOrElse(default)

  /** `GRAFT_PROBE_QS` (comma list) restricts a probe to named queries —
    * e.g. re-running just the simhash/minhash rungs at K=128 without
    * paying the documented-quadratic Jaccard expansion. */
  def qs(default: Seq[String]): Seq[String] =
    sys.env.get("GRAFT_PROBE_QS")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(default)

  /** Shuffle-partition policy per K (VERDICT r12 #3: demonstrate the
    * partition-scaling claim, don't argue it). Default: the session's
    * fixed 16 — the config every recorded ladder ran under. Set
    * `GRAFT_PROBE_PARTS=scaled` for partitions ∝ K (max(16, 2K): 16 up
    * to K=8, 64 at K=32, 128 at K=64, 256 at K=128 — what a real
    * cluster sized to the data would use), or an integer for a fixed
    * override. Applied via runtime conf before each K's timings, so one
    * probe process compares like-for-like. */
  def partitionsFor(k: Int): Option[Int] =
    sys.env.get("GRAFT_PROBE_PARTS").map {
      case "scaled" => math.max(16, 2 * k)
      case n => n.trim.toInt
    }

  /** Generate each K's dataset via `gen(k, dir)`, run one untimed K=1
    * warmup (codegen + JIT for the whole family), then time every query
    * cold-cache per K and print the table + linearity ratio.
    *
    * `maxKFor` caps individual queries at a smaller K than the ladder's
    * tail (e.g. the exact-Jaccard pair expansion is documented ~K² on a
    * dup-heavy corpus and is the small/medium-corpus tool — running it
    * at K=32 would measure a documented non-goal). Skipped cells print
    * "-"; the TOTAL row and the linearity ratio are computed over the
    * queries that run at EVERY K, so the ratio stays a like-for-like
    * comparison. */
  def run(spark: SparkSession, queries: Seq[String], kLadder: Seq[Int],
      outBase: String, gen: (Int, String) => Unit,
      maxKFor: Map[String, Int] = Map.empty): Unit = {
    // GRAFT_PROBE_REUSE=1 skips regeneration when the K's dataset dir
    // already exists — the fixed-vs-scaled partition comparison runs the
    // same ladder twice and the 128× corpus is minutes of writing.
    val reuse = sys.env.get("GRAFT_PROBE_REUSE").contains("1")
    kLadder.foreach { k =>
      val dir = s"$outBase/k$k"
      if (!reuse || !new java.io.File(s"$dir/_PROBE_DONE").exists()) {
        gen(k, dir)
        new java.io.File(s"$dir/_PROBE_DONE").createNewFile()
      }
    }

    def timeOnce(name: String, dir: String): Double = {
      System.err.println(s"[probe] $name @ $dir")
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    def active(k: Int): Seq[String] =
      queries.filter(q => maxKFor.getOrElse(q, Int.MaxValue) >= k)
    // warmup honors maxKFor too: a GRAFT_PROBE_KS override starting
    // above a capped query's max K (e.g. KS=16,32 on the dup ladder)
    // must not warm the documented-quadratic queries at the very scale
    // the cap exists to avoid
    active(kLadder.head).foreach(q => timeOnce(q, s"$outBase/k${kLadder.head}"))
    val results = kLadder.map { k =>
      // fresh timings per K: drop every cached frame from the previous
      // scale so each K pays its own materialization
      spark.sharedState.cacheManager.clearCache()
      partitionsFor(k).foreach { p =>
        System.err.println(s"[probe] K=$k: spark.sql.shuffle.partitions=$p")
        spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      }
      k -> active(k).map(q => q -> timeOnce(q, s"$outBase/k$k")).toMap
    }
    println("partitions per K: " + kLadder.map(k =>
      s"K=$k:${partitionsFor(k).getOrElse(16)}").mkString(", "))
    println(f"${"query"}%-26s" + kLadder.map(k => f"K=$k%-7d").mkString)
    queries.foreach { q =>
      println(f"$q%-26s" + results.map { case (_, m) =>
        m.get(q).map(t => f"$t%-7.2f").getOrElse(f"${"-"}%-7s") }.mkString)
    }
    val everyK = active(kLadder.last)
    val totals = results.map { case (k, m) => k -> everyK.flatMap(m.get).sum }
    val totalLabel = if (everyK.size == queries.size) "TOTAL" else "TOTAL(all-K qs)"
    println(f"$totalLabel%-26s" + totals.map { case (_, t) => f"$t%-7.2f" }.mkString)
    val (t1, tLast) = (totals.head._2, totals.last._2)
    val kLast = kLadder.last
    println(f"${kLast}x data => ${tLast / t1}%.2fx time (linear=$kLast, " +
      s"quadratic=${kLast * kLast}; sub-linear reflects the fixed per-query floor)")
    spark.stop()
  }
}

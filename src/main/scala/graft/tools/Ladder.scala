package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

import graft.tools.Policy._

/** Dev tool: empirical scaling evidence, one family of operator queries
  * at a time. Each rung K of a family's ladder is a dataset of K
  * replicas of the source tables ([[Replicas]]); the ladder times every
  * query at every rung and prints the table and the linearity ratio. A
  * shape that is quadratic in its input — an all-pairs join, an unpruned
  * index, a broadcast that only fits at toy scale — bends the curve long
  * before the top rung.
  *
  * Usage: runMain graft.tools.Ladder <family> <sfDir> <outBase> [K,K,...] [query,query,...]
  *
  * The optional lists replace the family's K ladder and restrict its
  * queries. Rung K is written to `<outBase>/k<K>` and reused when its
  * done-marker records the same family, source dir and K.
  */
object Ladder {

  /** One rung's context, for a family's per-K report. */
  final case class Rung(spark: SparkSession, dir: String, k: Int, top: Boolean,
      queries: Seq[String])

  /** A scaling family: what it times and over which data.
    * `maxK` caps a query below the ladder's tail (a documented
    * non-goal at scale); `precondition` checks the source before any
    * rung is written; `report` runs after each rung's timings. */
  final case class Family(queries: Seq[String], ks: Seq[Int],
      replicated: Seq[(String, Policy)], copied: Seq[String] = Nil,
      maxK: Map[String, Int] = Map.empty,
      precondition: Replicas => Unit = _ => (),
      report: Rung => Unit = _ => ())

  /** The ladder session: the shared `Session.local` with AQE OFF and a
    * fixed 16 shuffle partitions. A ladder measures how PLANNED shuffle
    * work grows with K; AQE's runtime coalescing would re-shape stages
    * differently per rung and confound the growth signal with plan
    * variance. Absolute times are therefore not comparable to Bench
    * walls; only the K-to-K ratios matter. */
  def session(): SparkSession = {
    val spark = graft.engine.Session.local("graft-ladder")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val Families: Map[String, Family] = Map(
    // the dedup / corpus-hygiene family over disjoint replicas: true work
    // grows linearly, so a ~K² curve is a quadratic shape
    "dedup" -> Family(
      Seq("q_dedup_ngram_jaccard", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_cluster",
        "q_corpus_contamination", "q_text_repetition", "q_dedup_incremental"),
      Seq(1, 2, 4, 8, 32, 64), Seq("documents" -> Disjoint)),

    // dup-heavy replicas: the candidate structure upstream of the Jaccard
    // threshold grows ~K², so the pass criterion is completion without
    // OOM with time tracking that work, not the linear bound. The exact-
    // Jaccard pair expansion (which q_dedup_cluster rides for its edges)
    // is documented ~K² here and is the small/medium-corpus tool, so it
    // stops at K=8; the tail runs the MinHash+LSH and incremental paths.
    "dup" -> Family(
      Seq("q_dedup_ngram_jaccard", "q_dedup_minhash", "q_dedup_cluster", "q_dedup_incremental"),
      Seq(1, 2, 4, 8, 16, 32), Seq("documents" -> DupHeavy),
      maxK = Map("q_dedup_ngram_jaccard" -> 8, "q_dedup_cluster" -> 8),
      // the df-cap is max(DfCap, 1% of docs): its scaled term must
      // dominate at K=1 already, or part of the growth is a pruning
      // artifact rather than candidate structure
      precondition = r => require(
        r.base("documents").count() >= graft.ops.Dedup.DfCap * 100L,
        s"the dup family needs a base corpus of >= ${graft.ops.Dedup.DfCap * 100} docs " +
          "(df-cap scaling must be out of its floor regime at K=1); use sf0.1 or larger")),

    // relational shapes over the fact tables. Dimensions (nation, region,
    // supplier, part) are verbatim, so groups keyed on offset ids stay
    // constant-sized and groups keyed on dimension values grow K×; join
    // resolution stays within one replica either way.
    "rel" -> Family(
      Seq("q_agg_group", "q_grouping_sets", "q_agg_stats", "q_topn_per_group",
        "q_tpch_q3_shape", "q_tpch_q18_shape", "q_join_multiway", "q_cte_maxrev",
        "q_tpch_q7_shape", "q_agg_kll_merge", "q_agg_freq_merge",
        "q_tpch_q2_shape", "q_tpch_q21_shape", "q_tpch_q22_shape",
        "q_tpch_q8_shape", "q_tpch_q9_shape", "q_tpch_q13_shape",
        "q_tpch_q16_shape", "q_tpch_q17_shape", "q_tpch_q19_shape"),
      Seq(1, 4, 16, 64),
      Seq("lineitem" -> Keys("orderkey"), "orders" -> Keys("orderkey", "custkey"),
        "customer" -> Keys("custkey")),
      copied = Seq("nation", "region", "supplier", "part")),

    // windowed event shapes: timestamps unchanged, users offset, so every
    // window partitioned by user or event key sees constant per-user
    // series while users grow K× (64× ≈ 6.4M events at sf0.1)
    "events" -> Family(
      Seq("q_events_tumbling", "q_events_sliding", "q_events_session", "q_events_dedup",
        "q_events_gapfill", "q_events_anomaly", "q_events_funnel", "q_events_bursts",
        "q_events_attribution", "q_asof_join", "q_asof_join_multi", "q_events_ewma"),
      Seq(1, 4, 16, 64),
      Seq("events" -> Keys("custkey", "event_id"), "orders" -> Keys("custkey", "orderkey"))),

    // vector / ANN: the query-vector searches keep a 1-row broadcast query
    // side and scan a K×-growing corpus; the LSH/IVF widths and the
    // embedding-dedup buckets are corpus-derived, so per-cell population
    // stays roughly constant — the per-K cell census is that evidence.
    // Labels are verbatim, so q_dedup_embedding's label blocks grow K×,
    // which its per-label sign-prefix banding exists to bound.
    "vec" -> Family(
      Seq("q_sim_cosine_topk", "q_sim_ann_lsh", "q_sim_ivf", "q_embed_quantize",
        "q_sim_centroid_dist", "q_sim_pq", "q_sim_knn_join", "q_dedup_embedding"),
      Seq(1, 4, 16, 64), Seq("embeddings" -> Jitter),
      report = r => { cellCensus(r); if (r.top) pqFitRecall(r) }),

    // the round-12-and-later text, corpus, stats and event operators, and
    // the semantic dedup, whose corpus-derived k and two-level assignment
    // keep cluster size and assignment cost sub-quadratic
    "new" -> Family(
      Seq("q_text_entropy", "q_dedup_prefix", "q_agg_entropy", "q_agg_histogram",
        "q_text_tfidf", "q_events_streaks", "q_events_retention",
        "q_corpus_source_cap", "q_text_segment_dedup", "q_corpus_bloom_screen",
        "q_text_script_profile", "q_text_novelty", "q_corpus_diff", "q_corpus_token_budget",
        "q_text_quality_classifier", "q_corpus_split", "q_text_perplexity", "q_text_bm25",
        "q_corpus_dsir", "q_corpus_drift", "q_media_phash_dedup", "q_text_chunk",
        "q_text_winnow", "q_text_substring_dup", "q_corpus_datacard", "q_dedup_semantic"),
      Seq(1, 2, 4, 8, 16),
      Seq("documents" -> Disjoint, "lineitem" -> Keys("orderkey"),
        "embeddings" -> Rotate, "events" -> Keys("custkey", "event_id")),
      report = r => if (r.queries.contains("q_corpus_bloom_screen")) bloomScreen(r)))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Families.contains(args(0)),
      s"usage: Ladder <${Families.keys.toSeq.sorted.mkString("|")}> <sfDir> <outBase> " +
        "[K,K,...] [query,query,...]")
    val f = Families(args(0))
    val (kArgs, qArgs) = args.drop(3).partition(_.matches("[0-9,]+"))
    val ks = kArgs.headOption.fold(f.ks)(_.split(",").toSeq.map(_.toInt))
    val queries = qArgs.headOption.fold(f.queries)(_.split(",").toSeq)
    val unknown = queries.filterNot(f.queries.contains)
    require(unknown.isEmpty, s"not in family ${args(0)}: ${unknown.mkString(", ")}")
    run(args(0), f, args(1), args(2), ks, queries)
  }

  /** Generate every rung, warm up once at the first (codegen and JIT
    * for the whole family), then time each query cold-cache per rung
    * and print the table and the linearity ratio. A query capped below
    * a rung prints "-" there; the TOTAL row and the ratio sum only the
    * queries that run at every rung, so the ratio stays like-for-like. */
  def run(name: String, f: Family, sfDir: String, outBase: String, ks: Seq[Int],
      queries: Seq[String]): Unit = {
    val spark = session()
    val replicas = new Replicas(spark, sfDir)
    f.precondition(replicas)
    ks.foreach { k =>
      val dir = s"$outBase/k$k"
      val marker = Paths.get(dir, "_LADDER_DONE")
      val stamp = s"$name ${Paths.get(sfDir).toRealPath()} $k"
      if (!Files.exists(marker) || Files.readString(marker) != stamp) {
        replicas.write(f.replicated, f.copied, k, dir)
        Files.writeString(marker, stamp)
      }
    }

    def timeOnce(q: String, k: Int): Double = {
      System.err.println(s"[ladder] $q @K=$k")
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, s"$outBase/k$k")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def active(k: Int): Seq[String] = queries.filter(q => f.maxK.getOrElse(q, Int.MaxValue) >= k)

    // the warm-up honors the caps too: a ladder starting above a capped
    // query's max K must not run it at the very scale the cap avoids
    active(ks.head).foreach(timeOnce(_, ks.head))
    val results = ks.map { k =>
      // each rung pays its own materialization
      spark.sharedState.cacheManager.clearCache()
      val times = active(k).map(q => q -> timeOnce(q, k)).toMap
      f.report(Rung(spark, s"$outBase/k$k", k, k == ks.last, queries))
      times
    }

    println(f"${"query"}%-26s" + ks.map(k => f"K=$k%-7d").mkString)
    queries.foreach { q =>
      println(f"$q%-26s" + results.map(_.get(q).fold(f"${"-"}%-7s")(t => f"$t%-7.2f")).mkString)
    }
    val everyK = active(ks.last)
    val totals = results.map(m => everyK.flatMap(m.get).sum)
    val totalLabel = if (everyK.size == queries.size) "TOTAL" else "TOTAL(all-K qs)"
    println(f"$totalLabel%-26s" + totals.map(t => f"$t%-7.2f").mkString)
    val scale = ks.last.toDouble / ks.head
    println(f"$scale%.0fx data => ${totals.last / totals.head}%.2fx time (linear=$scale%.0f, " +
      f"quadratic=${scale * scale}%.0f; sub-linear reflects the fixed per-query floor)")
    spark.stop()
  }

  /** Per-cell candidate volume under the corpus-derived LSH width: the
    * derived bits must hold avg_pop ≈ 256 while the fixed-4-bit
    * population (n/16) grows with K. */
  private def cellCensus(r: Rung): Unit = {
    val e = r.spark.read.parquet(s"${r.dir}/embeddings.parquet")
    val dn = e.agg(max(size(col("embedding"))), count(lit(1))).head()
    val (dim, n) = (dn.getInt(0), dn.getLong(1))
    val bits = graft.ops.VectorOps.lshBitsFor(n)
    val pop = e.select(graft.ops.VectorOps.lshSignature(
        transform(col("embedding"), x => x.cast("double")), dim, bits).as("cell"))
      .groupBy("cell").count()
      .agg(avg("count"), max("count"), count(lit(1))).head()
    System.err.println(f"[ladder] cells @K=${r.k}: n=$n bits=$bits " +
      f"cells_used=${pop.getLong(2)} avg_pop=${pop.getDouble(0)}%.1f " +
      f"max_pop=${pop.getLong(1)} fixed4_pop=${n / 16}")
  }

  /** The PQ fit (the md5-sampled Lloyd) at the top rung: wall and
    * recall@10 against the brute-force cosine top-10. */
  private def pqFitRecall(r: Rung): Unit = {
    val e = r.spark.read.parquet(s"${r.dir}/embeddings.parquet")
    val qid = e.agg(min(col("vec_id"))).head().getLong(0)
    val qv = e.filter(col("vec_id") === qid)
      .select(transform(col("embedding"), x => x.cast("double")))
      .head().getSeq[Double](0)
    val brute = e.filter(col("vec_id") =!= qid)
      .select(col("vec_id"), graft.functions.CosineSim.cosine_sim(
        transform(col("embedding"), x => x.cast("double")), typedLit(qv)).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val t0 = System.nanoTime()
    val got = graft.ops.VectorOps.pqProbe(e).collect().map(_.getLong(0)).toSet
    val wall = (System.nanoTime() - t0) / 1e9
    val recall = got.count(brute.contains).toDouble / brute.size
    System.err.println(
      f"[ladder] pq-fit(sampled) @K=${r.k}: wall=$wall%.2f s recall@10=$recall%.2f")
  }

  /** The bloom screen's pruned fraction and false-positive rate: disjoint
    * replicas grow the holdout's distinct shingles K×, so a fixed filter
    * size would saturate (pruned_frac → 0); the corpus-derived size must
    * hold it roughly flat. */
  private def bloomScreen(r: Rung): Unit = {
    val row = graft.SparkEntry.queries("q_corpus_bloom_screen")(r.spark, r.dir)
      .agg(avg(col("pruned_frac")), sum(col("n_shingles")), sum(col("n_bloom")),
        sum(col("n_exact"))).head()
    val (ns, nb, ne) = (row.getLong(1), row.getLong(2), row.getLong(3))
    // false positives over the prunable shingles: the screen's real error
    val fpr = if (ns - ne == 0) 0.0 else (nb - ne).toDouble / (ns - ne)
    System.err.println(f"[ladder] bloom @K=${r.k}: avg pruned_frac=${row.getDouble(0)}%.4f " +
      f"shingles=$ns bloom_pos=$nb exact=$ne fp_rate=$fpr%.4f")
  }
}

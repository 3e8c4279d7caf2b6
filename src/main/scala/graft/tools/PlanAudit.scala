package graft.tools

/** Dev tool: dump formatted physical plans for representative queries
  * and check the plan properties the 100 TB design depends on
  * (SURVEY.md §4.2): filter/projection pushdown into the parquet scan,
  * broadcast of star dimensions, TakeOrderedAndProject for top-k,
  * partial aggregation, no cartesian products where a hash join belongs.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir] — prints PASS/FAIL per
  * property plus the plans (redirect to PLANS.md).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    sys.props("graft.no.cache") = "1"
    val spark = graft.engine.Session.local("graft-plan-audit")
    // the committed plan text pins 4 shuffle partitions
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.sparkContext.setLogLevel("ERROR")

    def plan(name: String): String = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    }

    case class Check(query: String, property: String, test: String => Boolean)
    val checks = Seq(
      Check("q_filter_compare", "filter pushed to parquet scan",
        p => p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity")),
      Check("q_scan_project", "column pruning (4-col ReadSchema)",
        p => p.contains("l_extendedprice") && !p.contains("l_comment") &&
          "ReadSchema.*l_quantity".r.findFirstIn(p).isDefined),
      Check("q_topk", "top-k plans as TakeOrderedAndProject",
        p => p.contains("TakeOrderedAndProject")),
      Check("q_join_multiway", "star dims broadcast",
        p => p.contains("BroadcastHashJoin")),
      Check("q_join_multiway", "no cartesian in star join",
        p => !p.contains("CartesianProduct")),
      Check("q_agg_group", "partial aggregation (two-phase hash agg)",
        p => "HashAggregate".r.findAllIn(p).length >= 2),
      Check("q_join_semi", "semi join planned as such",
        p => p.contains("LeftSemi")),
      Check("q_asof_join", "as-of = single shuffle window, no NL join",
        p => !p.contains("BroadcastNestedLoopJoin") && p.contains("Window")),
      Check("q_sim_cosine_topk", "cosine top-k: broadcast + TakeOrdered",
        p => p.contains("TakeOrderedAndProject")),
      Check("q_events_tumbling", "windowed agg is partial-final",
        p => "HashAggregate".r.findAllIn(p).length >= 2),
      // round-3 scale reformulations: the data-sized windows must be
      // partitioned by the value bucket `b`, never a global
      // single-partition sort over all rows (the tiny bucket-offset
      // window may still be SinglePartition — it sees one row per
      // bucket, not per input row)
      Check("q_window_ntile", "rank window partitioned by value bucket",
        p => "row_number().*windowspecdefinition\\(b#".r.findFirstIn(p).isDefined),
      Check("q_window_range_frame", "running count partitioned by value bucket",
        p => "windowspecdefinition\\(b#".r.findFirstIn(p).isDefined),
      // round 20: percent_rank/cume_dist decomposed like ntile — the
      // data-sized window partitions by (status, value bucket), never by
      // the ≤3-value status alone (the 3-task funnel the full sf10
      // ledger exposed at 27.6 s), and no native percent_rank/cume_dist
      // single-partition pass remains
      Check("q_window_percent_rank", "rank window partitioned by (status, value bucket)",
        p => "windowspecdefinition\\(o_orderstatus#\\d+, b#".r.findFirstIn(p).isDefined &&
          !p.contains("percent_rank(") && !p.contains("cume_dist(")),
      // round 20: q_window_rank decomposed the same way — local
      // row_number over (status, bucket), never a rank/dense_rank (or
      // any window) over the ≤3-partition status-only spec
      Check("q_window_rank", "rank window partitioned by (status, value bucket)",
        p => "windowspecdefinition\\(o_orderstatus#\\d+, b#".r.findFirstIn(p).isDefined &&
          "windowspecdefinition\\(o_orderstatus#\\d+, o_totalprice".r.findFirstIn(p).isEmpty &&
          !p.contains("dense_rank(")),
      Check("q_agg_stats", "quantiles read per-group value histograms, not raw rows",
        // round 19: no value-buffering percentile aggregate, AND no
        // groupQuantiles raw-row second pass (its candidate ranking is
        // a row_number over the located buckets; its long-format tag
        // explode is explode(array(struct(...)))) — the medians come
        // from histQuantiles' cum window over the (g, v, c) histogram
        p => !p.contains("percentile") && !p.contains("row_number") &&
          "explode\\(array\\(struct\\(".r.findFirstIn(p).isEmpty &&
          "windowspecdefinition\\(g#".r.findFirstIn(p).isDefined),
      Check("q_vocab_topk", "rank applies after TakeOrderedAndProject",
        p => p.contains("TakeOrderedAndProject")),
      // round-4 additions
      Check("q_tpch_q18_shape", "single lineitem aggregation (HAVING sum reused)",
        p => "\\(\\d+\\) HashAggregate".r.findAllIn(p).length == 2),
      // round-6: the repetition signals are a per-partition typed map —
      // the ONLY exchange in the plan is the final ORDER BY's range
      // partitioning; the token stream never shuffles at all
      Check("q_text_repetition", "per-doc map is shuffle-free (no hash exchange)",
        p => !p.contains("hashpartitioning") && p.contains("SerializeFromObject")),
      Check("q_mixture_weights", "scalar total broadcast, no cartesian",
        p => !p.contains("CartesianProduct")),
      Check("q_topn_per_group", "top-N pruned map-side (partial WindowGroupLimit)",
        p => "\\(\\d+\\) WindowGroupLimit".r.findAllIn(p).length >= 2),
      // round-6 additions
      Check("q_agg_approx_quantile", "exact side reads the value histogram; sketch is the weighted summary fed from it",
        p => "[^_x]percentile\\(".r.findFirstIn(p).isEmpty &&
          // round 21: the sketch branch is the weighted-insert quantile
          // summary riding the histogram — Spark's raw-row GK aggregate
          // (percentile_approx) must be gone entirely
          !p.contains("approx_percentile") && !p.contains("percentile_approx") &&
          p.contains("wq_sketch_agg") &&
          // round 19: exact side off histQuantiles — no raw-row
          // candidate-ranking pass (row_number) left in the plan
          !p.contains("row_number")),
      Check("q_sim_ivf", "cell probe joins broadcast the bounded probe set",
        p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct")),
      // round-21: semantic-dedup nearest-centroid assignment is the
      // map-only NearestCid kernel over a one-row broadcast centroid
      // table — the crossJoin-explode + max_by groupBy (which shuffled
      // the corpus VECTORS through an N-row exchange per assignment
      // stage) must stay gone
      Check("q_dedup_semantic", "assignment is a map-only kernel projection",
        p => p.contains("nearest_cid") && !p.contains("max_by")),
      Check("q_dedup_semantic_admit", "assignment is a map-only kernel projection",
        p => p.contains("nearest_cid") && !p.contains("max_by")),
      // round-7: the gap-fill dense grid must stay out of every exchange
      // and sort — the whole plan carries exactly two exchanges (hourly
      // hash agg + sparse range repartition by user) and one sort (the
      // window's local sparse sort); the global ORDER BY is elided and
      // the Generate streams dense rows pre-ordered. A third exchange or
      // second sort means someone re-introduced output-sized spill.
      Check("q_events_gapfill", "dense grid shuffle/sort-free (2 exchanges, 1 sort, both sparse-side)",
        p => "\\((\\d+)\\) Exchange".r.findAllMatchIn(p).map(_.group(1)).toSet.size == 2 &&
          "\\((\\d+)\\) Sort".r.findAllMatchIn(p).map(_.group(1)).toSet.size == 1 &&
          "\\((\\d+)\\) Generate".r.findAllMatchIn(p).map(_.group(1)).toSet.size == 1),
      // round-8: the MinHash candidate restrictions (candidate docs +
      // candidate pairs) must be spillable semi SMJs, never broadcast —
      // they are O(corpus) on a dup-heavy corpus (the class the round-7
      // verdict flagged; the sweep below enforces zero broadcasts, this
      // check pins the replacement shape)
      Check("q_dedup_minhash", "candidate restrictions are semi sort-merge joins",
        p => "SortMergeJoin.*LeftSemi".r.findAllIn(p).length >= 2),
      // round-18: the band COUNT never materializes pairs — it reads
      // two signed boundary probes per supplier off the customer-acctbal
      // CDF (one Window prefix sum over the domain-bounded histogram,
      // one single-key equi join on the inserted probe value). The
      // bucket(b±1)+salt equi-join this replaced (r8–r17) paid the
      // full ~n² qualifying-pair stream for counts the histogram
      // already knew (sf10: 342 s → 3.3 s).
      Check("q_join_range", "band count reads the acctbal CDF, not the pairs",
        p => p.contains("Window") &&
          "explode\\(array\\(struct\\(".r.findFirstIn(p).isDefined &&
          // the probe lookup is a SINGLE-key equi join (double keys
          // print wrapped in knownfloatingpointnormalized)
          "Left keys \\[1\\]".r.findFirstIn(p).isDefined &&
          !p.contains("salt#") &&
          // round 19 (ADVICE): the predicates above alone could still
          // pass a regression back to a pair-materializing join with a
          // band residual — additionally require that NO band-residual
          // comparison against s_acctbal survives anywhere (the r8–r17
          // pair stream's post-join Filter was `c_acctbal >=/<=
          // (s_acctbal ± 500)`; the CDF plan only ever ADDS ±500 inside
          // the probe-struct Generate, never compares against it)
          !p.contains(">= (s_acctbal") && !p.contains("<= (s_acctbal") &&
          !p.contains(">= s_acctbal") && !p.contains("<= s_acctbal")),
      // round 19: the substring-dup rewrite — window hashes are
      // run-length encoded per doc INSIDE the scan stage, so the only
      // hash-keyed operation is ONE window over (doc, hash,
      // multiplicity) rows; the former shape's position-stream semi
      // SortMergeJoin (28.7 s at sf10 solo) must never reappear
      Check("q_text_substring_dup", "dup detection is one hash-window over per-doc RLE rows, no position-stream semi join",
        p => "windowspecdefinition\\(h#".r.findFirstIn(p).isDefined &&
          !p.contains("LeftSemi")),
      // round-13: the per-source cap's window must partition by source
      // (no global sort), and the hash-prefix prune must be a plain
      // Filter feeding it (the O(C·K)-per-source bound)
      Check("q_corpus_source_cap", "cap window partitioned by source, top-5 pruned map-side",
        p => "windowspecdefinition\\(source#".r.findFirstIn(p).isDefined &&
          "conv\\(substring\\(md5".r.findFirstIn(p).isDefined &&
          p.contains("WindowGroupLimit") && p.contains("Partial")),
      // round-13 (probe shape updated round 16): the bloom screen must
      // evaluate as a pure-expression Filter (bitset_contains on the
      // reference-object bit words — codegen, no UDF, no giant plan
      // literal), and the post-screen membership join must stay
      // shuffled (te is O(test corpus); the default-zero sweep enforces
      // the latter)
      Check("q_corpus_bloom_screen", "bloom probe is a codegen Filter on reference-object bits",
        p => "Condition : .*bitset_contains".r.findFirstIn(p).isDefined &&
          !p.contains("BatchEvalPython")),
      // round-13: segment dedup's reassembly must be a two-phase
      // ObjectHashAggregate (map-side partial collect_list — the per-doc
      // bound) — the firsts join may broadcast at tiny SF by size; the
      // default-zero -1 sweep proves it falls back to a shuffle
      Check("q_text_segment_dedup", "reassembly is two-phase ObjectHashAggregate",
        p => "ObjectHashAggregate".r.findAllIn(p).length >= 2 &&
          p.contains("partial_collect_list")),
      // round-13b: the learned quality classifier fits via ONE global
      // two-phase aggregation (map-side partials over the corpus) and
      // applies the 1-row model with a broadcast NL join — never a
      // shuffle of the corpus against the model
      Check("q_text_quality_classifier", "fit is two-phase agg + 1-row model broadcast",
        p => "HashAggregate".r.findAllIn(p).length >= 2 &&
          p.contains("BroadcastNestedLoopJoin")),
      // the stratified split's ranking window is partitioned by the
      // stratum key — no single-partition global sort over the corpus
      Check("q_corpus_split", "split window partitioned by stratum (lang)",
        p => "row_number().*windowspecdefinition\\(lang#".r.findFirstIn(p).isDefined),
      // round-13b TPC-H correlated shapes: the hand-decorrelated
      // programs must stay equi-join plans — a BroadcastNestedLoopJoin
      // would mean the correlation leaked back into a per-row loop
      Check("q_tpch_q2_shape", "correlated-min rewrite stays equi-join (no NL join)",
        p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")),
      // round 20: the EXISTS/NOT EXISTS self-joins are decorrelated
      // into window aggregates over ONE l_orderkey exchange — the plan
      // must carry the per-(order, supplier) and per-order window
      // specs and NO semi/anti self-join of lineitem (three full-size
      // shuffles collapsed to one)
      Check("q_tpch_q21_shape", "EXISTS/NOT EXISTS decorrelated into windows over one exchange",
        p => "windowspecdefinition\\(l_orderkey#\\d+L?, l_suppkey#".r.findFirstIn(p).isDefined &&
          !p.contains("LeftSemi") && !p.contains("LeftAnti")),
      // round-13c TPC-H completions: Q4's EXISTS is a LeftSemi on the
      // order key; Q16's NOT IN is a LeftAnti (never a null-aware NL
      // join — l_suppkey is non-nullable); Q17's correlated-average
      // rewrite stays equi-join; Q19's OR-of-conjuncts must remain a
      // p_partkey equi-join with the disjunction as a residual, not a
      // nested-loop join
      Check("q_tpch_q4_shape", "EXISTS plans as LeftSemi on the order key",
        p => p.contains("LeftSemi") && !p.contains("BroadcastNestedLoopJoin")),
      Check("q_tpch_q16_shape", "NOT IN plans as LeftAnti, no NL join",
        p => p.contains("LeftAnti") && !p.contains("BroadcastNestedLoopJoin")),
      Check("q_tpch_q17_shape", "per-part average rewrite stays equi-join",
        p => !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")),
      Check("q_tpch_q19_shape", "disjunction is a residual on the partkey equi-join",
        p => !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")),
      // Q6 is the pure scan-agg: its filters must reach the parquet
      // scan (PushedFilters on shipdate/discount/quantity)
      Check("q_tpch_q6_shape", "Q6 filters pushed to the parquet scan",
        p => "PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined),
      // chunking is map-side: the ONLY exchange is the output-order
      // rangepartitioning the oracle compare needs — no hash shuffle
      // anywhere (round 14)
      Check("q_text_chunk", "map-side chunking (single range-exchange, no hash shuffle)",
        p => !p.contains("hashpartitioning") && p.contains("rangepartitioning") &&
          "\\(\\d+\\) Exchange".r.findAllMatchIn(p).map(_.matched).size == 1),
      // PQ encode+ADC is a map-side projection over the corpus; both
      // the 50-row shortlist and the 10-row rerank plan as TakeOrdered
      // (never a corpus-wide Sort) (round 14)
      Check("q_sim_pq", "ADC shortlist + rerank are TakeOrdered, corpus never globally sorted",
        p => "TakeOrderedAndProject".r.findAllMatchIn(p).size >= 2 &&
          !"Sort \\[cos_sim".r.findFirstIn(p).isDefined),
      // the batch k-NN join's per-query top-5 must prune map-side
      // (WindowGroupLimit), never rank the whole cell population through
      // a plain window (round 14)
      Check("q_sim_knn_join", "per-query top-5 prunes via WindowGroupLimit",
        p => p.contains("WindowGroupLimit")),
      // round 20: saltedJoin is skew-AWARE — on unskewed input (lineitem's
      // l_orderkey: ≤7 rows/key at every SF) detection finds no hot key
      // and the executed plan must be the literal plain join: no salt
      // column, no build-side replication explode (the r19 verdict's
      // 5.4×-of-DuckDB q_join_salted was unconditional salting exploding
      // the build side 4× against unskewed data)
      Check("q_join_salted", "no salt on unskewed input (plain join plan)",
        p => !p.contains("_salt") && !p.contains("Generate"))
    )

    val plans = scala.collection.mutable.LinkedHashMap[String, String]()
    def planOf(q: String) = plans.getOrElseUpdate(q, plan(q))

    var failed = 0
    checks.foreach { c =>
      val ok = try c.test(planOf(c.query)) catch { case _: Throwable => false }
      if (!ok) failed += 1
      println(s"${if (ok) "PASS" else "FAIL"}  ${c.query}: ${c.property}")
    }

    // Scale-robustness probe: with auto-broadcast disabled, only joins
    // carrying an explicit broadcast() hint may still broadcast. The
    // Jaccard denominator joins (per-doc counts — O(corpus)) must fall
    // back to shuffled joins, proving no mandatory BroadcastExchange
    // sits on an unbounded table (VERDICT r2 finding #1).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    // Drop every cached frame registered while the default-threshold
    // checks built their DataFrames: CacheManager captures an
    // InMemoryRelation's PHYSICAL plan at registration, so a frame
    // cached under the default threshold can carry a (legitimate,
    // size-based) BroadcastExchange INSIDE its cached plan — which the
    // -1 sweep below would then miscount as a mandatory broadcast.
    spark.sharedState.cacheManager.clearCache()
    val jacNoBcast = plan("q_dedup_ngram_jaccard")
    val contNoBcast = plan("q_corpus_contamination")
    val smjOk = jacNoBcast.contains("SortMergeJoin") ||
      jacNoBcast.contains("ShuffledHashJoin")
    if (!smjOk) failed += 1
    println(s"${if (smjOk) "PASS" else "FAIL"}  q_dedup_ngram_jaccard: " +
      "denominator join not mandatory-broadcast (shuffled under autoBroadcast=-1)")
    plans("q_dedup_ngram_jaccard (autoBroadcastJoinThreshold=-1)") = jacNoBcast
    // The denominator joins carry an explicit merge hint precisely
    // because shuffle_hash would re-create the unbounded per-task hash
    // build the hint exists to avoid — so beyond "not broadcast", they
    // must plan as SortMergeJoin specifically (a merge→shuffle_hash
    // regression would otherwise slip through the relaxed check above).
    val jacSmjOnly = jacNoBcast.contains("SortMergeJoin")
    if (!jacSmjOnly) failed += 1
    println(s"${if (jacSmjOnly) "PASS" else "FAIL"}  q_dedup_ngram_jaccard: " +
      "denominator joins plan as SortMergeJoin (spillable, bounded task memory)")
    // the train-shingle membership probe is O(train corpus) — it too
    // must degrade to a shuffled join when broadcast is off the table
    val contOk = contNoBcast.contains("SortMergeJoin")
    if (!contOk) failed += 1
    println(s"${if (contOk) "PASS" else "FAIL"}  q_corpus_contamination: " +
      "train-shingle probe not mandatory-broadcast (SMJ under autoBroadcast=-1)")
    plans("q_corpus_contamination (autoBroadcastJoinThreshold=-1)") = contNoBcast
    // Full-inventory mandatory-broadcast sweep: under autoBroadcast=-1
    // any surviving BroadcastExchange is hint- (or strategy-) mandated.
    // Every such site must be a provably BOUNDED frame; the allowlist
    // below names each one with its reason, and any query exceeding its
    // allowance — e.g. a new broadcast() hint on an O(SF) table like
    // customer or supplier, the scale-killer class removed in round 7 —
    // fails the audit. Default allowance is ZERO.
    def bcastCount(p: String): Int =
      "\\((\\d+)\\) BroadcastExchange".r.findAllMatchIn(p).map(_.group(1)).toSet.size
    val bcastAllow = Map(
      "q_agg_stringagg" -> 1,       // region: fixed 5 rows at every SF
      "q_agg_hll_merge" -> 2,       // 1-row exact-global + 1-row merged-bool frames
      "q_agg_kll_merge" -> 2,       // 1-row exact-global-median + 1-row merged-bool frames
      "q_agg_freq_merge" -> 2,      // 1-row global-top + 1-row agreement-bool frames
      "q_corpus_dsir" -> 3,         // two ≤1024-row hashed-bucket LM tables
                                    // (bounded by the hash modulus, not the
                                    // corpus) + the 1-row token totals
      "q_corpus_source_cap" -> 1,   // per-source doc counts: bounded source domain
      "q_cte_maxrev" -> 1,          // 1-row scalar MAX subquery
      // round 8: the Dedup family needs NO allowance — the stop-set
      // prune is a shuffle_hash anti join (its build side is bounded by
      // construction under the corpus-scaled df-cap, and it must run
      // BEFORE the posting collect so no aggregation buffer ever sees a
      // stop-shingle) and the MinHash candidate-doc/pair restrictions
      // are merge-hinted semi joins (corpus-dependent sizes, so neither
      // broadcast nor a hash build is safe for them)
      "q_dedup_semantic_admit" -> 12, // centroid / super-centroid tables only:
                                      // k is corpus-derived but CAPPED at 4096
                                      // (semanticKFor), so every broadcast is
                                      // ≤ 4096×64 doubles ≈ 2 MB; 12 sites since
                                      // round 18's two-level assignment — each
                                      // assign pass broadcasts supers (g rows)
                                      // AND the grouped centroids (k rows), and
                                      // corpus/batch admission reuse the subtrees
      "q_dedup_semantic" -> 12,     // same bound: two-level assign ×2 passes
                                    // (m1, m2) × (supers + grouped centroids),
                                    // duplicated by the within-cluster self-join
                                    // reusing the assignment subtree — all
                                    // ≤ 2 MB by the semanticKFor 4096 cap
      "q_events_anomaly" -> 1,      // per-event-type stats: bounded type domain
      "q_join_multiway" -> 2,       // region + ASIA-nation dims: fixed 5/25 rows
      "q_media_learned_encoder" -> 1, // 1-row learned stats (9 longs)
      "q_mixture_weights" -> 1,     // 1-row corpus total
      "q_pipeline_pretrain" -> 1,   // 1-row mixture-denominator frame
      "q_sim_ann_lsh" -> 2,         // 1-row min-id + 1-row query vector
      "q_sim_cosine_topk" -> 2,     // 1-row min-id + 1-row query vector
      "q_sim_ivf" -> 1,             // 4-row probe-cell set only (round 21: the
                                    // min-id/query frame became a literal read
                                    // off the existing 1-row stats aggregate)
      "q_sim_knn_join" -> 1,        // 8-row query-vector frame (bounded by the
                                    // batch size, not the corpus)
      "q_sim_pq" -> 4,              // 1-row nested codebook (4×16×16 doubles,
                                    // bounded by m·k·sub not the corpus; ×2
                                    // because the ADC table derivation reuses
                                    // it) + 1-row ADC table + 1-row query
      "q_subquery_scalar" -> 1,     // 1-row scalar average
      "q_subquery_select" -> 1,     // 1-row scalar total
      "q_text_length_filter" -> 1,  // per-language thresholds: bounded label domain
      "q_text_quality_classifier" -> 1, // 1-row fitted model (15 numbers)
      "q_text_perplexity" -> 1,     // 1-row vocabulary size V; the unigram/
                                    // bigram model tables are O(vocab) —
                                    // corpus-dependent, never hinted
      "q_text_bm25" -> 2,           // 1-row N/avgdl stats + O(|query terms|)
                                    // df frame — both bounded by the query,
                                    // not the corpus
      "q_text_tfidf" -> 1,          // 1-row corpus doc count (the IDF N)
      "q_tpch_q10_shape" -> 1,      // nation: fixed 25 rows
      "q_tpch_q2_shape" -> 2,       // nation + one-region dims (fixed 25/5 rows);
                                    // round 20: the per-part MIN is a window,
                                    // so the cost subtree (and its dim
                                    // broadcasts) exists ONCE, not twice
      "q_tpch_q21_shape" -> 1,      // one-nation dim: fixed ≤25 rows
      "q_tpch_q8_shape" -> 3,       // two nation dims + one-region dim (≤25/5 rows)
      "q_tpch_q9_shape" -> 1,       // nation: fixed 25 rows
      "q_tpch_q11_shape" -> 3,      // one-nation dim ×2 (the global-threshold
                                    // scalar reuses the sv subtree, duplicating
                                    // the dim site) + the 1-row threshold itself
      "q_tpch_q22_shape" -> 1,      // 1-row decimal-exact average
      "q_tpch_q7_shape" -> 2,       // two 2-row nation-pair dims (both ≤25 at every SF)
      "q_tpch_q20_shape" -> 1,      // one-nation dim: fixed ≤25 rows at every SF
      "q_window_ntile" -> 1,        // O(value buckets) offset table
      "q_window_percent_rank" -> 1, // O(status × value buckets) offset table
      "q_window_rank" -> 1,         // O(status × value buckets) offset table
                                    // (round-20 decomposition, same shape)
      "q_window_range_frame" -> 1)  // O(value buckets) offset table
    var sweepBad = List.empty[String]
    var cartBad = List.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, _) =>
      val p = try plan(n) catch { case _: Throwable => null }
      val cnt = if (p == null) -1 else bcastCount(p)
      if (cnt < 0 || cnt > bcastAllow.getOrElse(n, 0)) sweepBad ::= s"$n=$cnt"
      // a CartesianProduct under -1 means a join lost its keys (the
      // 1-row scalar crossJoins keep explicit broadcast hints, so they
      // stay nested-loop with a bounded build); only the literal cross
      // join operator is allowed to be cartesian
      if (p != null && p.contains("CartesianProduct") && n != "q_join_cross")
        cartBad ::= n
    }
    if (sweepBad.nonEmpty) failed += 1
    println(s"${if (sweepBad.isEmpty) "PASS" else "FAIL"}  ALL ${graft.SparkEntry.queries.size} " +
      s"queries: no unlisted mandatory broadcast under autoBroadcast=-1" +
      (if (sweepBad.isEmpty) "" else s" (violations: ${sweepBad.mkString(", ")})"))
    if (cartBad.nonEmpty) failed += 1
    println(s"${if (cartBad.isEmpty) "PASS" else "FAIL"}  ALL ${graft.SparkEntry.queries.size} " +
      s"queries: no CartesianProduct under autoBroadcast=-1 (except q_join_cross itself)" +
      (if (cartBad.isEmpty) "" else s" (violations: ${cartBad.mkString(", ")})"))
    // keep the de-hinted shapes' -1 plans in the dump for inspection
    Seq("q_tpch_q3_shape", "q_tpch_q10_shape", "q_join_multiway",
        "q_subquery_in", "q_join_range").foreach { q =>
      plans(s"$q (autoBroadcastJoinThreshold=-1)") = plan(q)
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L << 20)
    println(s"\n== $failed failing checks ==\n")
    plans.foreach { case (q, p) =>
      println(s"\n### $q\n")
      println(p.linesIterator.take(60).mkString("\n"))
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._

/** Tier-B relational surface: scan/filter/project, aggregation, sort /
  * top-k, set ops, subqueries (SURVEY.md §2 Tier B).
  *
  * Every query is a declarative DataFrame program — Catalyst handles
  * pushdown/pruning/agg placement — and ends in a total ORDER BY so the
  * output hash-compares deterministically against the DuckDB oracle.
  * Scale notes are on the individual queries where the plan shape matters.
  */
object Relational {

  val queries: Seq[OpQuery] = Seq(

    // -- scan / projection -------------------------------------------------
    // Projection reaches the parquet scan (ReadSchema prunes to 4 columns).
    OpQuery("q_scan_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // -- filters (pushed to the scan: PushedFilters in explain) ------------
    OpQuery("q_filter_compare",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter(col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },

    OpQuery("q_filter_string_eq",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d)
        .filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    OpQuery("q_filter_date_range",
      """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
                col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
        .select(col("l_orderkey"), col("l_linenumber"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
    },

    OpQuery("q_filter_compound",
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE (l_returnflag = 'A' OR l_returnflag = 'R')
        |  AND NOT (l_linestatus = 'O')
        |  AND l_quantity IN (1, 2, 3)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter((col("l_returnflag") === "A" || col("l_returnflag") === "R") &&
                !(col("l_linestatus") === "O") &&
                col("l_quantity").isin(1, 2, 3))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    },

    OpQuery("q_filter_like",
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_name LIKE '%widget%' AND p_type LIKE 'PRO%'
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d)
        .filter(col("p_name").like("%widget%") && col("p_type").like("PRO%"))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")
    },

    // The testdata has no physical nulls, so nulls are *derived* with
    // NULLIF and then filtered with IS NULL / handled with COALESCE.
    OpQuery("q_filter_null",
      """SELECT o_orderkey, COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status
        |FROM orders WHERE NULLIF(o_orderstatus, 'P') IS NULL
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d)
        .select(col("o_orderkey"),
          coalesce(expr("nullif(o_orderstatus, 'P')"), lit("PENDING")).as("status"),
          expr("nullif(o_orderstatus, 'P')").as("n"))
        .filter(col("n").isNull)
        .select("o_orderkey", "status")
        .orderBy("o_orderkey")
    },

    OpQuery("q_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Per-row IEEE arithmetic is bit-deterministic given the same
    // association order, so no rounding is needed here.
    OpQuery("q_proj_arithmetic",
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax")
        .orderBy("l_orderkey", "l_linenumber")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("charge"))
    },

    OpQuery("q_case_when",
      """SELECT o_orderkey,
        |       CASE WHEN o_totalprice > 300000 THEN 'big'
        |            WHEN o_totalprice > 150000 THEN 'mid'
        |            ELSE 'small' END AS bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d)
        .select(col("o_orderkey"),
          when(col("o_totalprice") > 300000, "big")
            .when(col("o_totalprice") > 150000, "mid")
            .otherwise("small").as("bucket"))
        .orderBy("o_orderkey")
    },

    // -- aggregation -------------------------------------------------------
    OpQuery("q_agg_global",
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
         |       ${oSum("o_totalprice")} AS sum_price,
         |       MIN(o_totalprice) AS min_price,
         |       MAX(o_totalprice) AS max_price,
         |       ${oAvg("o_totalprice")} AS avg_price
         |FROM orders""".stripMargin) { (s, d) =>
      orders(s, d).agg(
        count(lit(1)).as("cnt"),
        dsum(col("o_totalprice")).as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        (dsum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
    },

    // TPC-H Q1 shape: partial (map-side) aggregation then a 6-group final —
    // the canonical shuffle-light aggregate; survives any scale-up because
    // the shuffle carries only |groups| × partial-state rows.
    OpQuery("q_agg_group",
      s"""SELECT l_returnflag, l_linestatus,
         |       ${oSum("l_quantity")} AS sum_qty,
         |       ${oSum("l_extendedprice")} AS sum_base_price,
         |       ${oSum6("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |       ${oSum6("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |       ${oSum("l_quantity")} / COUNT(*) AS avg_qty,
         |       ${oSum("l_extendedprice")} / COUNT(*) AS avg_price,
         |       ${oSum("l_discount")} / COUNT(*) AS avg_disc,
         |       CAST(COUNT(*) AS BIGINT) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      val disc  = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val charge = disc * (lit(1.0) + col("l_tax"))
      lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum6(disc).as("sum_disc_price"),
          dsum6(charge).as("sum_charge"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    OpQuery("q_agg_multigroup",
      s"""SELECT o_orderstatus, o_orderpriority,
         |       CAST(COUNT(*) AS BIGINT) AS n_orders,
         |       ${oSum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY o_orderstatus, o_orderpriority
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, d) =>
      orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },

    OpQuery("q_agg_having",
      s"""SELECT l_suppkey, ${oSum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_suppkey
         |HAVING ${oSum("l_quantity")} > 10000
         |ORDER BY l_suppkey""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy("l_suppkey")
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 10000)
        .orderBy("l_suppkey")
    },

    OpQuery("q_agg_count_distinct",
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
             countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_returnflag")
    },

    // HLL sketch oracled the same way as q_agg_approx_quantile: the
    // sketch itself is engine-specific, so output the EXACT per-group
    // distinct count (both engines agree bitwise) plus an `hll_ok`
    // boolean asserting the HLL estimate landed within 2× its default
    // relative standard deviation (5%) of the exact value — the oracle
    // pins TRUE, so sketch drift breaks the hash match. Honest cost
    // note: this oracle pattern puts the exact countDistinct IN the
    // measured plan alongside the sketch, so the benched latency is the
    // agreement check, not the approx-only operator (at 100 TB you
    // would run approx_count_distinct alone — one pass, no per-key
    // shuffle of distinct values; the exact side here exists to make
    // the sketch oracle-checkable at all).
    OpQuery("q_agg_approx_distinct",
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |       TRUE AS hll_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // Round 20: both aggregates run over the DISTINCT (flag, orderkey)
      // pairs instead of raw rows. HyperLogLog++ registers are max() of
      // per-value hash statistics, so the sketch over the distinct
      // support is BIT-IDENTICAL to the sketch over the multiset — and
      // countDistinct over raw rows ≡ count over the distinct pairs.
      // What it removes: Spark's one-distinct aggregate plan kept an
      // HLL++ buffer per (flag, orderkey) group through two stages
      // (15M buffers at sf10 — 5.9 s solo); the distinct-pairs
      // aggregate carries no sketch state at all, then 3 group buffers
      // sketch the 15M pairs.
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"))
        .distinct()
        .groupBy("l_returnflag")
        .agg(count(col("l_orderkey")).as("n_orders"),
             approx_count_distinct(col("l_orderkey")).as("a"))
        .select(col("l_returnflag"), col("n_orders"),
          (abs(col("a") - col("n_orders")).cast("double") / col("n_orders") <= 0.1)
            .as("hll_ok"))
        .orderBy("l_returnflag")
    },

    // Mergeable-sketch rollup: per-group Datasketches HLL sketches
    // UNIONED into a global estimate — the re-aggregation pattern that
    // makes sketches matter at 100 TB (partial sketches merge across
    // partitions/groups/days without rescanning; a count-distinct
    // rollup can't reuse per-group exact counts, a sketch rollup can).
    // The sketch bytes are engine-specific, so the output carries the
    // EXACT per-group distinct (oracle-matched) plus a pinned-TRUE
    // agreement boolean asserting the merged global estimate landed
    // within 5% of the exact global distinct (the q_agg_approx_distinct
    // convention: sketch drift breaks the hash match).
    OpQuery("q_agg_hll_merge",
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |       TRUE AS merged_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // Round 20: every branch now reads the DISTINCT (flag, partkey)
      // pairs instead of raw lineitem — countDistinct over raw ≡ count
      // over the pairs (exact outputs unchanged bitwise), and the HLL
      // sketch over the distinct support sees the same value set. The
      // sketch ESTIMATE can shift ~0.5% (Datasketches' HIP estimator is
      // insertion-order sensitive — PropertySpec pins this), far inside
      // the 5% envelope merged_ok pins, so the output row is unchanged.
      // What it removes: the one-distinct aggregate plan carried an HLL
      // buffer per (flag, partkey) group through two stages; now no
      // sketch state rides the wide exchange and the distinct subtree
      // is shared by both consumers (AQE stage reuse).
      val pairs = lineitem(s, d)
        .select(col("l_returnflag"), col("l_partkey"))
        .distinct()
      val perGroup = pairs
        .groupBy("l_returnflag")
        .agg(count(col("l_partkey")).as("n_parts"),
             expr("hll_sketch_agg(l_partkey)").as("sk"))
      val global = perGroup
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        .crossJoin(broadcast(pairs.agg(countDistinct(col("l_partkey")).as("exact"))))
        .select((abs(col("est") - col("exact")).cast("double") / col("exact") <= 0.05)
          .as("merged_ok"))
      perGroup.select("l_returnflag", "n_parts")
        .crossJoin(broadcast(global))
        .orderBy("l_returnflag")
    },

    // Recursive CTE (round 13 — Spark 4.1 executes WITH RECURSIVE
    // natively, so the last "DuckDB-only SQL shape" joins the oracle
    // set): a calendar-spine generator densifying monthly order counts,
    // zero-filled months included. The recursion generates the tiny
    // DIMENSION (24 rows, data-independent) and the fact table joins it
    // once — the only recursion shape that belongs at 100 TB (the
    // corpus-sized transitive closure runs as the label-propagation
    // operator, q_dedup_cluster, not as a recursive CTE).
    OpQuery("q_cte_recursive",
      """WITH RECURSIVE months(m) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL SELECT m + INTERVAL 1 MONTH FROM months
        |  WHERE m < DATE '1996-12-01')
        |SELECT strftime(m, '%Y-%m') AS month,
        |       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
        |FROM months LEFT JOIN orders
        |  ON date_trunc('month', o_orderdate) = CAST(m AS TIMESTAMP)
        |GROUP BY m ORDER BY month""".stripMargin) { (s, d) =>
      orders(s, d).createOrReplaceTempView("graft_orders_rec")
      s.sql(
        """WITH RECURSIVE months(m) AS (
          |  SELECT DATE '1995-01-01'
          |  UNION ALL SELECT m + INTERVAL '1' MONTH FROM months
          |  WHERE m < DATE '1996-12-01')
          |SELECT date_format(m, 'yyyy-MM') AS month,
          |       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
          |FROM months LEFT JOIN graft_orders_rec
          |  ON date_trunc('MONTH', o_orderdate) = CAST(m AS TIMESTAMP)
          |GROUP BY m ORDER BY month""".stripMargin)
    },

    // Mergeable QUANTILE-sketch rollup — the quantile twin of
    // q_agg_hll_merge, built on the custom Catalyst KLL aggregates
    // (functions/SketchExprs: TypedImperativeAggregate over Datasketches
    // KllDoublesSketch; Spark 4 ships the HLL trio but no quantile
    // sketch). Per-group sketches are computed map-side (bounded K=200
    // buffers, serialized only at exchange boundaries), then UNIONED
    // into a global sketch whose p50 estimate must land within 5% of
    // the exact global median — the oracle pins TRUE, so sketch or
    // merge drift breaks the hash match. Exact values come from the
    // bucket-prune Quantiles operator, whose interpolated doubles match
    // DuckDB's quantile_cont bitwise.
    OpQuery("q_agg_kll_merge",
      """WITH h AS (
        |  SELECT l_returnflag AS f, l_extendedprice AS v, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT f, v,
        |         CAST(SUM(c) OVER (PARTITION BY f ORDER BY v) AS BIGINT) AS cum,
        |         CAST(SUM(c) OVER (PARTITION BY f) AS BIGINT) AS n
        |  FROM h),
        |br AS (
        |  SELECT f, MAX(n) AS n,
        |         MIN(CASE WHEN cum >= floor(1.0 + CAST(n - 1 AS DOUBLE) * 0.5) THEN v END) AS lo50,
        |         MIN(CASE WHEN cum >= ceil(1.0 + CAST(n - 1 AS DOUBLE) * 0.5) THEN v END) AS hi50
        |  FROM cum GROUP BY f)
        |SELECT f AS l_returnflag,
        |       lo50 + (1.0 + CAST(n - 1 AS DOUBLE) * 0.5
        |               - floor(1.0 + CAST(n - 1 AS DOUBLE) * 0.5)) * (hi50 - lo50) AS p50,
        |       TRUE AS merged_ok
        |FROM br ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // ONE histogram scan feeds BOTH the per-group and the global exact
      // median: the price domain is bounded (≤2-dp decimals), so the
      // round-18 histQuantiles path applies (bit-identical to the
      // oracle's h/cum/br chain), and the global histogram is the
      // per-group one re-aggregated by value — lineitem's raw rows are
      // never ranked and never scanned a second time for quantiles
      // (groupQuantiles here measured 17.6 s vs DuckDB 1.71 at sf10
      // solo). Round 21: no longer Caches.cached — the three consumers
      // (per-group exact, global exact, weighted sketch) share the
      // identical exchange via runtime exchange reuse, and a probe
      // measured the cache materialization barrier ~0.5 s slower cold
      // at sf0.1 (the q_dedup_semantic probe-and-revert lesson). The
      // null pre-filter mirrors histQuantiles' own (pushed-down) filter
      // so all consumers' subtrees canonicalize EQUAL — without it the
      // sketch consumer scans without isnotnull and reuse does not fire
      // (plan-verified on q_agg_approx_quantile, commit f8323f9).
      val hist = lineitem(s, d)
        .filter(col("l_returnflag").isNotNull && col("l_extendedprice").isNotNull)
        .groupBy(col("l_returnflag").as("g"),
          col("l_extendedprice").cast("double").as("v"))
        .agg(count(lit(1)).as("c"))
      val exact = Quantiles.histQuantiles(hist, Seq("p50" -> 0.5))
        .withColumnRenamed("g", "f")
      val globalExact = Quantiles.histQuantiles(
        hist.groupBy("v").agg(sum(col("c")).as("c"))
          .select(lit("ALL").as("g"), col("v"), col("c")),
        Seq("gp50" -> 0.5))
        .select("gp50")
      // Round 21: the sketch branch rides the SAME histogram as the
      // exact side via the weighted-insert quantile summary
      // (functions/WeightedQuantile — the FreqSketchAggW precedent;
      // Datasketches KLL exposes no weighted update). Before: a second
      // full raw-row pass fed per-group KLL sketches one row at a time
      // (60M TypedImperativeAggregate updates at sf10); now the sketch
      // sees |distinct (flag, price)| weighted updates off the cached
      // histogram, which SATURATES with the bounded price domain — at
      // 100 TB the sketch branch is O(domain), not O(rows). The pinned
      // output (exact p50 + merged_ok within 5%) is unchanged: the
      // summary's normalized rank error (≲0.5% at 2048 entries) is
      // tighter than the K=200 KLL it replaces (~1.65%).
      val merged = hist
        .groupBy(col("g"))
        .agg(graft.functions.WeightedQuantile.wqSketchAgg(col("v"), col("c")).as("sk"))
        .agg(graft.functions.WeightedQuantile.wqQuantile(
          graft.functions.WeightedQuantile.wqMergeAgg(col("sk")), 0.5).as("est"))
      val ok = merged.crossJoin(broadcast(globalExact))
        .select((abs(col("est") - col("gp50")) / col("gp50") <= 0.05).as("merged_ok"))
      exact.select(col("f").as("l_returnflag"), col("p50"))
        .crossJoin(broadcast(ok))
        .orderBy("l_returnflag")
    },

    // Mergeable FREQUENCY-sketch rollup (round 13) — completes the
    // sketch triad (HLL distinct / KLL quantile / heavy-hitter
    // frequency). Per-group Misra-Gries-family LongsSketches over
    // l_suppkey merge into a global summary. The agreement pin is the
    // sketch's DETERMINISTIC error envelope: lower ≤ exact ≤ upper for
    // the global top supplier, which holds at EVERY scale — below the
    // 512-entry map capacity the bounds collapse to the exact count
    // (sf0.01's 100 suppliers), above it eviction widens them by
    // ≤ n/maxMapSize (round 19: the original exact-equality pin was
    // measured FALSE at sf0.1, whose 1000-supplier domain evicts — the
    // sf0.01 gate had hidden it; this round's full sf0.1 sweep caught
    // it). The per-group exact top supplier stays fully oracle-exact:
    // the composite integer ordering value (count·100000 + (99999 −
    // suppkey)) resolves ties to the lowest key identically on both
    // engines.
    OpQuery("q_agg_freq_merge",
      """WITH h AS (
        |  SELECT l_returnflag, l_suppkey, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag,
        |       CAST(arg_max(l_suppkey, c * 100000 + (99999 - l_suppkey)) AS BIGINT) AS top_supp,
        |       CAST(MAX(c) AS BIGINT) AS top_n,
        |       TRUE AS freq_ok
        |FROM h GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      import graft.functions.SketchExprs
      val h = lineitem(s, d).groupBy("l_returnflag", "l_suppkey")
        .agg(count(lit(1)).as("c"))
      val perGroup = h.groupBy("l_returnflag")
        .agg(max_by(col("l_suppkey"),
            col("c") * 100000 + (lit(99999) - col("l_suppkey"))).cast("long").as("top_supp"),
          max(col("c")).cast("long").as("top_n"))
      // the sketch path: per-group sketches → merged global summary.
      // Round 20: fed WEIGHTED from the (flag, suppkey) histogram `h`
      // (LongsSketch.update(item, count)) instead of a second raw-row
      // scan — Misra-Gries' deterministic envelope (lower ≤ exact ≤
      // upper, the property freq_ok pins) holds for any update
      // sequence, weighted or not, so the pinned output is unchanged
      // while lineitem is scanned ONCE (h's exchange subtree is shared
      // by all three consumers).
      val merged = h.groupBy("l_returnflag")
        .agg(SketchExprs.freqSketchAggW(col("l_suppkey"), col("c")).as("sk"))
        .agg(SketchExprs.freqMergeAgg(col("sk")).as("g"))
      val globalTop = h.groupBy("l_suppkey").agg(sum("c").as("n"))
        .agg(max_by(col("l_suppkey"),
            col("n") * 100000 + (lit(99999) - col("l_suppkey"))).as("gs"),
          max(col("n")).as("gn"))
      val ok = merged.crossJoin(broadcast(globalTop))
        .select((SketchExprs.freqLowerBound(col("g"), col("gs")) <= col("gn") &&
            col("gn") <= SketchExprs.freqUpperBound(col("g"), col("gs")))
          .as("freq_ok"))
      perGroup.crossJoin(broadcast(ok))
        .select(col("l_returnflag"), col("top_supp"), col("top_n"), col("freq_ok"))
        .orderBy("l_returnflag")
    },

    // Greenwald-Khanna approximate quantiles, oracle-checked: the GK
    // sketch itself is engine-specific, so the query outputs the EXACT
    // p50/p99 (distributed bucket-prune operator, same formulation the
    // oracle runs → doubles match bitwise) plus a `sketch_ok` boolean
    // asserting the sketch landed within 5% of the exact value — the
    // oracle pins TRUE, so sketch drift breaks the hash match. This
    // also exercises Quantiles' same-column multi-measure path (one
    // scan feeds both fractions).
    OpQuery("q_agg_approx_quantile",
      """WITH h AS (
        |  SELECT l_returnflag AS f, l_extendedprice AS v, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT f, v,
        |         CAST(SUM(c) OVER (PARTITION BY f ORDER BY v) AS BIGINT) AS cum,
        |         CAST(SUM(c) OVER (PARTITION BY f) AS BIGINT) AS n
        |  FROM h),
        |br AS (
        |  SELECT f, MAX(n) AS n,
        |         MIN(CASE WHEN cum >= floor(1.0 + CAST(n - 1 AS DOUBLE) * 0.5) THEN v END) AS lo50,
        |         MIN(CASE WHEN cum >= ceil(1.0 + CAST(n - 1 AS DOUBLE) * 0.5) THEN v END) AS hi50,
        |         MIN(CASE WHEN cum >= floor(1.0 + CAST(n - 1 AS DOUBLE) * 0.99) THEN v END) AS lo99,
        |         MIN(CASE WHEN cum >= ceil(1.0 + CAST(n - 1 AS DOUBLE) * 0.99) THEN v END) AS hi99
        |  FROM cum GROUP BY f)
        |SELECT f AS l_returnflag,
        |       lo50 + (1.0 + CAST(n - 1 AS DOUBLE) * 0.5
        |               - floor(1.0 + CAST(n - 1 AS DOUBLE) * 0.5)) * (hi50 - lo50) AS p50,
        |       lo99 + (1.0 + CAST(n - 1 AS DOUBLE) * 0.99
        |               - floor(1.0 + CAST(n - 1 AS DOUBLE) * 0.99)) * (hi99 - lo99) AS p99,
        |       TRUE AS sketch_ok
        |FROM br ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // Exact side off the one-scan value histogram (bounded decimal
      // domain — the round-18 histQuantiles argument): both fractions
      // read the same histogram. groupQuantiles' two raw-row passes
      // here measured 14.8 s vs DuckDB 1.25 at sf10 solo.
      // Round 21: the sketch branch rides the SAME histogram through
      // the weighted-insert quantile summary (functions/
      // WeightedQuantile), so lineitem is scanned ONCE total — the
      // former percentile_approx branch was a second full raw pass
      // feeding a GK summary one row at a time (60M ObjectHashAggregate
      // updates at sf10, where the histogram holds ~1M distinct
      // values and saturates with the bounded price domain). The
      // pinned output (exact p50/p99 + sketch_ok within 5%) is
      // unchanged: the summary's rank error (≲0.5% at 2048 entries)
      // is tighter than percentile_approx(accuracy=1000)'s 1/1000·2
      // envelope, per-group.
      // NOT Caches.cached: the histogram subtree is consumed twice
      // (exact + sketch) with an IDENTICAL exchange, which Spark's
      // exchange reuse dedups at runtime — a probe measured the cache
      // materialization barrier costing ~0.4 s cold at sf0.1 vs the
      // reused exchange (the q_dedup_semantic probe-and-revert lesson).
      // The null pre-filter matches the one histQuantiles applies (and
      // Catalyst pushes below the agg) on the exact side: WITHOUT it
      // the sketch consumer's subtree canonicalizes differently (no
      // isnotnull in its scan) and exchange reuse does NOT fire — the
      // plan then carries two full scans (plan-verified, commit f8323f9). Null
      // group/value rows are excluded by both consumers anyway (SQL
      // aggregate semantics / the sketch's null skip), so the filter
      // changes nothing semantically.
      val hist = lineitem(s, d)
        .filter(col("l_returnflag").isNotNull && col("l_extendedprice").isNotNull)
        .groupBy(col("l_returnflag").as("g"),
          col("l_extendedprice").cast("double").as("v"))
        .agg(count(lit(1)).as("c"))
      val exact = Quantiles.histQuantiles(hist,
        Seq("p50" -> 0.5, "p99" -> 0.99))
        .withColumnRenamed("g", "f")
      // ONE shared weighted summary serves both fractions (two separate
      // sketch aggregates would each maintain their own summary over
      // the same histogram)
      val wq = graft.functions.WeightedQuantile
      val sketch = hist
        .groupBy(col("g").as("f"))
        .agg(wq.wqSketchAgg(col("v"), col("c")).as("sk"))
        .select(col("f"), wq.wqQuantile(col("sk"), 0.5).as("a50"),
          wq.wqQuantile(col("sk"), 0.99).as("a99"))
      exact.join(sketch, "f")
        .select(col("f").as("l_returnflag"), col("p50"), col("p99"),
          (abs(col("a50") - col("p50")) / col("p50") <= 0.05 &&
           abs(col("a99") - col("p99")) / col("p99") <= 0.05).as("sketch_ok"))
        .orderBy("l_returnflag")
    },

    // Exact median/p90 via per-group value HISTOGRAMS: group counts by
    // (group, value), cumulative-sum the tiny histogram, and read the
    // bracketing values at ranks 1+(n-1)*q (quantile_cont's linear-
    // interpolation definition). Spark's exact `percentile` aggregate
    // buffers every raw value in a per-group map (measured ~30× DuckDB's
    // streaming quantile at sf0.1); the histogram is built by a map-side-
    // combinable hash aggregate, so the shuffle carries distinct values,
    // not rows — the shape that survives 100 TB, where a full-row
    // per-group sort would be the dominant shuffle. The oracle runs the
    // identical formulation, so the interpolated doubles match bitwise.
    OpQuery("q_agg_stats",
      """WITH qh AS (
        |  SELECT l_returnflag AS f, l_quantity AS v, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |qc AS (
        |  SELECT f, v,
        |         CAST(SUM(c) OVER (PARTITION BY f ORDER BY v) AS BIGINT) AS cum,
        |         CAST(SUM(c) OVER (PARTITION BY f) AS BIGINT) AS n
        |  FROM qh),
        |qa AS (
        |  SELECT f, MAX(n) AS nn,
        |         MIN(CASE WHEN cum >= floor(1.0 + CAST(n - 1 AS DOUBLE) * 0.5) THEN v END) AS q_lo,
        |         MIN(CASE WHEN cum >= ceil(1.0 + CAST(n - 1 AS DOUBLE) * 0.5) THEN v END) AS q_hi
        |  FROM qc GROUP BY f),
        |ph AS (
        |  SELECT l_returnflag AS f, l_extendedprice AS v, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |pc AS (
        |  SELECT f, v,
        |         CAST(SUM(c) OVER (PARTITION BY f ORDER BY v) AS BIGINT) AS cum,
        |         CAST(SUM(c) OVER (PARTITION BY f) AS BIGINT) AS n
        |  FROM ph),
        |pa AS (
        |  SELECT f, MAX(n) AS nn,
        |         MIN(CASE WHEN cum >= floor(1.0 + CAST(n - 1 AS DOUBLE) * 0.9) THEN v END) AS p_lo,
        |         MIN(CASE WHEN cum >= ceil(1.0 + CAST(n - 1 AS DOUBLE) * 0.9) THEN v END) AS p_hi
        |  FROM pc GROUP BY f),
        |sv AS (
        |  SELECT l_returnflag AS f,
        |         ROUND(stddev_samp(l_discount), 6) AS sd_disc,
        |         ROUND(var_samp(l_discount), 6) AS var_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT sv.f AS l_returnflag, sd_disc, var_disc,
        |       q_lo + (1.0 + CAST(qa.nn - 1 AS DOUBLE) * 0.5
        |               - floor(1.0 + CAST(qa.nn - 1 AS DOUBLE) * 0.5)) * (q_hi - q_lo) AS med_qty,
        |       ROUND(p_lo + (1.0 + CAST(pa.nn - 1 AS DOUBLE) * 0.9
        |               - floor(1.0 + CAST(pa.nn - 1 AS DOUBLE) * 0.9)) * (p_hi - p_lo), 4) AS p90_price
        |FROM sv JOIN qa ON sv.f = qa.f JOIN pa ON sv.f = pa.f
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // Exact median/p90 via per-measure value histograms: l_quantity
      // and l_extendedprice are bounded decimal domains, so each
      // quantile reads a map-combinable histogram — the identical
      // h/cum/br formulation the oracle runs (doubles match bitwise),
      // mirroring the oracle's own qh/ph split. The former
      // groupQuantiles route paid two raw-row passes per measure and
      // measured 14.5 s vs DuckDB 1.54 at sf10 solo.
      // Round 21 probe-and-revert: a combined (flag, qty, price)
      // histogram feeding both measures (one raw scan instead of two)
      // measured WORSE at both scales in the interleaved A/B
      // (sf0.1 1.88→2.24 s, sf10 4.07→5.66 s min): the combined
      // histogram must be exchanged AND regrouped-exchanged again for
      // the price measure (~2× the dominant 594k-row exchange), while
      // the raw scan it saves reads the warm table cache. Kept the
      // independent one-scan-per-measure histograms (commit f8323f9 has
      // the numbers; three cheap aggregate scans match the oracle's scan
      // count and shuffle only distinct values, the 100 TB shape).
      val medQty = Quantiles.histQuantilesOf(
          lineitem(s, d), "l_returnflag", "l_quantity", Seq("med_qty" -> 0.5))
        .withColumnRenamed("g", "f")
      val p90Price = Quantiles.histQuantilesOf(
          lineitem(s, d), "l_returnflag", "l_extendedprice",
          Seq("p90_price_raw" -> 0.9))
        .withColumnRenamed("g", "f")
      val quantiles = medQty.join(p90Price, "f")
      val sv = lineitem(s, d).groupBy(col("l_returnflag").as("f")).agg(
        round(stddev_samp(col("l_discount")), 6).as("sd_disc"),
        round(var_samp(col("l_discount")), 6).as("var_disc"))
      sv.join(quantiles, "f")
        .select(col("f").as("l_returnflag"), col("sd_disc"), col("var_disc"),
          col("med_qty"), round(col("p90_price_raw"), 4).as("p90_price"))
        .orderBy("l_returnflag")
    },

    // Pivot: one column per l_linestatus value. The oracle is the
    // portable FILTERed-aggregate form (identical semantics; DuckDB's
    // PIVOT syntax would work too but binds column names dynamically).
    OpQuery("q_pivot",
      s"""SELECT l_returnflag,
         |       CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS F,
         |       CAST(COUNT(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS O,
         |       ${oSum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val pivoted = lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O"))
      val qty = lineitem(s, d).groupBy("l_returnflag")
        .agg(dsum(col("l_quantity")).as("sum_qty"))
      pivoted.join(qty, Seq("l_returnflag"))
        .select("l_returnflag", "F", "O", "sum_qty")
        .orderBy("l_returnflag")
    },

    // 5% Bernoulli-style sample, decided by md5(row key) mod 100 rather
    // than a seeded RNG: the same row is always in or out regardless of
    // partitioning/retries (rand()-seeded samples are only stable per
    // input split), the filter is embarrassingly parallel at any scale,
    // and DuckDB computes the identical predicate → full oracle check.
    OpQuery("q_sample",
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE CAST('0x' || substr(md5(l_orderkey || ':' || l_linenumber), 1, 8) AS BIGINT) % 100 < 5
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val h = conv(substring(md5(
        concat_ws(":", col("l_orderkey"), col("l_linenumber"))), 1, 8), 16, 10)
        .cast("long") % 100
      lineitem(s, d)
        .filter(h < 5)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // -- grouping sets / rollup / cube ------------------------------------
    OpQuery("q_rollup",
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(COUNT(*) AS BIGINT) AS cnt, ${oSum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    OpQuery("q_cube",
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(COUNT(*) AS BIGINT) AS cnt, ${oSum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    OpQuery("q_grouping_sets",
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
         |       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
         |       CAST(COUNT(*) AS BIGINT) AS cnt, ${oSum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) { (s, d) =>
      lineitem(s, d).createOrReplaceTempView("graft_li_gs")
      // fixed-point long sum (the SQL image of Tables.dsum): the Expand
      // behind GROUPING SETS replays every row once per set, so the
      // decimal accumulator this replaces was paid 3x per input row
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           |       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           |       CAST(COUNT(*) AS BIGINT) AS cnt,
           |       CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
           |FROM graft_li_gs
           |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
           |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    },

    // -- sort / top-k ------------------------------------------------------
    OpQuery("q_sort_multikey",
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC""".stripMargin) { (s, d) =>
      orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(col("o_orderstatus").asc, col("o_totalprice").desc, col("o_orderkey").asc)
    },

    // ORDER BY + LIMIT plans as TakeOrderedAndProject: per-partition top-k
    // then a k-row driver merge — no global sort at any scale.
    OpQuery("q_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // -- set operations ----------------------------------------------------
    OpQuery("q_union_all",
      """SELECT o_orderkey, 'high' AS tag FROM orders WHERE o_totalprice > 400000
        |UNION ALL
        |SELECT o_orderkey, 'urgent' AS tag FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey, tag""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      o.filter(col("o_totalprice") > 400000).select(col("o_orderkey"), lit("high").as("tag"))
        .unionAll(
          o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"), lit("urgent").as("tag")))
        .orderBy("o_orderkey", "tag")
    },

    OpQuery("q_union_distinct",
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      orders(s, d).filter(col("o_totalprice") > 300000).select(col("o_custkey").as("custkey"))
        .union(customer(s, d).filter(col("c_acctbal") < 0).select(col("c_custkey").as("custkey")))
        .distinct()
        .orderBy("custkey")
    },

    OpQuery("q_intersect",
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("custkey"))
        .intersect(o.filter(col("o_totalprice") > 200000).select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    },

    OpQuery("q_except",
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      customer(s, d).select(col("c_custkey").as("custkey"))
        .except(orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    },

    // -- subqueries / CTE --------------------------------------------------
    // Scalar subquery = broadcast of a 1-row aggregate; the decimal-exact
    // average keeps the filter boundary identical on both engines.
    OpQuery("q_subquery_scalar",
      s"""SELECT o_orderkey, o_totalprice FROM orders
         |WHERE o_totalprice > (SELECT ${oAvg("o_totalprice")} FROM orders)
         |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      val avgDf = o.agg((dsum(col("o_totalprice")) / count(lit(1))).as("avg_tp"))
      o.select("o_orderkey", "o_totalprice")
        .crossJoin(broadcast(avgDf))
        .filter(col("o_totalprice") > col("avg_tp"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    OpQuery("q_subquery_in",
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      // Semi-join side is customer-derived (O(SF)) — no broadcast() hint;
      // stats broadcast it at bench SF, AQE/shuffle takes over at scale.
      orders(s, d)
        .join(customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")), col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    },

    // Scalar subquery in the SELECT clause: each order's share of total.
    OpQuery("q_subquery_select",
      s"""SELECT o_orderkey,
         |       o_totalprice / (SELECT ${oSum("o_totalprice")} FROM orders) AS share
         |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      val total = o.agg(dsum(col("o_totalprice")).as("total"))
      o.select("o_orderkey", "o_totalprice")
        .crossJoin(broadcast(total))
        .select(col("o_orderkey"), (col("o_totalprice") / col("total")).as("share"))
        .orderBy("o_orderkey")
    },

    // Multiset set-ops: duplicates preserved per bag semantics.
    OpQuery("q_intersect_all",
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT ALL
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("custkey"))
        .intersectAll(o.filter(col("o_totalprice") > 100000).select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    },

    OpQuery("q_except_all",
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
        |EXCEPT ALL
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      o.filter(col("o_totalprice") > 100000).select(col("o_custkey").as("custkey"))
        .exceptAll(o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    },

    // Grouping by a computed expression (price bucket).
    OpQuery("q_agg_group_expr",
      s"""SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       ${oSum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      orders(s, d)
        .groupBy(floor(col("o_totalprice") / 50000).as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("bucket")
    },

    // TPC-H Q15 shape: CTE reused twice (revenue per supplier + its max).
    OpQuery("q_cte_maxrev",
      s"""WITH rev AS (
         |  SELECT l_suppkey, ${oSum6("l_extendedprice * (1 - l_discount)")} AS total_rev
         |  FROM lineitem GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_rev
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
         |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val rev = lineitem(s, d)
        .groupBy("l_suppkey")
        .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_rev"))
      val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
      supplier(s, d)
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .crossJoin(broadcast(maxRev))
        .filter(col("total_rev") === col("max_rev"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    }
  )
}

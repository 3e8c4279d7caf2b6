package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Join family (SURVEY.md §2 Tier B "Joins"): inner/left/semi/anti, cross,
  * theta/range, multi-way star joins, derived-table joins, and an as-of
  * join emulation.
  *
  * Scale discipline: dimension tables (region/nation/supplier/customer at
  * star-schema ratios) are broadcast explicitly; fact-fact joins shuffle on
  * their keys and rely on AQE for skew. Nothing here collects to the
  * driver.
  */
object Joins {

  val queries: Seq[OpQuery] = Seq(

    // Fact⋈fact equi-join, aggregated: shuffle on l_orderkey/o_orderkey.
    OpQuery("q_join_inner",
      s"""SELECT o_orderpriority,
         |       CAST(COUNT(*) AS BIGINT) AS n_items,
         |       ${oSum6("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderstatus = 'F'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(orders(s, d).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum6(col("rev")).as("revenue"))
        .orderBy("o_orderpriority")
    },

    // Left outer join preserving customers with zero orders.
    OpQuery("q_join_left",
      """SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).select("c_custkey")
        .join(orders(s, d).select("o_custkey", "o_orderkey"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },

    OpQuery("q_join_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d)
        .join(orders(s, d).filter(col("o_orderstatus") === "O").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    OpQuery("q_join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d)
        .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // Full outer: customers with no urgent orders and urgent orders with
    // no customer row survive with nulls on the missing side.
    OpQuery("q_join_full",
      """SELECT COALESCE(c_custkey, -1) AS custkey,
        |       CAST(COUNT(o_orderkey) AS BIGINT) AS n_urgent,
        |       CASE WHEN c_custkey IS NULL THEN 'orphan_order'
        |            WHEN COUNT(o_orderkey) = 0 THEN 'no_urgent' ELSE 'matched' END AS side
        |FROM customer FULL OUTER JOIN
        |     (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') o
        |  ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY custkey""".stripMargin) { (s, d) =>
      val o = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_custkey")
      customer(s, d).select("c_custkey")
        .join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_urgent"))
        .select(coalesce(col("c_custkey"), lit(-1L)).as("custkey"),
          col("n_urgent"),
          when(col("c_custkey").isNull, "orphan_order")
            .when(col("n_urgent") === 0, "no_urgent")
            .otherwise("matched").as("side"))
        .orderBy("custkey")
    },

    // Self-join (the one multi-table shape the reference's single-table
    // model admits, SURVEY.md §2 "Joins"): consecutive-order gaps would
    // use a window; the *pair* formulation exercises the self-join path.
    OpQuery("q_join_self",
      """SELECT o1.o_custkey,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs_30d
        |FROM orders o1 JOIN orders o2
        |  ON o1.o_custkey = o2.o_custkey
        | AND o1.o_orderkey < o2.o_orderkey
        | AND o2.o_orderdate BETWEEN o1.o_orderdate AND o1.o_orderdate + INTERVAL 30 DAY
        |GROUP BY o1.o_custkey ORDER BY o1.o_custkey""".stripMargin) { (s, d) =>
      val o = orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
      o.as("o1").join(o.as("o2"),
          col("o1.o_custkey") === col("o2.o_custkey") &&
            col("o1.o_orderkey") < col("o2.o_orderkey") &&
            col("o2.o_orderdate").between(col("o1.o_orderdate"),
              col("o1.o_orderdate") + expr("INTERVAL 30 DAY")))
        .groupBy(col("o1.o_custkey").as("o_custkey"))
        .agg(count(lit(1)).as("n_pairs_30d"))
        .orderBy("o_custkey")
    },

    // Salted join (Skew.saltedJoin) — same result as the plain join, so
    // the plain join IS the oracle. Skew-AWARE since round 20: one
    // sampling pass estimates per-key counts and salts only keys above
    // the threshold. l_orderkey is unskewed (≤7 rows/key at every SF),
    // so detection finds nothing and the executed plan IS the plain
    // join — the r19 verdict measured the previous unconditional
    // salting at 5.4× DuckDB at sf10, pure overhead on unskewed data.
    // The salting mechanics stay exercised by the skewed-input specs
    // (BucketingSpec/DedupVectorSpec) via detection and forcedHot.
    OpQuery("q_join_salted",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      Skew.saltedJoin(
          lineitem(s, d).select("l_orderkey", "l_linenumber"),
          orders(s, d).select("o_orderkey", "o_orderstatus"),
          "l_orderkey", "o_orderkey", "l_linenumber", salts = 4)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },

    OpQuery("q_join_cross",
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      region(s, d).select("r_name")
        .crossJoin(nation(s, d).select("n_name"))
        .orderBy("r_name", "n_name")
    },

    // Equi-key + theta residual: planned as a hash join with a post-filter,
    // not a nested loop — the shape that survives scale-up.
    OpQuery("q_join_theta",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_late
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey
        | AND l_shipdate > o_orderdate + INTERVAL 100 DAY
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      lineitem(s, d).select("l_orderkey", "l_shipdate")
        .join(orders(s, d).select("o_orderkey", "o_orderdate", "o_orderstatus"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 100 DAY"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_late"))
        .orderBy("o_orderstatus")
    },

    // Band join whose downstream is a per-key COUNT — so the join never
    // has to happen (round 18). n_cust(s) = #{c : |c.acctbal −
    // s.acctbal| ≤ 500} is an ORDER STATISTIC of the customer acctbal
    // distribution: F(s+500) − F⁻(s−500), with F the inclusive CDF and
    // F⁻ the strictly-below one. The plan builds the acctbal histogram
    // (one map-combinable aggregate), inserts every supplier band
    // boundary into the value axis (boundaries are exact values in the
    // same decimal domain, so the lookup is an EQUI join by
    // construction — the inserted point is always present), prefix-sums
    // customer mass once, and reads both boundary ranks per supplier.
    // No pair is ever materialized.
    //
    // Why this matters at scale: the ±500 band's QUALIFYING PAIRS grow
    // ~n² under replication (the r17 sf10 bench: ~19G candidate pairs,
    // 342 s concurrent through the previous bucket+salt equi-join —
    // DuckDB's IEJoin streamed the same pairs in 31 s). The CDF plan is
    // O(n) + one prefix sum over the DOMAIN-BOUNDED histogram: acctbal
    // has ≤1.1M distinct cent values at ANY scale factor, so the
    // global-order window is a bounded frame, not an O(n) sort (were
    // the domain unbounded, the same plan works with a range-partitioned
    // two-pass prefix sum). The bucket(b−1,b,b+1)+salt equi-join this
    // replaces (git history, r12–r17) remains the right shape when the
    // PAIRS themselves are the output — here it was paying the full
    // quadratic stream for counts the histogram already knew.
    OpQuery("q_join_range",
      """SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_cust
        |FROM supplier JOIN customer
        |  ON c_acctbal BETWEEN s_acctbal - 500 AND s_acctbal + 500
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      // each supplier contributes two SIGNED boundary probes, so the
      // CDF is built and joined exactly ONCE (two per-boundary joins
      // would re-evaluate the whole histogram+window subtree)
      val probes = supplier(s, d).select(col("s_suppkey"),
        explode(array(
          struct((col("s_acctbal") + 500).as("v"), lit(1L).as("sgn")),
          struct((col("s_acctbal") - 500).as("v"), lit(-1L).as("sgn")))).as("p"))
        .select(col("s_suppkey"), col("p.v").as("v"), col("p.sgn").as("sgn"))
      val histC = customer(s, d).groupBy(col("c_acctbal").as("v"))
        .agg(count(lit(1)).as("c"))
      // value axis = customer values ∪ boundary probe values
      val allV = histC.select("v")
        .unionByName(probes.select("v").distinct()).distinct()
      // one prefix sum over the domain-bounded axis: le = #customers ≤ v,
      // lt = #customers < v (boundary points carry zero mass of their own)
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
      val cdf = allV.join(histC, Seq("v"), "left")
        .select(col("v"), coalesce(col("c"), lit(0L)).as("c"))
        .withColumn("le", sum(col("c")).over(w))
        .withColumn("lt", col("le") - col("c"))
        .select(col("v"), col("le"), col("lt"))
      // the lookup is an equi join on the exact inserted probe value:
      // n = le(s+500) − lt(s−500), folded as Σ sgn·rank
      probes.join(cdf, Seq("v"))
        .groupBy("s_suppkey")
        .agg(sum(when(col("sgn") === 1L, col("le")).otherwise(-col("lt")))
          .as("n_cust"))
        // the oracle's INNER join emits no group for a pair-less
        // supplier; counts are non-negative so sum>0 ⟺ some pair exists
        .filter(col("n_cust") > 0)
        .orderBy("s_suppkey")
    },

    // TPC-H Q5 shape: one fact-fact shuffle join + broadcast star dims.
    OpQuery("q_join_multiway",
      s"""SELECT n_name, ${oSum6("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer
         |JOIN orders   ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      val asiaNations = nation(s, d)
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_name")
      // the fact-fact join (orders x lineitem) as an explicit
      // SORT-MERGE join: both sides are O(fact) so broadcast is out,
      // and SMJ spills both sides — a shuffled-hash hint would be
      // marginally faster here but pins an O(fact/partitions) hash
      // build in task memory, the unbounded class this engine avoids
      // cust is customer-derived — O(SF), not a star dim like nation or
      // region (fixed 25/5 rows, which keep their hints above). No
      // broadcast() hint: its static join-output estimate is pessimistic,
      // so the planner starts with a shuffled join and AQE converts it to
      // broadcast at runtime when the ASIA slice is actually small.
      orders(s, d).select("o_orderkey", "o_custkey")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .hint("merge")
        .join(lineitem(s, d).select(col("l_orderkey"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("n_name")
        .agg(dsum6(col("rev")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // TPC-H Q7 shape (volume shipping): revenue flowing between two
    // named nations in BOTH directions, by shipment year. Two bounded
    // nation dims broadcast onto supplier and customer; the fact-fact
    // join (lineitem x orders) is a spillable sort-merge join, same
    // policy as Q5; the pair filter (supp_nation <> cust_nation over
    // the two-nation slice) reproduces Q7's symmetric OR predicate.
    OpQuery("q_tpch_q7_shape",
      s"""SELECT supp_nation, cust_nation, CAST(l_year AS BIGINT) AS l_year,
         |       ${oSum6("volume")} AS revenue
         |FROM (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |         EXTRACT(YEAR FROM l_shipdate) AS l_year,
         |         l_extendedprice * (1 - l_discount) AS volume
         |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
         |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
         |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
         |    AND c_nationkey = n2.n_nationkey
         |    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_19')
         |      OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_3'))
         |    AND l_shipdate >= TIMESTAMP '1995-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-01-01') shipping
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, d) =>
      val pair = Seq("NATION_3", "NATION_19")
      val n1 = nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
      val n2 = nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
      val supp = supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .select("s_suppkey", "supp_nation")
      val cust = customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .select("c_custkey", "cust_nation")
      // orders x (two-nation customers): customer-derived O(SF) side —
      // no hint, AQE may broadcast the slice at runtime (Q5 policy)
      val ord = orders(s, d).select("o_orderkey", "o_custkey")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "cust_nation")
      lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
                col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("volume"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .hint("merge")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum6(col("volume")).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // Join against a derived aggregate (the reference's session-list shape,
    // /root/reference/database.py:217–232: join on per-group MAX).
    OpQuery("q_join_derived",
      """SELECT o.o_custkey,
        |       strftime(m.max_date, '%Y-%m-%d') AS last_order_day,
        |       CAST(MAX(o.o_orderkey) AS BIGINT) AS last_orderkey
        |FROM orders o
        |JOIN (SELECT o_custkey AS k, MAX(o_orderdate) AS max_date
        |      FROM orders GROUP BY o_custkey) m
        |  ON o.o_custkey = m.k AND o.o_orderdate = m.max_date
        |GROUP BY o.o_custkey, m.max_date
        |ORDER BY o.o_custkey""".stripMargin) { (s, d) =>
      val o = orders(s, d).select("o_custkey", "o_orderkey", "o_orderdate")
      val m = o.groupBy(col("o_custkey").as("k")).agg(max(col("o_orderdate")).as("max_date"))
      o.join(m, col("o_custkey") === col("k") && col("o_orderdate") === col("max_date"))
        .groupBy(col("o_custkey"), col("max_date"))
        .agg(max(col("o_orderkey")).as("last_orderkey"))
        .select(col("o_custkey"),
          date_format(col("max_date"), "yyyy-MM-dd").as("last_order_day"),
          col("last_orderkey"))
        .orderBy("o_custkey")
    },

    // As-of join (DuckDB ASOF JOIN; SURVEY.md §2): for each event, the most
    // recent order of the same user at or before the event time. graft.ops.AsOf
    // builds the marked join that DuckAsOfRule plans for SQL's ASOF LEFT JOIN
    // too: the merge formulation, one shuffle by key + one sort of
    // |events| + |orders|, no per-key pair explosion (the shape an as-of
    // join must have at 100 TB).
    OpQuery("q_asof_join",
      """SELECT e.event_id, strftime(o.o_orderdate, '%Y-%m-%d') AS asof_day
        |FROM events e
        |ASOF LEFT JOIN orders o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      AsOf.asofJoin(
        events(s, d).select("event_id", "user_id", "ts"),
        orders(s, d).select("o_custkey", "o_orderdate"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightValue = "o_orderdate", outName = "asof_ts")
        .select(col("event_id"), date_format(col("asof_ts"), "yyyy-MM-dd").as("asof_day"))
        .orderBy("event_id")
    },

    // Multi-payload as-of join: the matched order's date, key AND price
    // carried from ONE matched row (N independent single-column as-of
    // joins would not guarantee same-row payloads under duplicate
    // timestamps). The right side is pre-deduplicated to one order per
    // (custkey, orderdate) — max orderkey, the only tie-free formulation
    // BOTH engines' arbitrary-tie ASOF semantics agree on — then the
    // payloads ride one struct through the merge window (one state
    // column regardless of payload width).
    OpQuery("q_asof_join_multi",
      """WITH o1 AS (
        |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2),
        |o2 AS (
        |  SELECT o1.o_custkey, o1.o_orderdate, o1.o_orderkey, o.o_totalprice
        |  FROM o1 JOIN orders o ON o.o_orderkey = o1.o_orderkey)
        |SELECT e.event_id,
        |       strftime(o2.o_orderdate, '%Y-%m-%d') AS asof_day,
        |       o2.o_orderkey AS asof_orderkey,
        |       o2.o_totalprice AS asof_price
        |FROM events e
        |ASOF LEFT JOIN o2
        |  ON e.user_id = o2.o_custkey AND e.ts >= o2.o_orderdate
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val o = orders(s, d).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      val o1 = o.groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      val o2 = o1.join(
        o.select(col("o_orderkey").as("_ok"), col("o_totalprice")),
        col("o_orderkey") === col("_ok")).drop("_ok")
      AsOf.asofJoinCols(
        events(s, d).select("event_id", "user_id", "ts"), o2,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        payload = Seq("o_orderdate" -> "asof_ts",
          "o_orderkey" -> "asof_orderkey", "o_totalprice" -> "asof_price"))
        .select(col("event_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd").as("asof_day"),
          col("asof_orderkey"), col("asof_price"))
        .orderBy("event_id")
    }
  )
}

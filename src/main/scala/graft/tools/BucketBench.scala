package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (round 15, VERDICT #7): bucketed-layout evidence AT SCALE.
  *
  * Catalog.bucketedPersist was spec-pinned only at sf0.001
  * (BucketingSpec: SMJ with zero Exchange); this runs the join-heavy
  * shapes — the Q5-style multiway star, TPC-H Q3 and Q18 — over the
  * sf≈1 tables (`MakeSf1 <sf0.1 dir> <sf1Dir> 10`, 6M-row lineitem,
  * every join resolving within one replica) twice: once reading
  * plain parquet, once reading the SAME data as co-bucketed catalog
  * tables (lineitem/orders bucketed on the order key), and reports the
  * per-query Exchange count and wall delta. The one-time persist cost
  * is reported too — bucketing is the pay-once-join-many layout: at
  * 100 TB the fact/fact shuffle it removes is the dominant stage of
  * every one of these shapes.
  *
  * The three shapes are the same algebra as q_join_multiway /
  * q_tpch_q3 / q_tpch_q18, inlined so both layouts run byte-identical
  * plans except for the scan relation (the operator library's entries
  * are keyed on a parquet directory and cannot be pointed at a catalog
  * table without changing what is being measured).
  *
  * Usage: runMain graft.tools.BucketBench <sf1Dir> [buckets=32]
  */
object BucketBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BucketBench <sf1Dir> [buckets=32]")
    val dir = args(0)
    val buckets = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = Ladder.session()
    def pq(t: String) = spark.read.parquet(s"$dir/$t.parquet")
    val cust = pq("customer"); val nat = pq("nation"); val reg = pq("region")

    // fresh metastore per JVM but the warehouse dir persists across
    // runs — drop both so mode(overwrite) cannot hit
    // LOCATION_ALREADY_EXISTS on a rerun
    Seq("li_bkt15", "ord_bkt15").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    val t0 = System.nanoTime()
    graft.engine.Catalog.bucketedPersist(
      pq("lineitem"), "li_bkt15", "l_orderkey", buckets)
    graft.engine.Catalog.bucketedPersist(
      pq("orders"), "ord_bkt15", "o_orderkey", buckets)
    println(f"[bucket] one-time persist wall=${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"(lineitem+orders, $buckets buckets on the order key)")

    def shapes(li: DataFrame, ord: DataFrame): Seq[(String, DataFrame)] = {
      val asiaN = nat.join(
          broadcast(reg.filter(col("r_name") === "ASIA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val c = cust.select("c_custkey", "c_nationkey")
        .join(broadcast(asiaN), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_name")
      val multiway = ord.select("o_orderkey", "o_custkey")
        .join(c, col("o_custkey") === col("c_custkey"))
        .hint("merge")
        .join(li.select(col("l_orderkey"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("n_name").agg(sum("rev").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
      val q3 = cust.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .join(ord.filter(col("o_orderdate") < lit("1998-01-01"))
            .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
          col("c_custkey") === col("o_custkey"))
        .join(li.filter(col("l_shipdate") > lit("1998-01-01"))
            .select("l_orderkey", "l_extendedprice", "l_discount"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .orderBy(col("rev").desc, col("l_orderkey")).limit(10)
      val q18big = li.groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
        .filter(col("q") > 200)
      val q18 = ord.join(q18big, col("o_orderkey") === col("l_orderkey"))
        .join(cust.select("c_custkey", "c_name"), col("o_custkey") === col("c_custkey"))
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "q")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
      // Q12 shape (round 20): the 5.4×-of-DuckDB entry of the r19 solo
      // ledger — ONE lineitem⋈orders join on the bucket key, so the
      // bucketed layout removes its only fact/fact exchange entirely
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val q12 = li.filter(col("l_returnflag").isin("A", "R") &&
          col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select("l_orderkey", "l_linestatus")
        .join(ord.select("o_orderkey", "o_orderpriority"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
      Seq("multiway" -> multiway, "q3" -> q3, "q18" -> q18, "q12" -> q12)
    }

    // the write executes its OWN QueryExecution — df.queryExecution is
    // a separate instance that never runs, so under AQE its plan string
    // is the initial (isFinalPlan=false) plan and misses runtime
    // conversions (e.g. shuffle → broadcast). Capture the executed
    // QueryExecution through a QueryExecutionListener instead; events
    // arrive asynchronously on the listener bus, so poll briefly.
    @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        lastQe = qe
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })

    def measure(layout: String, label: String, df: DataFrame): Unit = {
      lastQe = null
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t) / 1e9
      var polls = 0
      while (lastQe == null && polls < 250) { Thread.sleep(20); polls += 1 }
      // the listener's executedPlan is the FINAL adaptive plan of the
      // run that was timed; every shuffle prints as "Exchange
      // hashpartitioning(...)" and broadcasts as "BroadcastExchange" —
      // count both, same metric on both layouts
      val plan = Option(lastQe).map(_.executedPlan.toString).getOrElse {
        System.err.println(s"[bucket] WARN: no QueryExecutionListener event for " +
          s"$layout/$label — falling back to the unexecuted plan (pre-AQE)")
        df.queryExecution.executedPlan.toString
      }
      val ex = "Exchange".r.findAllIn(plan).length
      println(f"[bucket] $layout%-9s $label%-10s wall=$wall%7.2f s  exchanges=$ex")
    }

    val layouts = Seq(
      "parquet" -> (() => shapes(pq("lineitem"), pq("orders"))),
      "bucketed" -> (() => shapes(spark.table("li_bkt15"), spark.table("ord_bkt15"))))
    // untimed warmup pass (codegen + JIT + page cache), then two timed
    // passes — steady numbers are the second pass
    layouts.foreach { case (_, mk) =>
      mk().foreach { case (_, df) => df.write.format("noop").mode("overwrite").save() }
    }
    (1 to 2).foreach { pass =>
      println(s"[bucket] pass $pass")
      layouts.foreach { case (name, mk) =>
        spark.sharedState.cacheManager.clearCache()
        mk().foreach { case (label, df) => measure(name, label, df) }
      }
    }
    spark.stop()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pinned semantics for the round-12 distribution-shape operators
  * ([[graft.ops.Stats]], plus the TextOps/Dedup additions): the edge
  * cases the sf-data oracle run can't distinguish — mode tie-breaks,
  * histogram under/overflow buckets, entropy closed-form values, and
  * prefix-dedup's keep/drop orientation. */
class StatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q_agg_entropy: uniform distribution hits log2(k); constant hits 0") {
    // 4 equally frequent values -> exactly 2 bits; 1 value -> 0 bits.
    val uniform = Seq.tabulate(40)(i => ("u", (i % 4).toDouble)) ++
      Seq.tabulate(10)(_ => ("c", 7.0))
    val df = uniform.toDF("l_returnflag", "l_quantity")
    val h = df.groupBy(col("l_returnflag").as("f"), col("l_quantity").as("value"))
      .agg(count(lit(1)).as("c")).drop("value")
    // drives the SHARED reduction behind q_agg_entropy/q_text_entropy
    val out = graft.ops.Stats.histogramEntropy(h, "f")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("u") == 2.0)
    assert(out("c") == 0.0)
  }

  test("q_agg_mode: ties break toward the smaller value") {
    // Values 3.0 and 1.0 both appear twice -> mode must be 1.0.
    val df = Seq(("A", 3.0), ("A", 3.0), ("A", 1.0), ("A", 1.0), ("A", 2.0))
      .toDF("f", "v")
    val h = df.groupBy("f", "v").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("f").orderBy(col("c").desc, col("v").asc)
    val m = h.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("v", "c").collect().head
    assert(m.getDouble(0) == 1.0 && m.getLong(1) == 2L)
  }

  test("q_agg_histogram: under/overflow land in buckets 0 and 11, edges left-closed") {
    val v = col("v")
    val bucket = when(v < 900.0, 0L)
      .when(v >= 105000.0, 11L)
      .otherwise(floor((v - 900.0) / 10410.0).cast("long") + 1L)
    val cases = Seq(
      899.99 -> 0L,     // below range
      900.0 -> 1L,      // lower edge is in bucket 1
      11309.99 -> 1L,   // just under first boundary
      11310.0 -> 2L,    // boundary value starts the next bucket
      104999.99 -> 10L, // top of last in-range bucket
      105000.0 -> 11L,  // upper edge overflows
      200000.0 -> 11L)
    val out = cases.map(_._1).toDF("v").select(v, bucket.as("b"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    cases.foreach { case (x, b) => assert(out(x) == b, s"value $x") }
  }

  test("skewness/kurtosis built-ins match the two-pass moment formulas") {
    val xs = Seq(1.0, 2.0, 2.0, 3.0, 7.0, 9.0, 9.0, 9.0, 10.0, 50.0)
    val df = xs.toDF("x")
    val Array(sk, ku) = df.agg(skewness(col("x")), kurtosis(col("x")))
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    val n = xs.size.toDouble
    val mu = xs.sum / n
    def m(k: Int) = xs.map(x => math.pow(x - mu, k)).sum / n
    assert(math.abs(sk - m(3) / math.pow(m(2), 1.5)) < 1e-9)
    assert(math.abs(ku - (m(4) / (m(2) * m(2)) - 3.0)) < 1e-9)
  }

  test("q_text_entropy: repeated-token doc scores 0, all-distinct doc log2(n)") {
    val df = Seq((1L, "a a a a"), (2L, "a b c d")).toDF("doc_id", "text")
    val h = df.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c")).drop("tok")
    val out = graft.ops.Stats.histogramEntropy(h, "doc_id")
      .select(col("doc_id"), col("entropy"),
        round(col("v").cast("double") / col("n"), 6).as("ttr"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((0.0, 0.25)))
    assert(out(2L) == ((2.0, 1.0)))
  }

  test("semantic dedup: two-level assignment with g=1 equals brute force; real g is a valid blocker") {
    val d = TestSpark.Sf
    val brute = graft.ops.Dedup.semanticDedup(spark, d, 8, 0.3)
      .as[Long].collect().toSeq
    // g=1 routes through assignCoarse (one super-group, stage 2 then
    // compares every centroid) and must reproduce brute force exactly.
    val g1 = graft.ops.Dedup.semanticDedup(spark, d, 8, 0.3, Some(1))
      .as[Long].collect().toSeq
    assert(g1 == brute)
    // A real coarse split is approximate blocking: it must complete and
    // emit a plausible drop set (real vec_ids, sorted, deduplicated).
    val ids = graft.ops.Tables.embeddings(spark, d)
      .select("vec_id").as[Long].collect().toSet
    val g3 = graft.ops.Dedup.semanticDedup(spark, d, 8, 0.3, Some(3))
      .as[Long].collect().toSeq
    assert(g3.nonEmpty && g3 == g3.sorted && g3.distinct == g3)
    assert(g3.forall(ids.contains))
  }

  test("q_dedup_prefix: truncations (long AND sub-block-width), exact copies dropped; longest kept") {
    // Runs the REAL operator over a temp documents.parquet so the
    // short-doc branch (text shorter than the 24-char block key, which
    // can't share a block with its container) is exercised end-to-end.
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // full doc: kept
      (11L, "alpha beta gamma delta"),              // 22-char strict prefix (< block width): dropped
      (12L, "alpha beta gamma delta epsilon zeta"), // exact copy, higher id: dropped
      (13L, "unrelated text entirely standing alone"), // kept
      (14L, "alpha beta gamma delta epsilon"),      // 30-char strict prefix (>= block width): dropped
      (15L, "zz")                                   // tiny, unique: kept
    ).map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("prefixdedup").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dropped = SparkEntry.queries("q_dedup_prefix")(spark, dir)
      .select("drop_id").as[Long].collect().toSet
    assert(dropped == Set(11L, 12L, 14L))
  }

  test("KLL sketch aggregates: SQL surface, merge ≈ whole, small-n exactness") {
    // small n (< sketch K=200): the sketch retains every value, so its
    // median is EXACTLY the inclusive-rank sample median
    val small = spark.sql(
      "SELECT kll_sketch_quantile(kll_sketch_agg(CAST(v AS DOUBLE)), 0.5d) AS m " +
        "FROM VALUES (1), (2), (3), (4), (5) t(v)").head().getDouble(0)
    assert(small == 3.0)
    // mergeability: union of two disjoint halves' sketches ≈ the exact
    // median of the union (both halves exceed K, so compaction ran)
    import spark.implicits._
    val xs = (1 to 4000).map(_.toDouble)
    val half1 = xs.take(2000).toDF("v")
    val half2 = xs.drop(2000).toDF("v")
    val parts = half1.agg(graft.functions.SketchExprs
        .kllSketchAgg($"v").as("sk"))
      .unionAll(half2.agg(graft.functions.SketchExprs.kllSketchAgg($"v").as("sk")))
    val est = parts
      .agg(graft.functions.SketchExprs.kllQuantile(
        graft.functions.SketchExprs.kllMergeAgg($"sk"), 0.5).as("m"))
      .head().getDouble(0)
    assert(math.abs(est - 2000.0) / 2000.0 <= 0.05, s"merged p50 $est drifted")
    // empty input → NULL estimate, not a crash
    val empty = spark.sql(
      "SELECT kll_sketch_quantile(kll_sketch_agg(CAST(v AS DOUBLE)), 0.5d) AS m " +
        "FROM (SELECT 1.0 AS v WHERE 1 = 0)").head()
    assert(empty.isNullAt(0))
  }

  test("frequency sketch: exact below capacity, bounds hold above it") {
    import graft.functions.SketchExprs
    import spark.implicits._
    // below capacity (100 distinct < 512): estimates are exact
    val small = (1 to 5000).map(i => (i % 100).toLong).toDF("v")
    val skS = small.agg(SketchExprs.freqSketchAgg($"v").as("sk"))
    assert(skS.select(SketchExprs.freqEstimate($"sk", lit(7L))).head().getLong(0) == 50)
    // SQL surface
    small.createOrReplaceTempView("freq_t")
    assert(spark.sql(
      "SELECT freq_sketch_estimate(freq_sketch_agg(v), 7L) FROM freq_t")
      .head().getLong(0) == 50)
    // above capacity (5000 distinct > 512): a Zipf-ish heavy item's
    // estimate stays within the sketch's error envelope n/maxMapSize
    val heavy = ((1 to 5000).map(_.toLong) ++ Seq.fill(800)(42L)).toDF("v")
    val est = heavy.agg(SketchExprs.freqSketchAgg($"v").as("sk"))
      .select(SketchExprs.freqEstimate($"sk", lit(42L))).head().getLong(0)
    val trueN = 801L
    val n = 5800L
    assert(est >= trueN - n / 512 && est <= trueN + n / 512,
      s"estimate $est outside [${trueN - n / 512}, ${trueN + n / 512}]")
    // the DETERMINISTIC bound pair brackets the true count in BOTH
    // regimes (the q_agg_freq_merge agreement pin since round 19 —
    // exact equality was measured FALSE once the domain evicts):
    // below capacity the bounds collapse onto the exact count
    val sb = skS.select(SketchExprs.freqLowerBound($"sk", lit(7L)),
      SketchExprs.freqUpperBound($"sk", lit(7L))).head()
    assert(sb.getLong(0) == 50 && sb.getLong(1) == 50)
    // above capacity they bracket it (and stay within the envelope)
    val hb = heavy.agg(SketchExprs.freqSketchAgg($"v").as("sk"))
      .select(SketchExprs.freqLowerBound($"sk", lit(42L)),
        SketchExprs.freqUpperBound($"sk", lit(42L))).head()
    assert(hb.getLong(0) <= trueN && trueN <= hb.getLong(1),
      s"bounds [${hb.getLong(0)}, ${hb.getLong(1)}] miss $trueN")
    // SQL surface of the bound pair
    assert(spark.sql("SELECT freq_sketch_lower(freq_sketch_agg(v), 7L), " +
        "freq_sketch_upper(freq_sketch_agg(v), 7L) FROM freq_t")
      .head().toSeq == Seq(50L, 50L))
  }

  test("KLL sketch images round-trip through parquet and re-aggregate") {
    // the claimed 100 TB pattern end-to-end: per-day sketches PERSISTED
    // as BINARY, reloaded later, and merged along the rollup dimension
    // without rescanning the raw rows
    import graft.functions.SketchExprs
    import spark.implicits._
    val days = (1 to 3000).map(i => (i % 3, i.toDouble))
    val perDay = days.toDF("day", "v")
      .groupBy("day").agg(SketchExprs.kllSketchAgg($"v").as("sk"))
    val dir = java.nio.file.Files.createTempDirectory("kllstore").toString
    perDay.write.mode("overwrite").parquet(s"$dir/sketches.parquet")
    val reloaded = spark.read.parquet(s"$dir/sketches.parquet")
    assert(reloaded.count() == 3)
    val est = reloaded
      .agg(SketchExprs.kllQuantile(SketchExprs.kllMergeAgg($"sk"), 0.5).as("m"))
      .head().getDouble(0)
    // the exact global median of 1..3000 is 1500.5; the merged estimate
    // of persisted partials must land within the sketch's rank error
    assert(math.abs(est - 1500.5) / 1500.5 <= 0.05,
      s"persisted-merge p50 $est drifted from 1500.5")
  }
}

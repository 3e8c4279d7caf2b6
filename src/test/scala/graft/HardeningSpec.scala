package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Tables}

/** Round-11 hardening pins: the bench plateau criterion, the learned
  * encoder's exact-sum overflow guard, the doc-count memo's content
  * signature, and the table-loader schema gate.
  */
class HardeningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // ---- Bench.plateaued (running-min anchored) -------------------------

  test("plateaued: needs at least 3 runs") {
    assert(!Bench.plateaued(Seq.empty))
    assert(!Bench.plateaued(Seq(10.0)))
    assert(!Bench.plateaued(Seq(10.0, 10.0)))
  }

  test("plateaued: flat walls plateau at 3 runs") {
    assert(Bench.plateaued(Seq(16.0, 15.8, 15.7)))
  }

  test("plateaued: genuine monotone descent keeps running") {
    // round 8's motivating sequence: the 93 still improves on the 183's
    // running min by far more than the tolerance
    assert(!Bench.plateaued(Seq(183.0, 93.0, 80.5)))
    // round 10's contended walls: the final 13.5 is a real new min
    assert(!Bench.plateaued(Seq(81.0, 94.0, 50.4, 53.1, 29.6, 13.5)))
  }

  test("plateaued: a contention spike then return-to-baseline is steady") {
    // adjacent-pair comparison would read the 12.5 as a 58% improvement
    // over the 30 and keep burning runs; against the running min (12.0)
    // it is no improvement at all
    assert(Bench.plateaued(Seq(12.0, 13.0, 30.0, 12.5)))
    // spike in the middle of an otherwise-flat tail
    assert(Bench.plateaued(Seq(15.0, 40.0, 15.5)))
  }

  test("plateaued: improvement within tolerance still counts as steady") {
    // 10% better than the running min is noise, not descent
    assert(Bench.plateaued(Seq(20.0, 19.0, 18.5)))
    // 20% better is real descent
    assert(!Bench.plateaued(Seq(20.0, 19.0, 15.0)))
  }

  // ---- Bench.spreadOf (contention self-labeling, VERDICT r11 #2) ------

  test("spreadOf: idle-box self-contention ratios stay under the bound") {
    // the r11 idle-box judge measurements: concurrent/solo of the 3
    // heaviest = 2.46, 4.53, 5.02 — the 12-stream phase legitimately
    // inflates a heavy query several-fold even with no neighbors
    val s = Bench.spreadOf(Seq((6.65, 2.7), (3.58, 0.79), (2.76, 0.55)))
    assert(s.exists(v => v > 4.5 && v < 4.6)) // upper median = 4.53
    assert(!s.exists(_ > Bench.SpreadBound))
  }

  test("spreadOf: the r11 driver-box contention signature exceeds the bound") {
    // BENCH_r11: q_join_multiway 13.0 s under concurrent load vs 0.74 s
    // solo — the run the plateau criterion blessed as steady_state:true;
    // the spread metric is what makes it machine-readably contended
    val s = Bench.spreadOf(Seq((13.0, 0.74), (6.6, 0.6), (5.0, 0.5)))
    assert(s.exists(_ > Bench.SpreadBound))
  }

  test("spreadOf: failed/sentinel solo pairs are excluded; empty is None") {
    assert(Bench.spreadOf(Seq.empty).isEmpty)
    assert(Bench.spreadOf(Seq((5.0, -1.0), (4.0, 0.0))).isEmpty)
    // one sentinel among real pairs must not poison the median
    val s = Bench.spreadOf(Seq((5.0, -1.0), (4.0, 1.0), (9.0, 3.0)))
    assert(s.exists(v => v == 4.0))
  }

  // ---- learned-encoder overflow guard ---------------------------------

  test("requireSumsFit: fires when n*maxLen^2 reaches 2^63") {
    val e = intercept[IllegalArgumentException] {
      // one synthetic huge-count row: a single doc whose length bound
      // alone overflows the squared accumulator
      Multimodal.requireSumsFit(n = 1L, maxLen = 4000000000L)
    }
    assert(e.getMessage.contains("overflow"))
    // plural corpora: n pushes the bound over even with a modest maxLen
    intercept[IllegalArgumentException] {
      Multimodal.requireSumsFit(n = 1L << 24, maxLen = 1L << 20)
    }
  }

  test("requireSumsFit: passes at realistic corpus bounds") {
    Multimodal.requireSumsFit(n = 0L, maxLen = 1L)
    Multimodal.requireSumsFit(n = 1L << 33, maxLen = 1 << 14) // 8B docs x 16 KiB
    Multimodal.requireSumsFit(n = 1L << 61, maxLen = 1L)      // bound exactly 2^61
  }

  test("fitEncoder still fits a tiny corpus with the guard in place") {
    import spark.implicits._
    val df = Seq("alpha beta", "gamma delta epsilon", "zeta").toDF("text")
    val m = Multimodal.fitEncoder(df, col("text"))
    assert(m.nDocs == 3)
    assert(m.mean.length == 4 && m.std.length == 4)
  }

  // ---- doc-count memo content signature -------------------------------

  private def writeDocs(dir: String, nDocs: Int): Unit = {
    import spark.implicits._
    (1 to nDocs).map(i => (i.toLong, s"document number $i body", "en", "synthetic", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("capFor recomputes after the documents table is rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("docsig").toString
    writeDocs(dir, 6000)
    assert(Dedup.capFor(spark, dir) == 60) // ceil(6000/100)
    // rewrite the directory with a different corpus — NO manual cache
    // invalidation: the signature change must both miss the memo and
    // refresh Spark's cached relation over the old file listing (the
    // CacheManager would otherwise satisfy the "fresh" count from the
    // stale InMemoryRelation)
    writeDocs(dir, 12000)
    assert(Dedup.capFor(spark, dir) == 120,
      "df-cap must follow the rewritten corpus, not the stale memo/cache")
  }

  test("clearDocCounts is a usable explicit invalidation hook") {
    Dedup.clearDocCounts() // must not throw, before or after use
    val dir = java.nio.file.Files.createTempDirectory("docsig2").toString
    writeDocs(dir, 5500)
    assert(Dedup.capFor(spark, dir) == 55)
    Dedup.clearDocCounts()
    assert(Dedup.capFor(spark, dir) == 55)
  }

  // ---- table-loader schema gate ---------------------------------------

  test("a wrong-typed column fails at load time with a clear message") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("badschema").toString
    // documents with text as a LONG — the round-10 failure mode was a
    // mid-plan DATATYPE_MISMATCH with no mention of the table; the gate
    // must name table, column, expected family, and found type
    (1 to 5).map(i => (i.toLong, i.toLong * 7, "en", "synthetic", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.documents(spark, dir)
    }
    assert(e.getMessage.contains("table `documents`"))
    assert(e.getMessage.contains("`text`"))
    assert(e.getMessage.contains("expected string"))
    assert(e.getMessage.contains("LongType"))
  }

  test("a missing column fails at load time naming the column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("missingcol").toString
    (1 to 5).map(i => (i.toLong, s"text $i"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.documents(spark, dir)
    }
    assert(e.getMessage.contains("missing column `lang`"))
  }

  test("events loader: legacy nanos-long generation still normalizes") {
    import spark.implicits._
    // the current testdata ships timestamp[us]; earlier generations were
    // TIMESTAMP(NANOS) read as raw longs — synthesize that shape so the
    // LongType branch of Tables.normalizeTs stays pinned after the old
    // files are gone
    val dir = java.nio.file.Files.createTempDirectory("evnanos").toString
    val base = 1704067200L // 2024-01-01 00:00:00 UTC, in seconds
    Seq((1L, base * 1000000000L + 123456789L, 7L, "view", 1.0, "{}"),
        (2L, (base + 3600) * 1000000000L, 8L, "click", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = graft.ops.Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val got = ev.orderBy("event_id")
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].collect()
    // ns truncate to µs, never round (matches the ns-engine at seconds)
    assert(got(0) == "2024-01-01 00:00:00.123456")
    assert(got(1) == "2024-01-01 01:00:00.000000")
  }

  test("nanos and timestamp[us] generations normalize to identical instants") {
    import spark.implicits._
    // the cross-generation contract in one assertion: the SAME logical
    // instants written as raw ns longs and as µs TIMESTAMP_NTZ must come
    // out of Tables.events bit-identical (seeded RNG, incl. sub-second
    // parts whose ns remainder must truncate away)
    val rnd = new scala.util.Random(42)
    val base = 1704067200L * 1000000L // 2024-01-01 in µs
    val micros = (1 to 200).map(_ => base + (rnd.nextDouble() * 31536000e6).toLong)
    def row(i: Int) = (i.toLong, 7L, "view", 1.0, "{}")
    val dirNs = java.nio.file.Files.createTempDirectory("gen_ns").toString
    val dirUs = java.nio.file.Files.createTempDirectory("gen_us").toString
    micros.zipWithIndex.map { case (us, i) =>
      val (id, u, t, v, p) = row(i); (id, us * 1000L + rnd.nextInt(1000), u, t, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dirNs/events.parquet")
    micros.zipWithIndex.map { case (us, i) =>
      val (id, u, t, v, p) = row(i)
      (id, java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
        ((us % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC), u, t, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dirUs/events.parquet")
    def load(d: String): Seq[(Long, Long)] =
      graft.ops.Tables.events(spark, d)
        .select($"event_id", unix_micros($"ts"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val (fromNs, fromUs) = (load(dirNs), load(dirUs))
    assert(fromNs == fromUs,
      "the two parquet generations must normalize to the same instants")
    assert(fromNs.map(_._2) == micros.map(identity),
      "normalized µs must equal the source instants (ns remainder truncated)")
  }

  test("benign representation drift passes the gate") {
    // real testdata: every table loads (temporal columns currently ship
    // as timestamp[us]; earlier generations used date / TIMESTAMP(NANOS))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
      assert(Tables.t(spark, TestSpark.Sf, t).columns.nonEmpty, t)
    }
    assert(Tables.events(spark, TestSpark.Sf).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  // ---- ADVICE r11 fixes -----------------------------------------------

  test("mtimeAndBytes survives a symlink cycle") {
    val root = java.nio.file.Files.createTempDirectory("symcycle")
    val sub = java.nio.file.Files.createDirectory(root.resolve("sub"))
    java.nio.file.Files.writeString(sub.resolve("a.txt"), "payload")
    // sub/loop -> root: without the visited set the walker recurses
    // root -> sub -> loop(=root) -> sub -> ... to StackOverflowError
    java.nio.file.Files.createSymbolicLink(sub.resolve("loop"), root)
    val (mtime, bytes) = Tables.mtimeAndBytes(root.toString)
    assert(mtime > 0L)
    assert(bytes == 7L, "each real file counted exactly once despite the cycle")
  }

  test("normalizeTs refuses the NTZ relabel under a non-UTC session") {
    val df = spark.sql("SELECT CAST('2024-01-01 12:00:00' AS TIMESTAMP_NTZ) AS ts")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val e = intercept[IllegalArgumentException] { Tables.normalizeTs(df) }
      assert(e.getMessage.contains("UTC"))
      assert(e.getMessage.contains("America/New_York"))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    // back under UTC the relabel proceeds
    assert(Tables.normalizeTs(df).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("streaming source names the events table when the file is absent") {
    val dir = java.nio.file.Files.createTempDirectory("noevents").toString
    val e = intercept[IllegalArgumentException] {
      graft.streaming.EventStream.source(spark, dir)
    }
    assert(e.getMessage.contains("table `events`"))
    assert(e.getMessage.contains(dir))
  }

  test("concurrent capFor calls after a rewrite all see the fresh count") {
    val dir = java.nio.file.Files.createTempDirectory("docsig3").toString
    writeDocs(dir, 7000)
    assert(Dedup.capFor(spark, dir) == 70)
    writeDocs(dir, 8000)
    // the r11-flagged race: a second thread observing the new signature
    // mid-refresh could memoize a count from the stale cached relation;
    // refresh-then-count now runs inside the memo's atomic mapping
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val caps = Await.result(
      Future.sequence((1 to 8).map(_ => Future(Dedup.capFor(spark, dir)))),
      2.minutes)
    assert(caps.forall(_ == 80), s"expected all 80, got $caps")
  }

  // ---- ADVICE r21 fixes: null inputs ------------------------------------

  test("q_sim_ivf names a min-id row without an embedding instead of an NPE") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfnull").toString
    Seq((1L, None, 0L), (2L, Some(Seq(1.0f, 0.0f)), 1L), (3L, Some(Seq(0.0f, 1.0f)), 0L))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalStateException] {
      SparkEntry.queries("q_sim_ivf")(spark, dir)
    }
    assert(e.getMessage.contains("min-id row (vec_id 1)"))
    assert(e.getMessage.contains("has no embedding"))
  }

  test("q_text_segment_dedup gives a null-text document no row, like the oracle") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("segnull").toString
    Seq((1L, Some("a b c d e f g h i j")), (2L, None), (3L, Some("a b c d e f g h x y")))
      .map { case (id, t) => (id, t, "en", "web", t.fold(0L)(_.length.toLong)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_text_segment_dedup")(spark, dir)
      .collect().map(_.toString).toSeq
    // the DuckDB oracle's answer on the same three documents
    assert(got == Seq("[1,2,2,a b c d e f g h i j]", "[3,2,1,x y]"))
  }
}

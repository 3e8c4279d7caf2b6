package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.EventStream

/** Dev tool: empirical STATE-SIZE evidence for the streaming operators.
  *
  * The streaming family's scale claims ("bounded cross-batch state",
  * "state is O(distinct keys in watermark), not O(stream)") are pinned
  * for CORRECTNESS by StreamingSpec's batch-equivalence tests, but
  * nothing measured the state store itself. This probe drives each
  * stateful shape through N micro-batches with MemoryStream and logs
  * `lastProgress.stateOperators` (numRowsTotal / memoryUsedBytes) after
  * every batch, then asserts the growth law:
  *
  *  - admission dedup ([[EventStream.admissions]], NoTimeout
  *    flatMapGroupsWithState): state rows must equal DISTINCT canonical
  *    hashes exactly — at dup rate 0.9 the stream is 10× its state; a
  *    fixed content pool must plateau while arrivals keep growing.
  *  - watermarked dedup ([[EventStream.dedup]]): keys older than the
  *    watermark are evicted, so state tracks the keys of the trailing
  *    watermark window (~2 batches here), NOT the cumulative stream.
  *  - session windows ([[EventStream.sessions]]): closed sessions are
  *    evicted; open state stays O(active users), not O(users × batches).
  *
  * Exit code 1 if any growth-law assertion fails — this is the
  * regression guard for an accidental NoTimeout/no-watermark shape (the
  * class of bug where a stream works at spec scale and OOMs in week 2
  * of production).
  *
  * Usage: runMain graft.tools.StateProbe
  */
object StateProbe {

  private final case class Cell(batch: Int, arrivals: Long, expectDistinct: Long,
      stateRows: Long, stateBytes: Long)

  private def stateOf(q: StreamingQuery): (Long, Long) = {
    val so = q.lastProgress.stateOperators
    (so.map(_.numRowsTotal).sum, so.map(_.memoryUsedBytes).sum)
  }

  private def report(title: String, cells: Seq[Cell]): Unit = {
    println(s"\n== $title ==")
    println(f"${"batch"}%-6s ${"arrivals"}%-9s ${"distinct"}%-9s ${"state_rows"}%-11s state_KB")
    cells.foreach(c => println(
      f"${c.batch}%-6d ${c.arrivals}%-9d ${c.expectDistinct}%-9d ${c.stateRows}%-11d ${c.stateBytes / 1024.0}%.1f"))
  }

  /** Drive [[EventStream.admissions]] for `nBatches`×`batchSize`
    * arrivals whose content index is `contentOf(globalRow)`; return the
    * per-batch state ladder. */
  private def admissionLadder(spark: SparkSession, nBatches: Int, batchSize: Int,
      contentOf: Long => Long): Seq[Cell] = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[EventStream.DocRow]
    val q = EventStream.admissions(mem.toDS())
      .writeStream.format("memory")
      .queryName(s"state_probe_adm_${System.nanoTime()}")
      .outputMode("update").start()
    val seen = scala.collection.mutable.Set.empty[Long]
    val cells = (1 to nBatches).map { b =>
      val rows = (0 until batchSize).map { i =>
        val g = (b - 1).toLong * batchSize + i
        val c = contentOf(g)
        seen += c
        // distinct content index → distinct canonical hash (1:1); the
        // body is padded so the ARRIVALS are heavy but the state entry
        // stays (hash → keeper id) — bytes must not scale with text size
        EventStream.DocRow(g, s"synthetic probe document body $c " + ("x" * 80))
      }
      mem.addData(rows)
      q.processAllAvailable()
      val (r, bytes) = stateOf(q)
      Cell(b, b.toLong * batchSize, seen.size.toLong, r, bytes)
    }
    q.stop()
    cells
  }

  /** Drive a watermarked shape over `events(batch)` rows; the caller
    * interprets the expected-keys column. */
  private def watermarkLadder(spark: SparkSession, name: String,
      plan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      nBatches: Int, events: Int => Seq[(java.sql.Timestamp, Long, String)],
      keysPerBatch: Int): Seq[Cell] = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = plan(mem.toDF().toDF("ts", "user_id", "event_type"))
      .writeStream.format("memory")
      .queryName(s"state_probe_${name}_${System.nanoTime()}")
      .outputMode("append").start()
    var arrivals = 0L
    val cells = (1 to nBatches).map { b =>
      val rows = events(b)
      arrivals += rows.size
      mem.addData(rows)
      q.processAllAvailable()
      val (r, bytes) = stateOf(q)
      Cell(b, arrivals, b.toLong * keysPerBatch, r, bytes)
    }
    q.stop()
    cells
  }

  def main(args: Array[String]): Unit = {
    val spark = Ladder.session()
    var failures = List.empty[String]
    def check(cond: Boolean, msg: => String): Unit =
      if (!cond) { failures ::= msg; println(s"FAIL: $msg") }

    val nBatches = 8
    val batchSize = 2000

    // -- admissions, dup rate 0.0: every arrival is new content --------
    val allNew = admissionLadder(spark, nBatches, batchSize, g => g)
    report("admissions, dup 0.0 (every arrival distinct)", allNew)
    allNew.foreach(c => check(c.stateRows == c.expectDistinct,
      s"dup0.0 batch ${c.batch}: state ${c.stateRows} != distinct ${c.expectDistinct}"))

    // -- admissions, dup rate 0.9: 1 new content per 10 arrivals -------
    val dup90 = admissionLadder(spark, nBatches, batchSize, g => g / 10)
    report("admissions, dup 0.9 (10 arrivals per content)", dup90)
    dup90.foreach(c => check(c.stateRows == c.expectDistinct,
      s"dup0.9 batch ${c.batch}: state ${c.stateRows} != distinct ${c.expectDistinct}"))
    check(dup90.last.stateRows * 9 <= dup90.last.arrivals,
      s"dup0.9: state ${dup90.last.stateRows} not ~10% of ${dup90.last.arrivals} arrivals")

    // -- admissions, fixed 500-content pool: plateau -------------------
    val pool = admissionLadder(spark, nBatches, batchSize, g => g % 500)
    report("admissions, fixed 500-content pool (state must plateau)", pool)
    pool.foreach(c => check(c.stateRows == c.expectDistinct,
      s"pool batch ${c.batch}: state ${c.stateRows} != distinct ${c.expectDistinct}"))
    check(pool.last.stateRows == 500 && pool.last.arrivals == nBatches.toLong * batchSize,
      s"pool: expected flat 500 under ${nBatches * batchSize} arrivals, got ${pool.last.stateRows}")

    // per-entry state cost: (md5-hex → long) — independent of doc size
    val perEntry = allNew.last.stateBytes.toDouble / allNew.last.stateRows
    println(f"\nadmission state per entry: $perEntry%.0f bytes (hash+keeper, NOT the document)")
    check(perEntry < 1024, s"admission state entry unexpectedly large: $perEntry B")

    // -- watermarked dedup: batch b = hour b, constant key domain ------
    // 25 users × 2 types × 60 minutes = 3000 keys/batch, every key ×2
    // arrivals; watermark 10 min → state holds ~trailing 2 batches of
    // keys, evicting the rest as event time advances.
    def hourBatch(b: Int): Seq[(java.sql.Timestamp, Long, String)] =
      for {
        m <- 0 until 60; u <- 0 until 25; t <- Seq("view", "purchase")
        rep <- 0 until 2
      } yield (java.sql.Timestamp.valueOf(f"2024-01-01 ${b - 1}%02d:$m%02d:00"),
        u.toLong, t)
    val dedup = watermarkLadder(spark, "dedup", EventStream.dedup,
      nBatches, hourBatch, keysPerBatch = 3000)
    report("dropDuplicatesWithinWatermark, 3000 keys/hour-batch (cumulative keys in `distinct`)", dedup)
    check(dedup.last.stateRows <= 2L * 3000,
      s"dedup: state ${dedup.last.stateRows} not bounded by ~watermark window (6000)")
    check(dedup.last.stateRows < dedup.last.expectDistinct,
      s"dedup: state ${dedup.last.stateRows} grew with the stream (${dedup.last.expectDistinct} keys seen)")

    // -- session windows: 50 users active per hour ---------------------
    // one 3-event session per user per hour (gap 30 min closes it when
    // the next hour's events move the watermark past session end).
    def sessionBatch(b: Int): Seq[(java.sql.Timestamp, Long, String)] =
      for (u <- 0 until 50; k <- 0 until 3)
        yield (java.sql.Timestamp.valueOf(f"2024-01-01 ${b - 1}%02d:${k * 5}%02d:00"),
          u.toLong, "view")
    val sess = watermarkLadder(spark, "sessions", EventStream.sessions,
      nBatches, sessionBatch, keysPerBatch = 50)
    report("session windows, 50 sessions/hour-batch (cumulative sessions in `distinct`)", sess)
    check(sess.last.stateRows <= 2L * 50,
      s"sessions: state ${sess.last.stateRows} not bounded by ~active sessions (100)")
    check(sess.last.stateRows < sess.last.expectDistinct,
      s"sessions: state ${sess.last.stateRows} grew with the stream (${sess.last.expectDistinct} sessions seen)")

    println()
    if (failures.nonEmpty) {
      println(s"STATE PROBE: ${failures.size} FAILURES"); sys.exit(1)
    } else println("STATE PROBE: all growth laws hold " +
      "(admissions O(distinct content); dedup/sessions O(keys in watermark))")
    spark.stop()
  }
}

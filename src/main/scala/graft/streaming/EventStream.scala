package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming pipelines over the events table (SURVEY.md §2
  * "Streaming" — the reference lists real-time sources only as roadmap,
  * README.md:109–116; this is the Spark-native realization).
  *
  * Each transform takes any events DataFrame — batch or streaming — so
  * the same code path is validated two ways:
  *  - batch:   EventWindows queries (DuckDB oracle, driver t2),
  *  - stream:  StreamingSpec runs them via readStream + memory sink and
  *             asserts equality with the batch result (SURVEY.md §5.2-5).
  *
  * Watermarks bound state: at production scale the tumbling/sliding
  * aggregations keep only in-watermark windows in the state store, and
  * dropDuplicatesWithinWatermark evicts seen-keys as event time advances.
  */
object EventStream {

  /** Parquet schema for the streaming reader, with `ts` left abstract:
    * readStream requires a user-declared schema, and the events file has
    * shipped with two different physical ts types across testdata
    * generations (TIMESTAMP(NANOS) → LongType under the legacy flag;
    * timestamp[us] → TimestampNTZType). [[source]] probes the file's
    * batch-inferred schema (a footer-only read) and plugs the observed
    * ts type in, then routes through the SAME normalization as the
    * batch loader ([[graft.ops.Tables.normalizeTs]]) so the two can't
    * drift. */
  private def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source over a testdata directory. The `ts`
    * type comes from the batch loader's schema memo
    * ([[graft.ops.Tables.schemaOf]]), so one probe per events generation
    * serves both, and a regenerated file re-probes (ADVICE r11). */
  def source(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    if (!new java.io.File(path).exists)
      throw new IllegalArgumentException(
        s"table `events`: no events.parquet under $dir — the streaming " +
          "source reads the same driver testdata layout as the batch loader")
    val tsType =
      try graft.ops.Tables.schemaOf(spark, path)._1("ts").dataType
      catch { case e: Exception => throw new IllegalArgumentException(
        s"table `events`: schema probe of $path failed: ${e.getMessage}", e)
      }
    graft.ops.Tables.normalizeTs(
      spark.readStream
        .schema(rawSchema(tsType))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Genuinely unbounded source (VERDICT r11 #7): the reference's
    * roadmap names real-time sources (/root/reference/README.md:109-116);
    * this is the Spark-native realization over the standard socket text
    * source — one CSV event per line
    * `event_id,ts,user_id,event_type,value`, parsed into the same typed
    * shape as the file [[source]] so every downstream transform
    * (tumbling/sessions/dedup/joins) is source-agnostic. A production
    * deployment swaps in Kafka with identical downstream code; the
    * socket source is the zero-dependency unbounded configuration the
    * spec can drive from a loopback server. */
  def socketSource(spark: SparkSession, host: String, port: Int): DataFrame =
    parseCsvEvents(spark.readStream.format("socket")
      .option("host", host).option("port", port).load())

  /** CSV line → typed event columns; shared by the socket source and its
    * batch twin in the spec (same code path ⇒ stream/batch can't drift).
    * Malformed fields become NULLs (cast semantics), not crashes — an
    * unbounded source must absorb a bad line and keep running. */
  private[graft] def parseCsvEvents(lines: DataFrame): DataFrame =
    lines.select(split(col("value"), ",").as("p"))
      .select(
        element_at(col("p"), 1).cast(LongType).as("event_id"),
        to_timestamp(element_at(col("p"), 2)).as("ts"),
        element_at(col("p"), 3).cast(LongType).as("user_id"),
        element_at(col("p"), 4).as("event_type"),
        element_at(col("p"), 5).cast(DoubleType).as("value"))

  /** Tumbling 1-hour counts per event type (watermarked). */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"))

  /** Streaming quantile monitor: per tumbling hour, KLL-sketch p50/p95
    * of the event value — the latency-dashboard shape. The sketch
    * aggregate (functions/SketchExprs, a TypedImperativeAggregate like
    * Spark's own percentile_approx) merges across micro-batches in the
    * state store, so state per window is one bounded ~K=200 sketch, not
    * the raw values. At spec scale every window holds fewer values than
    * the sketch capacity, so no compaction runs and stream ≡ batch
    * EXACTLY (the equivalence test's determinism); at production volume
    * the estimates carry the documented ~1.65% rank error. */
  def quantiles(events: DataFrame): DataFrame = {
    import graft.functions.SketchExprs
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(SketchExprs.kllSketchAgg(col("value")).as("sk"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        round(SketchExprs.kllQuantile(col("sk"), 0.5), 6).as("p50"),
        round(SketchExprs.kllQuantile(col("sk"), 0.95), 6).as("p95"))
  }

  /** Streaming distribution-drift monitor: per tumbling hour, the KL
    * divergence of the window's event-type distribution against a
    * STATIC reference distribution (e.g. last month's corpus mix) — the
    * continuous-ingestion twin of q_corpus_drift, and the alarm shape a
    * pipeline hangs on "did the crawl mix shift this hour?". One
    * streaming aggregation only (Spark forbids stacking them): the
    * per-type counts are conditional sums over the reference's FIXED
    * support, so the KL folds into the same projection. Laplace-
    * smoothed like the batch operator; types outside the reference
    * support count toward n (they shift every p down — drift by
    * construction) but carry no term of their own. State per window is
    * |support|+1 longs — bounded. */
  def drift(events: DataFrame, ref: Map[String, Double]): DataFrame = {
    require(ref.nonEmpty && math.abs(ref.values.sum - 1.0) < 1e-9,
      "reference must be a normalized distribution over event types")
    val types = ref.keys.toSeq.sorted
    val counts = types.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c_$t"))
    val n = count(lit(1)).as("n")
    val agg = events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(counts.head, (counts.tail :+ n): _*)
    val tCount = lit(types.size)
    val kl = types.map { t =>
      val p = (col(s"c_$t") + lit(1L)).cast("double") / (col("n") + tCount).cast("double")
      p * log(p / lit(ref(t)))
    }.reduce(_ + _)
    agg.select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
      col("n"), round(kl, 6).as("kl"))
  }

  /** Sliding 1-hour window every 15 minutes. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"), col("n"))

  /** Session windows with a 30-minute gap per user. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"))

  /** Watermarked stream dedup on (user, type, minute) — the streaming
    * twin of EventWindows.q_events_dedup. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withColumn("minute", date_trunc("minute", col("ts")))
      .withWatermark("minute", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "minute")
      .select(col("user_id"), col("event_type"),
        date_format(col("minute"), "yyyy-MM-dd HH:mm:ss").as("minute"))

  /** Stream-stream interval self-join: views paired with purchases by
    * the same user within the following hour. Watermarks on both sides
    * bound the join state retention — the canonical streaming-join shape
    * (state is evicted once event time passes view_ts + 1h + watermark).
    */
  def viewToPurchase(events: DataFrame): DataFrame =
    viewToPurchaseJoin(events, "inner")

  /** Left-outer variant: every view, NULL-padded when no purchase
    * followed within the hour. In streaming, the NULL-padded row for an
    * unmatched view can only be emitted once the watermark has passed
    * the join window's end (before that a matching purchase could still
    * arrive) — StreamingSpec pins that state-expiry timing. */
  def viewToPurchaseLeft(events: DataFrame): DataFrame =
    viewToPurchaseJoin(events, "left_outer")

  private def viewToPurchaseJoin(events: DataFrame, joinType: String): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    views.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
      .select(col("user_id"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_time"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_time"))
  }

  /** Stream-static join: the event stream enriched against a static
    * dimension table, no streaming state — the standard "stream +
    * reference data" shape. No broadcast() hint: customer is an O(SF)
    * table (the same unbounded-mandatory-broadcast class removed from
    * the batch joins in round 7), and a hint would pin it into every
    * micro-batch's plan at any size. The planner broadcasts reference
    * data that actually fits from its own statistics per micro-batch,
    * and shuffles the static side once it doesn't. */
  def enriched(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(customers.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"), "left")
      .groupBy(coalesce(col("c_mktsegment"), lit("unknown")).as("segment"))
      .agg(count(lit(1)).as("n"))

  /** foreachBatch sink: per-microbatch custom logic with exactly-once
    * batch ids — here appending hourly aggregates to a parquet table,
    * the standard "stream into a lakehouse table" shape. Returns the
    * started query; caller stops it. */
  def tumblingToParquet(events: DataFrame, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    tumbling(events).writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(outDir)
      }
      .start()

  // -- custom stateful operator ------------------------------------------

  case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom per-key state: running event count + value sum per user via
    * flatMapGroupsWithState — the KeyValueGroupedDataset escape hatch for
    * semantics windows can't express. Update-mode output: one row per
    * user per trigger. */
  def runningTotals(events: Dataset[EventRow]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { r => n += 1; tot += r.value }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          Iterator(next)
      }
  }

  /** Per-user attribution state: ONLY the most recent marketing touch,
    * the drop counter, and the processed high-water mark — a fixed-size
    * record per user regardless of history length, the bounded-state
    * requirement for a production attribution job. mktId < 0 means "no
    * touch seen yet". (hwUs, hwId) is the (ts, event_id) order point of
    * the newest event EVER processed for this user — touches AND
    * purchases — so lateness is judged against everything already
    * emitted, not just the last touch (a touch newer than the last
    * touch but older than an emitted purchase must be late: applying
    * it would make future output disagree with the purchase already
    * written). Persisted since round 16; before that the mark was
    * re-seeded each batch from the last touch only, which silently
    * applied exactly that class of late touch. */
  case class TouchState(mktId: Long, mktTsMs: Long, lateDropped: Long,
      hwUs: Long, hwId: Long) // mktTsMs holds MICROseconds since round 15's precision fix; name kept for state-schema stability
  case class AttributionRow(event_id: Long, user_id: Long,
      attributed_id: Option[Long], seconds_since: Option[Long],
      late_dropped: Long)

  /** Streaming twin of q_events_attribution (Analytics.scala): every
    * purchase attributes to the user's most recent view/click within
    * the preceding hour, via flatMapGroupsWithState keeping ONLY the
    * last marketing touch per user — state is one fixed-size record
    * per user, not a history (the batch form's full-window scan has no
    * place in a 100 TB/day stream).
    *
    * Semantics and their batch relationship:
    *  - Within a micro-batch, rows process in (ts, event_id) order, so
    *    a purchase sees every touch at or before it in the batch
    *    exactly like the batch window's ROWS UNBOUNDED..1 PRECEDING
    *    frame (ties on ts: the smaller event_id is "before").
    *  - Across batches, state carries the last touch forward; when
    *    arrivals are time-ordered the result EQUALS the batch operator
    *    row for row (StreamingSpec pins this).
    *  - LATE DATA is dropped with accounting, not silently: an event
    *    older than the user's max PROCESSED (ts, event_id) order point
    *    (persisted in state as hwUs/hwId, so the bound holds across
    *    micro-batches) arrived behind output already emitted — a touch
    *    cannot retro-attribute an already-emitted purchase, a touch
    *    behind an emitted purchase applied forward would make future
    *    rows disagree with that emission, and a late purchase would
    *    attribute against FUTURE state — so all are counted into
    *    `late_dropped` (cumulative per user, carried on every emitted
    *    row) and produce no attribution. This is the same
    *    cannot-retract arrival-order bound as [[admissions]].
    */
  def attribution(events: Dataset[EventRow]): Dataset[AttributionRow] = {
    import events.sparkSession.implicits._
    // MICROSECOND precision throughout: the events table carries µs
    // timestamps, and the batch twin compares/attributes at full
    // precision (a ms truncation here diverged on sub-second gaps —
    // caught by the equivalence spec on first run)
    val AttrWindowUs = 3600L * 1000000
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttributionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[TouchState]) =>
          var st = state.getOption.getOrElse(
            TouchState(-1L, Long.MinValue, 0L, Long.MinValue, Long.MinValue))
          // high-water mark of the processed order point (ts, event_id),
          // persisted in state across batches (kept as the pair for
          // correct tie handling): any event behind the newest event
          // already processed — touch OR purchase — is late, because an
          // emitted purchase cannot be retracted and a behind-the-mark
          // touch would make future emissions disagree with it.
          var hwUs = st.hwUs; var hwId = st.hwId
          val out = scala.collection.mutable.ArrayBuffer.empty[AttributionRow]
          rows.toSeq.sortBy(r => (us(r.ts), r.event_id)).foreach { r =>
            val tUs = us(r.ts)
            val late = tUs < hwUs || (tUs == hwUs && r.event_id < hwId)
            if (late) {
              st = st.copy(lateDropped = st.lateDropped + 1)
            } else {
              hwUs = tUs; hwId = r.event_id
              r.event_type match {
                case "view" | "click" =>
                  st = st.copy(mktId = r.event_id, mktTsMs = tUs)
                case "purchase" =>
                  val attributed = st.mktId >= 0 && st.mktTsMs >= tUs - AttrWindowUs
                  // floor-second boundary diff, the batch twin's
                  // unix_seconds(ts) − unix_seconds(mkt_ts) semantics
                  out += AttributionRow(r.event_id, uid,
                    if (attributed) Some(st.mktId) else None,
                    if (attributed) Some(Math.floorDiv(tUs, 1000000L)
                      - Math.floorDiv(st.mktTsMs, 1000000L)) else None,
                    st.lateDropped)
                case _ => () // non-marketing, non-purchase: no-op
              }
            }
          }
          state.update(st.copy(hwUs = hwUs, hwId = hwId))
          out.iterator
      }
  }

  case class DocRow(doc_id: Long, text: String)
  case class Admission(doc_id: Long, canon_hash: String, decision: String)

  /** JVM twin of the batch family's canonical hash (Dedup.canonHashCol):
    * trim, lowercase, collapse whitespace, md5; NULL text gets the same
    * sentinel so a corrupt record is decided, not crashed on. Divergence
    * traps deliberately avoided: String.trim strips ALL chars <= U+0020
    * while SQL trim strips only spaces (so trim spaces explicitly);
    * Spark's `lower` falls back to DEFAULT-locale toLowerCase for
    * non-ASCII strings, which is why Session.pinLocale sets the JVM
    * default to ROOT at every entry point — Locale.ROOT here matches
    * that pinned default (and DuckDB's locale-independent lower); and
    * the whitespace class is written out because Java's \s and RE2's \s
    * disagree on U+000B. StreamingSpec pins JVM-vs-SQL hash agreement
    * on adversarial literals that exercise each trap. */
  def canonHash(text: String): String = {
    if (text == null) return graft.ops.Dedup.NullTextHash
    val trimmed = text.replaceAll("^ +| +$", "") // SQL trim: spaces only
    // explicit whitespace class, same set as Dedup.canonText on both
    // engines (Java \s would also collapse U+000B; keep them identical)
    val canon = trimmed.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[ \\t\\n\\r\\f\\x0B]+", " ")
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  /** Streaming twin of q_dedup_incremental's admission logic: documents
    * arrive as a stream; the FIRST arrival of each canonical hash is
    * admitted, every later arrival is a duplicate. An emitted admission
    * cannot be retracted, so once state exists the keeper NEVER changes —
    * a smaller doc_id arriving in a later micro-batch is a dup (this is
    * where arrival-order semantics necessarily differ from the batch
    * min-doc_id rule; they coincide when arrivals are id-ordered, which
    * the spec equivalence exercises). Within one micro-batch, rows are
    * ordered by doc_id so the admitted row is deterministic regardless
    * of partition arrival order. State is one (hash → keeper id) entry
    * per DISTINCT document — grows with unique content, not arrivals;
    * hash-partitioned across executors by groupByKey. */
  def admissions(docs: Dataset[DocRow]): Dataset[Admission] = {
    import docs.sparkSession.implicits._
    docs
      .map(d => (d.doc_id, canonHash(d.text)))
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, Admission](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (hash: String, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
          val batch = rows.map(_._1).toSeq.sorted
          var keeperOpt = state.getOption
          val out = batch.map { id =>
            keeperOpt match {
              case None =>
                keeperOpt = Some(id); Admission(id, hash, "admit")
              case Some(_) => Admission(id, hash, "dup")
            }
          }
          keeperOpt.foreach(state.update)
          out.iterator
      }
  }
}

package perfbench

import graft.engine._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The product path: upload → ask → history over loopback HTTP into an
  * in-process [[WebServer]]. One client thread drives [[Sessions]]
  * sessions, each with its own session cookie, one request at a time, so
  * no request waits on another of the benchmark's own. The script makes
  * one cycle per upload file: upload it, ask every question of the
  * file's kind (order shuffled by the seed), then fetch the session's chat
  * history. Files alternate between the sessions.
  *
  * The script runs in timed rounds, each against a fresh server and
  * store, so every round does the same work and every store ends at the
  * same size.
  * Before the first round an untimed warm-up runs the same questions on
  * small files of the same kinds, one thread per file, so the JVM has
  * compiled the path. A (file, question) pair's CPU is its median over
  * the rounds, its wall-clock latency its best.
  *
  * The LLM is replaced by [[Canned]], a [[SqlGenerator]] that answers the
  * benchmark's own questions with fixed DuckDB-dialect SQL and leaves the
  * rest to the engine's offline stub.
  *
  * A traced run adds two rounds, each against a fresh server or store.
  * The first goes over HTTP again with the listeners of [[Trace]]
  * attached: against the timed rounds it gives the tracing overhead, and
  * it counts the `Ingest.load` jobs the server starts. The second replays
  * the script without HTTP: the harness calls the engine pieces the
  * server's handlers call, in the same order, each inside a [[Trace]]
  * span. The span figures therefore come from this copy of the handlers'
  * sequence, not from the server itself. */
object WebSession {
  /** Sessions, each with its own cookie, driven by one client thread. */
  val Sessions = 2

  /** Questions per upload kind. Stub routes: duplicate, data card,
    * language, attribution; the rest is [[Canned]]. */
  val Questions: Map[String, Seq[String]] = Map(
    "documents" -> Seq(
      "How many duplicate documents are there?",
      "Show the data card per source",
      "What is the language mix of the corpus?",
      "Which is the longest document of each source?"),
    "events" -> Seq(
      "Attribute each purchase to its last marketing touch",
      "How many events of each type per day?",
      "List every event in order"),
    "lineitem" -> Seq(
      "What is the net revenue per ship month?",
      "Which line has the highest price per return flag?",
      "What are the quantity statistics per return flag and status?"))

  /** Stands in for the offline LLM: fixed DuckDB-dialect SQL (strftime,
    * QUALIFY, GROUP BY ALL, and one result above the 10,000-row cap). */
  object Canned extends SqlGenerator {
    private val sql: Map[String, String] = Map(
      "Which is the longest document of each source?" ->
        ("SELECT source, doc_id, n_chars FROM {t} QUALIFY row_number() OVER " +
          "(PARTITION BY source ORDER BY n_chars DESC, doc_id) = 1 ORDER BY source"),
      "How many events of each type per day?" ->
        ("SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n, " +
          "round(sum(value), 2) AS total FROM {t} GROUP BY ALL ORDER BY day, event_type"),
      "List every event in order" ->
        "SELECT event_id, user_id, event_type, value FROM {t} ORDER BY event_id",
      "What is the net revenue per ship month?" ->
        ("SELECT strftime(l_shipdate, '%Y-%m') AS month, " +
          "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
          "FROM {t} GROUP BY ALL ORDER BY month"),
      "Which line has the highest price per return flag?" ->
        ("SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM {t} " +
          "QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY " +
          "l_extendedprice DESC, l_orderkey, l_linenumber) = 1 ORDER BY l_returnflag"),
      "What are the quantity statistics per return flag and status?" ->
        ("SELECT l_returnflag, l_linestatus, count(*) AS n, round(avg(l_quantity), 2) " +
          "AS avg_qty, max(l_quantity) AS max_qty FROM {t} GROUP BY ALL " +
          "ORDER BY l_returnflag, l_linestatus"))

    def generate(question: String, info: DataInfo, table: String): String =
      sql.get(question).map(_.replace("{t}", table))
        .getOrElse(SqlGenerator.Stub.generate(question, info, table))
  }

  /** One upload and its questions, made in session `session`. */
  private final case class Cycle(session: Int, file: Path, questions: Seq[String])

  /** The script of one round: file `NN_kind.fmt` goes to session
    * `NN % Sessions`, with its kind's questions in an order the seed picks. */
  private def script(files: Seq[Path], seed: Long): Seq[Cycle] =
    files.map { f =>
      val n = f.getFileName.toString.take(2).toInt
      Cycle(n % Sessions, f, new Random(seed * 1000 + n).shuffle(Questions(kindOf(f))))
    }

  /** `NN_kind.fmt` → kind. */
  private def kindOf(f: Path): String =
    f.getFileName.toString.drop(3).takeWhile(_ != '.')

  private final case class Answer(phase: String, file: String, question: String, md: String)

  /** Latencies of the requests that succeeded (asks keyed by
    * "file: question", with their Java-thread CPU ms alongside), and one
    * error per request that failed or answered wrongly. */
  private final class Log {
    val attempted = new java.util.concurrent.atomic.AtomicLong
    val upload, history = new ConcurrentLinkedQueue[Double]()
    val ask, askCpu = new ConcurrentLinkedQueue[(String, Double)]()
    val answers = new ConcurrentLinkedQueue[Answer]()
    val errors = new ConcurrentLinkedQueue[String]()
    def askMs: Seq[Double] = ask.asScala.toSeq.map(_._2)
  }

  def run(a: Harness.Args): Harness.Result = {
    val uploads = Paths.get(a.data, "uploads")
    val files = listFiles(uploads)
    val cycles = script(files, a.seed)
    var dirs = 0
    var serverDir = ""
    def freshDir(): String = { dirs += 1; serverDir = s"${a.work}/web$dirs"; serverDir }
    val (spark, server, setupS) = Harness.setUp(Harness.SetUps)(s =>
      new WebServer(s, freshDir(), 0, Canned).start())(_.stop())
    def freshServer() = new WebServer(spark, freshDir(), 0, Canned).start()
    val r = new Harness.Result
    Harness.mark("set up")

    // Java-thread CPU ms of each round
    val cpus = scala.collection.mutable.ArrayBuffer.empty[Double]
    /** The round's script over HTTP against `srv`, which it stops; wall ms. */
    def round(srv: WebServer, log: Log, phase: String): Double = {
      val t0 = System.nanoTime()
      val c0 = Harness.threadCpu()
      drive(srv.boundPort, cycles, log, phase)
      val ms = Harness.ms(t0)
      cpus += Harness.cpuMsSince(c0)
      srv.stop()
      ms
    }

    // untimed warm-up: one thread per small file, each a session of its own
    val warm = new Log
    val warmCycles = script(listFiles(uploads.resolve("warm")), a.seed)
    val threads = warmCycles.map(c => new Thread(() =>
      drive(server.boundPort, Seq(c.copy(session = 0)), warm, "warm")))
    threads.foreach(_.start())
    threads.foreach(_.join())
    server.stop()
    Harness.mark("warmed up")
    // one timed round per 8 s of --seconds; a traced run, which reports
    // no end-to-end figures, times one, so that its two extra rounds keep
    // it well inside the run's time limit on a slowed host
    val rounds = if (a.trace) 1 else math.max(1, a.seconds / 8)
    val timed = (1 to rounds).map { _ =>
      val log = new Log
      (log, round(freshServer(), log, "http"))
    }
    val storeDir = Paths.get(serverDir, "meta")
    Harness.mark("timed rounds done")
    // per (file, question) pair: its CPU is the median over the rounds,
    // its latency the best
    def perPair(q: Log => ConcurrentLinkedQueue[(String, Double)], f: Seq[Double] => Double) =
      timed.flatMap(t => q(t._1).asScala).groupBy(_._1).values.map(xs => f(xs.map(_._2))).toSeq
    val cpu = perPair(_.askCpu, Harness.median)
    val best = perPair(_.ask, _.min)
    val walls = timed.map(_._2)
    r.e2e ++= Seq(
      "setup_s" -> setupS,
      "op_cpu_p50_ms" -> Harness.median(cpu),
      "round_cpu_s" -> Harness.median(cpus.toSeq) / 1e3,
      "retained_heap_mb" -> Harness.retainedHeapMb())
    r.layers ++= Seq(
      "wall.op_p50_ms" -> Harness.median(best),
      "wall.op_p90_ms" -> Harness.quantile(best, 0.9),
      "wall.round_s" -> walls.min / 1e3)
    val parts = Files.walk(storeDir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)).toSeq
    r.extra("timed_walls_s") = Json.arr(walls.map(w => f"${w / 1e3}%.3f"))
    r.extra("timed_cpu_s") = Json.arr(cpus.toSeq.map(w => f"${w / 1e3}%.3f"))
    val timedLogs = timed.map(_._1)
    def all(f: Log => Iterable[Double]) = timedLogs.flatMap(f)

    val traced, replayed = new Log
    if (a.trace) {
      // the script over HTTP again with the listeners attached; the
      // server's jobs fall in the group "none"
      val listened = new Trace(spark)
      val tracedMs = round(freshServer(), traced, "traced")
      listened.detach()
      Harness.mark("traced HTTP round done")

      val trace = new Trace(spark)
      // jobs one Ingest.load of each file starts, to turn the server's
      // Ingest.load jobs into calls
      for (f <- files)
        trace.span(s"ingest.probe ${f.getFileName}")(Ingest.load(spark, f.toString))
      trace.drain()
      def loadJobs(f: Path) =
        trace.listener.of(s"ingest.probe ${f.getFileName}").ingestJobs.get.toDouble
      val uploadJobs = cycles.map(c => loadJobs(c.file)).sum
      val askJobs = cycles.map(c => loadJobs(c.file) * c.questions.size).sum
      val serverJobs = listened.listener.of("none").ingestJobs.get.toDouble

      val store = new MetaStore(spark, s"${a.work}/replay/meta")
      replay(spark, trace, store, s"${a.work}/replay/uploads", cycles, replayed)
      Harness.mark("replay done")
      trace.drain()
      def p50(span: String) = Harness.median(trace.durations(span))
      def perCall(group: String, span: String) =
        trace.listener.of(group).jobs.get.toDouble / math.max(1, trace.durations(span).size)
      r.layers ++= Seq(
        "ingest.load_ms" -> p50("ingest.load"),
        // Ingest.load calls per ask on the HTTP path: the server's
        // Ingest.load jobs, less one load per upload, over one load per ask
        "ingest.calls_per_ask" -> (serverJobs - uploadJobs) / math.max(1.0, askJobs),
        "profile.ms" -> p50("profile"),
        "profile.jobs" -> perCall("profile", "profile"),
        "workspace.save_ms" -> p50("workspace.save"),
        "catalog.register_ms" -> p50("catalog.register"),
        "metastore.get_file_ms" -> p50("metastore.get_file"),
        "metastore.add_file_ms" -> p50("metastore.add_file"),
        "metastore.add_chat_ms" -> p50("metastore.add_chat"),
        "metastore.chat_history_ms" -> p50("metastore.chat_history"),
        "metastore.part_files" -> parts.size.toDouble,
        "metastore.bytes" -> parts.map(Files.size(_).toDouble).sum,
        "sqlgen.generate_ms" -> p50("sqlgen.generate"),
        "dialect.rewrite_ms" -> p50("dialect.rewrite"),
        "gateway.validate_ms" -> p50("gateway.validate"),
        "gateway.run_ms" -> p50("gateway.run"),
        "results.materialize_ms" -> p50("results.materialize"),
        "results.jobs" -> perCall("results.materialize", "results.materialize"),
        "results.render_ms" -> p50("results.render"),
        "web.overhead_ms" -> (Harness.median(all(_.askMs)) - p50("ask")),
        "web.upload_p50_ms" -> Harness.median(all(_.upload.asScala)),
        "web.history_p50_ms" -> Harness.median(all(_.history.asScala)),
        "trace.overhead_ms" -> (tracedMs - walls.sum / walls.size))
    }
    val logs = Seq(warm) ++ timedLogs ++ Seq(traced, replayed)
    for (l <- logs) {
      r.attempted += l.attempted.get
      r.errors ++= l.errors.asScala
    }
    val answers = logs.flatMap(_.answers.asScala)
    r.extra("answers") = Json.arr(answers.map(x =>
      Json.obj("phase" -> Json.str(x.phase), "file" -> Json.str(x.file),
        "question" -> Json.str(x.question), "md" -> Json.str(x.md))))
    r
  }

  private def listFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .sortBy(_.getFileName.toString)

  // ---- HTTP client -----------------------------------------------------

  private def drive(port: Int, cycles: Seq[Cycle], log: Log, phase: String): Unit = {
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val base = s"http://127.0.0.1:$port"
    val cookie = Array.fill(Sessions)("")
    val asked = Array.fill(Sessions)(0)
    def send(session: Int, req: HttpRequest.Builder, what: String)
        : Option[(HttpResponse[String], Double)] = {
      if (cookie(session).nonEmpty) req.header("Cookie", cookie(session))
      log.attempted.incrementAndGet()
      val t0 = System.nanoTime()
      try {
        val resp = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
        val took = Harness.ms(t0)
        if (resp.statusCode == 200) Some(resp -> took)
        else { log.errors.add(s"$what: HTTP ${resp.statusCode} ${resp.body.take(300)}"); None }
      } catch {
        case e: java.io.IOException => log.errors.add(s"$what: $e"); None
      }
    }
    for (Cycle(session, file, questions) <- cycles) {
      val name = file.getFileName.toString
      val boundary = "perfbench" + UUID.randomUUID().toString.replace("-", "")
      val body = multipart(boundary, name, Files.readAllBytes(file))
      val up = send(session, HttpRequest.newBuilder(URI.create(s"$base/api/upload"))
        .header("Content-Type", s"multipart/form-data; boundary=$boundary")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)), s"upload $name")
      for ((resp, took) <- up) {
        log.upload.add(took)
        resp.headers.firstValue("Set-Cookie")
          .ifPresent(c => cookie(session) = c.takeWhile(_ != ';'))
        val fileId = Json.getString(resp.body, "file_id").getOrElse("")
        for (q <- questions) {
          val req = Json.obj("file_id" -> Json.str(fileId), "question" -> Json.str(q))
          val c0 = Harness.threadCpu()
          send(session, HttpRequest.newBuilder(URI.create(s"$base/api/ask_question"))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(req)), s"ask $name: $q")
            .foreach { case (r, took) =>
              log.ask.add(s"$name: $q" -> took)
              log.askCpu.add(s"$name: $q" -> Harness.cpuMsSince(c0))
              asked(session) += 1
              log.answers.add(Answer(phase, name, q,
                Json.getString(r.body, "markdown_result").getOrElse("")))
            }
        }
      }
      send(session, HttpRequest.newBuilder(URI.create(s"$base/api/chat_history")).GET(),
        s"history after $name").foreach { case (r, took) =>
        log.history.add(took)
        val n = "\"markdown_result\":".r.findAllMatchIn(r.body).size
        if (n != asked(session))
          log.errors.add(s"history after $name: $n chats, expected ${asked(session)}")
      }
    }
  }

  private def multipart(boundary: String, name: String, bytes: Array[Byte]): Array[Byte] = {
    val head = s"--$boundary\r\nContent-Disposition: form-data; name=\"file\"; " +
      s"filename=\"$name\"\r\nContent-Type: application/octet-stream\r\n\r\n"
    val tail = s"\r\n--$boundary--\r\n"
    head.getBytes(StandardCharsets.UTF_8) ++ bytes ++ tail.getBytes(StandardCharsets.UTF_8)
  }

  // ---- traced replay ---------------------------------------------------

  /** The upload, ask and history handlers' engine calls, in the handlers'
    * order, each in its own span. */
  private def replay(spark: SparkSession, trace: Trace, store: MetaStore,
      uploadDir: String, cycles: Seq[Cycle], log: Log): Unit = {
    import trace.span
    val sids = Seq.fill(Sessions)(UUID.randomUUID().toString)
    for (sid <- sids)
      span("metastore.create_session")(store.createSession(sid, System.currentTimeMillis()))
    val asked = Array.fill(Sessions)(0)
    def timed(into: ConcurrentLinkedQueue[Double], what: String)(body: => Unit): Unit = {
      log.attempted.incrementAndGet()
      val t0 = System.nanoTime()
      try { body; into.add(Harness.ms(t0)) }
      catch { case e: Exception => log.errors.add(s"$what: ${e.getMessage}") }
    }
    for (Cycle(session, file, questions) <- cycles) {
      val sid = sids(session)
      val name = file.getFileName.toString
      var fileId = ""
      timed(log.upload, s"replay upload $name")(span("upload") {
        val path = span("workspace.save")(Workspace.saveUpload(
          Files.readAllBytes(file), name, uploadDir, System.currentTimeMillis()))
        val df = span("ingest.load")(Ingest.load(spark, path.toString))
        val info = span("profile")(Profile(df))
        fileId = UUID.randomUUID().toString
        span("metastore.add_file")(store.addFile(fileId, sid, name, path.toString,
          Json.obj("row_count" -> info.rowCount.toString), System.currentTimeMillis()))
      })
      if (fileId.nonEmpty) for (q <- questions) {
        log.attempted.incrementAndGet()
        val t0 = System.nanoTime()
        try {
          val ask = span("ask")(replayAsk(spark, trace, store, sid, fileId, q))
          log.ask.add(s"$name: $q" -> Harness.ms(t0))
          asked(session) += 1
          log.answers.add(Answer("replay", name, q, ask.md))
          probeGateway(spark, trace, ask)
        } catch { case e: Exception => log.errors.add(s"replay ask $name: $q: ${e.getMessage}") }
      }
      timed(log.history, s"replay history after $name") {
        val n = span("metastore.chat_history")(store.chatHistory(sid).collect()).length
        if (n != asked(session))
          log.errors.add(s"replay history after $name: $n chats, expected ${asked(session)}")
      }
    }
  }

  /** What the replay of one ask leaves for [[probeGateway]]. */
  private final case class Asked(md: String, df: DataFrame, view: String, sql: String)

  /** The ask handler's engine calls for one file, in the handler's order,
    * each in its own span. The markdown is a shorter one than the
    * handler's private renderer makes, with the same SQL block and table. */
  private def replayAsk(spark: SparkSession, trace: Trace, store: MetaStore, sid: String,
      fileId: String, question: String): Asked = {
    import trace.span
    val row = span("metastore.get_file")(store.getFile(fileId)).getOrElse(
      throw new IllegalStateException(s"file not found: $fileId"))
    val df = span("ingest.load")(Ingest.load(spark, row.getAs[String]("filepath")))
    val info = span("profile")(Profile(df))
    val view = "data_" + UUID.randomUUID().toString.replace("-", "")
    span("catalog.register")(Catalog.register(df, view))
    val (q, result) =
      try {
        val raw = span("sqlgen.generate")(Canned.generateMulti(question, Seq(view -> info)))
        val q = SqlGateway.sanitize(raw)
        val planned = span("gateway.run")(SqlGateway.run(spark, q))
        (q, span("results.materialize")(Results.materialize(planned)))
      } finally spark.catalog.dropTempView(view)
    val shownSql = q.replace(view, Catalog.TableName)
    val md = span("results.render")(
      s"```sql\n$shownSql\n```\n\n" + Results.toMarkdown(result))
    span("metastore.add_chat")(store.addChat(UUID.randomUUID().toString, sid, fileId,
      question, shownSql, md, System.currentTimeMillis()))
    span("results.chart")(Results.toSvgChart(result))
    Asked(md, df, view, q)
  }

  /** Times the two steps `SqlGateway.run` takes before it hands the
    * statement to Spark, the schema-aware dialect rewrite and the
    * SELECT-only gate, on the same statement and view, after the `ask`
    * span has ended, so the ask is not charged twice for them. */
  private def probeGateway(spark: SparkSession, trace: Trace, ask: Asked): Unit = {
    Catalog.register(ask.df, ask.view)
    try {
      val schemaOf: String => Option[Seq[String]] = name =>
        scala.util.Try(spark.table(name).schema.fieldNames.toSeq).toOption
      val rewritten =
        trace.span("dialect.rewrite")(DuckDbDialect.rewriteWithSchema(ask.sql, schemaOf))
      trace.span("gateway.validate")(SqlGateway.validate(spark, rewritten))
    } finally spark.catalog.dropTempView(ask.view)
  }
}

package graft.engine

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** HTTP surface over the engine shell — the reference's primary UX
  * (upload → ask → markdown; /root/reference/app.py:109–275). One route
  * per reference endpoint, same request/response contract, backed by the
  * already-tested engine pieces: [[Workspace]] (upload + cleanup),
  * [[Catalog.analyzeFile]] (ingest + profile), [[SqlGenerator]] (NL→SQL,
  * stub by default), [[SqlGateway]] (SELECT-only), [[Results]]
  * (markdown), [[MetaStore]] (sessions/files/chats in a driver-local
  * append-only log, no Spark job).
  *
  * Transport is the JDK's built-in httpserver — zero added dependencies,
  * same as every other seam in this build. Sessions ride a
  * `graft_session` cookie (Flask session-cookie analog, app.py:143–147).
  *
  * Each upload is analyzed once. The server keeps, per file id, the
  * file name, the ingested DataFrame and its [[DataInfo]] profile, and
  * an ask registers its per-request view over that frame instead of
  * re-reading the metastore, re-inferring the schema and re-profiling
  * (the reference's per-file DuckDB database, doc.py:112–119, plays the
  * same part). An entry cannot go stale: every upload is stored under
  * its own never-rewritten name ([[Workspace.saveUpload]]). At most
  * [[WebServer.MaxAnalyses]] entries are kept, least recently used
  * evicted first; an evicted or unknown entry (say, a new server over
  * an old `workDir`) is rebuilt from the metastore row on its next ask.
  *
  * Scale note: the web tier is a thin driver-side orchestrator — every
  * query it issues executes as a distributed Spark job. A csv, tsv,
  * json, parquet or orc entry is a query plan over its stored file; an
  * xlsx, xls or xml entry also keeps the rows its driver-side parser
  * produced, as a parallelized collection. Measured on one 20,000-row ×
  * 6-column table (JDK 17, heap freed when the entries were dropped):
  * 0.2 MB per entry as a 0.91 MB csv, 3.3 MB per entry as a 0.68 MB xlsx,
  * so a spreadsheet entry costs about five times its size on disk.
  * Uploads are capped by [[Workspace.MaxUploadBytes]].
  */
final class WebServer(spark: SparkSession, workDir: String, port: Int = 0,
    generator: SqlGenerator = SqlGenerator.Stub) {

  private val store = new MetaStore(spark, s"$workDir/meta")
  private val uploadDir = s"$workDir/uploads"
  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  def boundPort: Int = server.getAddress.getPort

  // small pool: requests are Spark-job-bound, not CPU-bound on this tier;
  // threads are named after the port so a thread dump shows their server
  private val pool = {
    val n = new AtomicInteger
    Executors.newFixedThreadPool(4, (r: Runnable) =>
      new Thread(r, s"graft-web-$boundPort-${n.incrementAndGet()}"))
  }
  server.setExecutor(pool)

  // ---- analyses: file id → ingested frame + profile ----------------------

  import WebServer.Analysis

  /** Access-ordered, so the eldest entry is the least recently used. */
  private val analyses = new java.util.LinkedHashMap[String, Analysis](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Analysis]): Boolean =
      size() > WebServer.MaxAnalyses
  }

  private def remember(fileId: String, a: Analysis): Unit =
    analyses.synchronized { analyses.put(fileId, a); () }

  /** The analysis of `fileId`; None if the metastore has no such file.
    * A miss runs metastore row → ingest → profile outside the lock, so a
    * slow rebuild never blocks asks on other files (two concurrent misses
    * on one id both rebuild, to the same result). */
  private def analysisOf(fileId: String): Option[Analysis] =
    analyses.synchronized(Option(analyses.get(fileId))).orElse {
      store.getFile(fileId).map { row =>
        val (df, info) = Catalog.analyzeFile(spark, row.getAs[String]("filepath"))
        val a = Analysis(row.getAs[String]("filename"), df, info)
        remember(fileId, a)
        a
      }
    }

  // ---- routing ---------------------------------------------------------

  server.createContext("/", handler { ex =>
    if (ex.getRequestURI.getPath == "/") Response(200, "text/html", WebServer.IndexHtml)
    else Response(404, "application/json", Json.obj("error" -> Json.str("not found")))
  })

  server.createContext("/static/app.js", handler { _ =>
    Response(200, "application/javascript", WebServer.AppJs)
  })

  server.createContext("/api/upload", handler { ex =>
    requirePost(ex) {
      val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
      // bound the read BEFORE buffering: Workspace re-checks the exact
      // file size, but an oversized request must not reach the heap
      // (readNBytes caps the stream even when Content-Length lies)
      val maxBody = Workspace.MaxUploadBytes + (1 << 20) // + multipart framing
      val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
        .flatMap(_.toLongOption).getOrElse(0L)
      // a 413 raced with an in-flight upload breaks the connection before
      // the client can read it — DRAIN (discard, 64 KB buffer, never
      // buffered whole) moderately-oversized bodies so the reject is
      // readable. The cap is on bytes ACTUALLY read, not the declared
      // length: a chunked request declares none (declared=0), so an
      // uncapped drain would let an endless body pin one of the 4 worker
      // threads forever. Past the budget, stop reading and close.
      def tooLarge(detail: String): Response = {
        val budget = 256L << 20
        var drained = 0L
        if (declared <= budget) {
          val in = ex.getRequestBody
          val buf = new Array[Byte](64 * 1024)
          var n = in.read(buf)
          while (n != -1 && drained <= budget) { drained += n; n = in.read(buf) }
          if (n != -1) ex.getResponseHeaders.add("Connection", "close")
        } else ex.getResponseHeaders.add("Connection", "close")
        Response(413, "application/json",
          Json.obj("error" -> Json.str(s"request too large$detail")))
      }
      if (declared > maxBody) tooLarge(s": $declared bytes")
      else {
      val body = ex.getRequestBody.readNBytes(maxBody.toInt + 1)
      if (body.length > maxBody) tooLarge("")
      else
      Multipart.firstFile(ct, body) match {
        case None =>
          Response(400, "application/json", Json.obj("error" -> Json.str("no file selected")))
        case Some((filename, bytes)) =>
          try {
            val (path, df, info) = Workspace.uploadAndAnalyze(
              spark, bytes, filename, uploadDir, System.currentTimeMillis())
            val (sid, cookie) = sessionOf(ex, createIfMissing = true)
            val fileId = UUID.randomUUID().toString
            store.addFile(fileId, sid, filename, path.toString,
              dataInfoJson(info), System.currentTimeMillis())
            remember(fileId, Analysis(filename, df, info))
            Response(200, "application/json", Json.obj(
              "success" -> "true",
              "file_id" -> Json.str(fileId),
              "filename" -> Json.str(filename)), cookie)
          } catch {
            case e: Exception =>
              Response(400, "application/json",
                Json.obj("error" -> Json.str(Option(e.getMessage).getOrElse("analysis failed"))))
          }
      }
      }
    }
  })

  server.createContext("/api/ask_question", handler { ex =>
    requirePost(ex) {
      // questions are small; cap the body read (1 MB) like the upload path
      val body = new String(ex.getRequestBody.readNBytes(1 << 20), StandardCharsets.UTF_8)
      // multi-source analysis (reference roadmap README.md:109–116):
      // `file_ids` registers every named file for ONE cross-file query;
      // the single `file_id` field keeps the reference's API shape.
      val fileIds = Json.getStringArray(body, "file_ids")
        .getOrElse(Json.getString(body, "file_id").toSeq)
        .filter(_.nonEmpty).distinct
      val question = Json.getString(body, "question").getOrElse("")
      val (sid, _) = sessionOf(ex, createIfMissing = false)
      if (fileIds.isEmpty)
        Response(400, "application/json", Json.obj("error" -> Json.str("no file selected")))
      else if (question.trim.isEmpty)
        Response(400, "application/json", Json.obj("error" -> Json.str("empty question")))
      else if (sid.isEmpty)
        Response(400, "application/json", Json.obj("error" -> Json.str("upload a file first")))
      else try {
        val found = fileIds.map(id => id -> analysisOf(id))
        found.collectFirst { case (id, None) => id } match {
          case Some(missing) =>
            Response(404, "application/json",
              Json.obj("error" -> Json.str(s"file not found: $missing")))
          case None =>
            // Per-request view names: the SparkSession (and its
            // temp-view namespace) is shared across the 4 worker
            // threads, so fixed names race — a concurrent request
            // could re-register one with a different file between
            // register and run, silently answering against the wrong
            // (possibly another session's) data. The reference avoids
            // this with a per-file DuckDB database; unique names are
            // the shared-session analog. Display names are stable
            // ([[Catalog.displayNames]]).
            val loaded = found.map(_._2.get)
            val displayNames = Catalog.displayNames(loaded.map(_.filename))
            val views = loaded.map { a =>
              val view = "data_" + UUID.randomUUID().toString.replace("-", "")
              Catalog.register(a.df, view)
              view
            }
            val infos = loaded.map(_.info)
            val (sql, result) =
              try {
                val q = SqlGateway.sanitize(
                  generator.generateMulti(question, views.zip(infos)))
                (q, Results.materialize(SqlGateway.run(spark, q)))
              } finally views.foreach(spark.catalog.dropTempView(_))
            // stored/rendered SQL shows the stable display names, not
            // the ephemeral per-request views (which no longer exist)
            val displaySql = views.zip(displayNames).foldLeft(sql) {
              case (s, (v, d)) => s.replace(v, d)
            }
            val md = analysisMarkdown(question, displaySql,
              displayNames.zip(infos), result)
            val chatId = UUID.randomUUID().toString
            store.addChat(chatId, sid, fileIds.head, question, displaySql, md,
              System.currentTimeMillis())
            // opportunistic auto-chart (reference roadmap "可视化图表"):
            // a server-rendered SVG — no CDN chart lib exists in a
            // zero-egress deployment; labels are XML-escaped by the
            // renderer since the client injects this as markup
            val chart = Results.toSvgChart(result)
            Response(200, "application/json", Json.obj((Seq(
              "success" -> "true",
              "chat_id" -> Json.str(chatId),
              "markdown_result" -> Json.str(md)) ++
              chart.map(svg => "chart_svg" -> Json.str(svg))): _*))
        }
      } catch {
        case e: Exception =>
          Response(400, "application/json",
            Json.obj("error" -> Json.str(Option(e.getMessage).getOrElse("query failed"))))
      }
    }
  })

  server.createContext("/api/chat_history", handler { ex =>
    val (sid, _) = sessionOf(ex, createIfMissing = false)
    val items =
      if (sid.isEmpty) Seq.empty
      else store.chatHistory(sid).collect().toSeq.map { r =>
        Json.obj(
          "id" -> Json.str(r.getAs[String]("chat_id")),
          "question" -> Json.str(r.getAs[String]("question")),
          "sql" -> Json.str(r.getAs[String]("sql")),
          "markdown_result" -> Json.str(r.getAs[String]("result_md")),
          "filename" -> Json.str(Option(r.getAs[String]("filename")).getOrElse("")),
          "timestamp" -> Json.str(r.getAs[java.sql.Timestamp]("ts").toInstant.toString))
      }
    Response(200, "application/json", Json.obj("history" -> Json.arr(items)))
  })

  server.createContext("/api/new_session", handler { ex =>
    requirePost(ex) {
      val sid = UUID.randomUUID().toString
      store.createSession(sid, System.currentTimeMillis())
      Response(200, "application/json",
        Json.obj("session_id" -> Json.str(sid)), setCookie(sid))
    }
  })

  server.createContext("/api/sessions", handler { _ =>
    val items = store.sessionList().collect().toSeq.map { r =>
      Json.obj(
        "session_id" -> Json.str(r.getAs[String]("session_id")),
        "created_at" -> Json.str(r.getAs[java.sql.Timestamp]("created_at").toInstant.toString),
        "n_chats" -> r.getAs[Long]("n_chats").toString,
        "n_files" -> r.getAs[Long]("n_files").toString,
        "last_activity" -> Json.str(r.getAs[java.sql.Timestamp]("last_activity").toInstant.toString))
    }
    Response(200, "application/json", Json.obj("sessions" -> Json.arr(items)))
  })

  server.createContext("/api/files", handler { ex =>
    val (sid, _) = sessionOf(ex, createIfMissing = false)
    val items =
      if (sid.isEmpty) Seq.empty
      else store.filesForSession(sid).collect().toSeq.map { r =>
        Json.obj(
          "file_id" -> Json.str(r.getAs[String]("file_id")),
          "filename" -> Json.str(r.getAs[String]("filename")),
          "created_at" -> Json.str(r.getAs[java.sql.Timestamp]("created_at").toInstant.toString))
      }
    Response(200, "application/json", Json.obj("files" -> Json.arr(items)))
  })

  server.createContext("/api/switch_session/", handler { ex =>
    requirePost(ex) {
      val sid = ex.getRequestURI.getPath.stripPrefix("/api/switch_session/")
      val exists = store.sessionList().collect().exists(_.getAs[String]("session_id") == sid)
      if (exists)
        Response(200, "application/json",
          Json.obj("success" -> "true", "session_id" -> Json.str(sid)), setCookie(sid))
      else
        Response(404, "application/json", Json.obj("error" -> Json.str("session not found")))
    }
  })

  def start(): WebServer = { server.start(); this }

  /** Closes the listening socket, lets in-flight requests finish (up to
    * 10 s) and ends the request pool's threads, so a JVM whose servers
    * are all stopped can exit. Drops the analyses. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    analyses.synchronized(analyses.clear())
  }

  // ---- helpers ---------------------------------------------------------

  private case class Response(status: Int, contentType: String, body: String,
      cookie: Option[String] = None)

  private def handler(f: HttpExchange => Response): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => {
      val resp =
        try f(ex)
        catch {
          case e: Exception =>
            Response(500, "application/json",
              Json.obj("error" -> Json.str(s"server error: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")))
        }
      val bytes = resp.body.getBytes(StandardCharsets.UTF_8)
      resp.cookie.foreach(c => ex.getResponseHeaders.add("Set-Cookie", c))
      ex.getResponseHeaders.add("Content-Type", s"${resp.contentType}; charset=utf-8")
      ex.sendResponseHeaders(resp.status, bytes.length)
      val os = ex.getResponseBody
      os.write(bytes)
      os.close()
    }

  private def requirePost(ex: HttpExchange)(body: => Response): Response =
    if (ex.getRequestMethod != "POST")
      Response(405, "application/json", Json.obj("error" -> Json.str("POST required")))
    else body

  /** (session id or "", Set-Cookie header to attach if one was created). */
  private def sessionOf(ex: HttpExchange, createIfMissing: Boolean): (String, Option[String]) = {
    val cookies = Option(ex.getRequestHeaders.getFirst("Cookie")).getOrElse("")
    val existing = cookies.split(";").map(_.trim)
      .find(_.startsWith("graft_session="))
      .map(_.stripPrefix("graft_session="))
      .filter(_.nonEmpty)
    existing match {
      case Some(sid) => (sid, None)
      case None if createIfMissing =>
        val sid = UUID.randomUUID().toString
        store.createSession(sid, System.currentTimeMillis())
        (sid, setCookie(sid))
      case None => ("", None)
    }
  }

  private def setCookie(sid: String): Option[String] =
    Some(s"graft_session=$sid; Path=/; HttpOnly")

  private def dataInfoJson(info: DataInfo): String = Json.obj(
    "row_count" -> info.rowCount.toString,
    "column_count" -> info.columnCount.toString,
    "columns" -> Json.arr(info.columns.map(Json.str)))

  /** Markdown analysis block (format_analysis_result analog,
    * app.py:35–106: title, question, SQL fence, data overview, table). */
  private def analysisMarkdown(question: String, sql: String,
      tables: Seq[(String, DataInfo)], result: QueryResult): String = {
    val sb = new StringBuilder
    sb ++= "## 📊 Analysis Result\n"
    sb ++= s"**Question**: $question\n\n"
    sb ++= "### 🔍 Generated SQL\n```sql\n" + sql + "\n```\n\n"
    sb ++= "### 📋 Data Overview\n"
    tables match {
      case Seq((_, info)) => // single file: the reference's exact shape
        sb ++= s"- **Rows**: ${info.rowCount}\n"
        sb ++= s"- **Columns**: ${info.columnCount}\n"
        sb ++= s"- **Names**: ${info.columns.mkString(", ")}\n\n"
      case many =>
        many.foreach { case (name, info) =>
          sb ++= s"- **$name**: ${info.rowCount} rows × ${info.columnCount} " +
            s"columns (${info.columns.mkString(", ")})\n"
        }
        sb ++= "\n"
    }
    sb ++= "### 📈 Query Result\n"
    sb ++= Results.toMarkdown(result)
    sb.toString
  }

}

object WebServer {
  /** Analyses one server keeps (see the class doc for an entry's heap);
    * a constant, not a setting. */
  val MaxAnalyses = 16

  private final case class Analysis(filename: String, df: DataFrame, info: DataInfo)

  /** Browser UI (reference templates/index.html:1-267 +
    * static/js/app.js:1-508 re-expressed): upload panel, file selector,
    * question box, chat messages with rendered markdown, session
    * switcher and chat history. Self-contained — no CDN scripts (the
    * reference loads Tailwind/jQuery/marked.js from CDNs, which a
    * zero-egress deployment can never reach); markdown rendering is a
    * small escape-first renderer in app.js. Loaded once from the
    * classpath so the jar is the whole deployment artifact. */
  private[engine] lazy val IndexHtml: String = resource("/graft/web/index.html")
  private[engine] lazy val AppJs: String = resource("/graft/web/app.js")

  private def resource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing classpath resource $path")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }
}

/** Entrypoint: `runMain graft.engine.WebMain [port] [workDir]`. */
object WebMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(5000)
    val workDir = args.lift(1).getOrElse("/tmp/graft-web")
    val spark = Session.local("graft-web")
    // GEMINI_API_KEY in the environment selects the live NL→SQL
    // transport; default stays the deterministic stub
    val ws = new WebServer(spark, workDir, port,
      generator = SqlGenerator.fromEnv()).start()
    println(s"graft web server listening on port ${ws.boundPort}")
    Thread.currentThread().join()
  }
}

package graft

import graft.engine._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** End-to-end drive of the HTTP surface over loopback: upload → ask →
  * history → sessions — the reference's app.py:109–275 contract. */
class WebSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val workDir = Files.createTempDirectory("graft-web").toString
  private lazy val server = new WebServer(spark, workDir).start()
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val http = HttpClient.newHttpClient()

  private def get(path: String, cookie: String = "", at: String = base): HttpResponse[String] = {
    val b = HttpRequest.newBuilder().uri(URI.create(s"$at$path")).GET()
    if (cookie.nonEmpty) b.header("Cookie", cookie)
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def post(path: String, body: String, contentType: String,
      cookie: String = "", at: String = base): HttpResponse[String] = {
    val b = HttpRequest.newBuilder().uri(URI.create(s"$at$path"))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
    if (cookie.nonEmpty) b.header("Cookie", cookie)
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def multipartBody(filename: String, content: Array[Byte],
      boundary: String): Array[Byte] = {
    val head = (s"--$boundary\r\n" +
      s"""Content-Disposition: form-data; name="file"; filename="$filename"\r\n""" +
      "Content-Type: application/octet-stream\r\n\r\n").getBytes(StandardCharsets.UTF_8)
    val tail = s"\r\n--$boundary--\r\n".getBytes(StandardCharsets.UTF_8)
    head ++ content ++ tail
  }

  private def uploadCsv(): (String, String) = {
    val csv = Files.readAllBytes(Paths.get(TestSpark.resource("sample_sales_data.csv")))
    val boundary = "graftBoundary42"
    val req = HttpRequest.newBuilder()
      .uri(URI.create(s"$base/api/upload"))
      .header("Content-Type", s"multipart/form-data; boundary=$boundary")
      .POST(HttpRequest.BodyPublishers.ofByteArray(
        multipartBody("sample_sales_data.csv", csv, boundary)))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200, resp.body())
    val cookie = resp.headers().firstValue("Set-Cookie").orElse("")
      .split(";").head
    val fileId = Json.getString(resp.body(), "file_id").get
    (fileId, cookie)
  }

  /** Uploads `content` as `name` into the session of `cookie` (a new
    * one if empty); (file id, session cookie). */
  private def upload(name: String, content: String, cookie: String = ""): (String, String) = {
    val boundary = "graftBoundaryA"
    val b = HttpRequest.newBuilder()
      .uri(URI.create(s"$base/api/upload"))
      .header("Content-Type", s"multipart/form-data; boundary=$boundary")
    if (cookie.nonEmpty) b.header("Cookie", cookie)
    val resp = http.send(b.POST(HttpRequest.BodyPublishers.ofByteArray(
      multipartBody(name, content.getBytes(StandardCharsets.UTF_8), boundary))).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200, resp.body())
    val ck = resp.headers().firstValue("Set-Cookie").orElse("").split(";").head
    (Json.getString(resp.body(), "file_id").get, if (cookie.nonEmpty) cookie else ck)
  }

  /** The markdown of one ask on `fileId` at server `at`. */
  private def askMd(fileId: String, question: String, cookie: String,
      at: String = base): String = {
    val r = post("/api/ask_question",
      Json.obj("file_id" -> Json.str(fileId), "question" -> Json.str(question)),
      "application/json", cookie, at)
    assert(r.statusCode() == 200, r.body())
    Json.getString(r.body(), "markdown_result").get
  }

  /** Spark jobs `body` starts whose call site passes through `Ingest.load`
    * or `Profile.apply` — the work of analyzing a file. */
  private def analysisJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val frames = Seq("graft.engine.Ingest$.load(", "graft.engine.Profile$.apply(")
    val marker = s"webspec-${UUID.randomUUID()}"
    val count = new AtomicInteger
    @volatile var seenMarker = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (e.stageInfos.exists(s => frames.exists(f => Option(s.details).exists(_.contains(f)))))
          count.incrementAndGet()
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          seenMarker = true
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      // the bus delivers in order: once the marker job's start arrives,
      // every job `body` started has been counted
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!seenMarker && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seenMarker, "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    count.get
  }

  test("index page serves the browser app (upload, question, history, sessions)") {
    val r = get("/")
    assert(r.statusCode() == 200, r.body().take(200))
    val html = r.body()
    // the page is the reference UI re-expressed: every interactive
    // element the client script drives must be present
    for (id <- Seq("dropArea", "fileInput", "fileSelect", "questionInput",
        "askForm", "submitBtn", "chatHistory", "sessionList", "newSessionBtn",
        "messages"))
      assert(html.contains(s"id=\"$id\""), s"missing element #$id")
    assert(html.contains("/static/app.js"))
    // self-contained: a zero-egress deployment must not need a CDN
    assert(!html.contains("cdn.") && !html.contains("https://"), "page references external assets")
  }

  test("client script serves, wires the API, and renders markdown safely") {
    val r = get("/static/app.js")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("application/javascript"))
    val js = r.body()
    for (route <- Seq("/api/upload", "/api/ask_question", "/api/chat_history",
        "/api/new_session", "/api/sessions", "/api/files", "/api/switch_session/"))
      assert(js.contains(route), s"client does not call $route")
    // the markdown renderer escapes BEFORE structuring — the page must
    // never interpolate raw result text into innerHTML
    assert(js.contains("escapeHtml") && js.contains("renderMarkdown"))
  }

  test("generator selection: GEMINI_API_KEY switches transports, stub is default") {
    import graft.engine.{GeminiSqlGenerator, SqlGenerator}
    assert(SqlGenerator.fromEnv(Map.empty) eq SqlGenerator.Stub)
    assert(SqlGenerator.fromEnv(Map("GEMINI_API_KEY" -> "  ")) eq SqlGenerator.Stub)
    SqlGenerator.fromEnv(Map("GEMINI_API_KEY" -> "k")) match {
      case g: GeminiSqlGenerator =>
        assert(g.model == "gemini-2.5-flash")
        assert(g.endpoint.startsWith("https://generativelanguage"))
      case other => fail(s"expected live transport, got $other")
    }
    SqlGenerator.fromEnv(Map(
      "GEMINI_API_KEY" -> "k",
      "GRAFT_GEMINI_MODEL" -> "gemini-2.0-flash",
      "GRAFT_GEMINI_ENDPOINT" -> "http://proxy.local/v1beta")) match {
      case g: GeminiSqlGenerator =>
        assert(g.model == "gemini-2.0-flash" && g.endpoint == "http://proxy.local/v1beta")
      case other => fail(s"expected live transport, got $other")
    }
  }

  test("upload -> ask -> history -> files round trip") {
    val (fileId, cookie) = uploadCsv()
    assert(fileId.nonEmpty && cookie.startsWith("graft_session="))

    // CJK question routes through the NL stub (UTF-8 over HTTP — no CLI
    // arg mangling) and runs through the SELECT-only gateway
    val ask = post("/api/ask_question",
      Json.obj("file_id" -> Json.str(fileId),
        "question" -> Json.str("每个城市的销售额")), "application/json", cookie)
    assert(ask.statusCode() == 200, ask.body())
    val md = Json.getString(ask.body(), "markdown_result").get
    assert(md.contains("customer_city") && md.contains("```sql"))
    assert(md.contains("Query Result") && md.contains("|"))

    val hist = get("/api/chat_history", cookie)
    assert(hist.statusCode() == 200)
    assert(Json.getString(ask.body(), "chat_id").exists(hist.body().contains))

    val files = get("/api/files", cookie)
    assert(files.body().contains(fileId) && files.body().contains("sample_sales_data.csv"))
  }

  test("session lifecycle: new, list, switch") {
    val ns = post("/api/new_session", "", "application/json")
    assert(ns.statusCode() == 200)
    val sid = Json.getString(ns.body(), "session_id").get

    val sessions = get("/api/sessions")
    assert(sessions.body().contains(sid))

    val sw = post(s"/api/switch_session/$sid", "", "application/json")
    assert(sw.statusCode() == 200 && sw.body().contains(sid))
    assert(post("/api/switch_session/no-such-session", "", "application/json")
      .statusCode() == 404)
  }

  test("error contract: bad uploads and bad questions are 4xx") {
    // wrong file type rejected (app.py:124-125 analog)
    val boundary = "graftBoundary9"
    val bad = HttpRequest.newBuilder()
      .uri(URI.create(s"$base/api/upload"))
      .header("Content-Type", s"multipart/form-data; boundary=$boundary")
      .POST(HttpRequest.BodyPublishers.ofByteArray(
        multipartBody("evil.txt", "hi".getBytes, boundary)))
      .build()
    assert(http.send(bad, HttpResponse.BodyHandlers.ofString()).statusCode() == 400)

    // no file part at all
    assert(post("/api/upload", "{}", "application/json").statusCode() == 400)
    // missing file_id / question / session
    assert(post("/api/ask_question", Json.obj(), "application/json").statusCode() == 400)
    val (fileId, cookie) = uploadCsv()
    assert(post("/api/ask_question",
      Json.obj("file_id" -> Json.str(fileId), "question" -> Json.str("  ")),
      "application/json", cookie).statusCode() == 400)
    assert(post("/api/ask_question",
      Json.obj("file_id" -> Json.str("nope"), "question" -> Json.str("q")),
      "application/json", cookie).statusCode() == 404)
    // GET on a POST-only route
    assert(get("/api/upload").statusCode() == 405)
    // oversized upload rejected by declared length (413, before buffering)
    val big = HttpRequest.newBuilder()
      .uri(URI.create(s"$base/api/upload"))
      .header("Content-Type", "multipart/form-data; boundary=x")
      .POST(HttpRequest.BodyPublishers.ofByteArray(new Array[Byte](18 << 20)))
      .build()
    assert(http.send(big, HttpResponse.BodyHandlers.ofString()).statusCode() == 413)
  }

  test("concurrent uploads all land (MetaStore append is serialized)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence((1 to 4).map(_ => Future(uploadCsv()))), 120.seconds)
    // all four uploads succeeded, and each session sees its own file —
    // a lost concurrent append would drop a row from the files table
    results.foreach { case (fileId, cookie) =>
      assert(fileId.nonEmpty && cookie.startsWith("graft_session="))
      val files = get("/api/files", cookie)
      assert(files.statusCode() == 200 && files.body().contains(fileId),
        s"file $fileId missing from $cookie: ${files.body()}")
    }
  }

  test("concurrent questions answer against their own file (no view races)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // two files with disjoint schemas: any cross-request view clobbering
    // would surface the other file's columns in the markdown
    val (salesId, cookie) = uploadCsv()
    val otherCsv = "zzz_metric,zzz_value\na,1\nb,2\n".getBytes(StandardCharsets.UTF_8)
    val boundary = "graftBoundary7"
    val req = HttpRequest.newBuilder()
      .uri(URI.create(s"$base/api/upload"))
      .header("Content-Type", s"multipart/form-data; boundary=$boundary")
      .header("Cookie", cookie)
      .POST(HttpRequest.BodyPublishers.ofByteArray(
        multipartBody("zzz_other.csv", otherCsv, boundary)))
      .build()
    val up2 = http.send(req, HttpResponse.BodyHandlers.ofString())
    assert(up2.statusCode() == 200, up2.body())
    val otherId = Json.getString(up2.body(), "file_id").get
    // the stub fallback (SELECT * LIMIT 10) echoes the target file's
    // columns; fire interleaved concurrent asks against both files
    val asks = (1 to 8).map { i =>
      val id = if (i % 2 == 0) salesId else otherId
      Future {
        id -> post("/api/ask_question",
          Json.obj("file_id" -> Json.str(id), "question" -> Json.str("show rows")),
          "application/json", cookie)
      }
    }
    Await.result(Future.sequence(asks), 180.seconds).foreach { case (id, r) =>
      assert(r.statusCode() == 200, r.body())
      val md = Json.getString(r.body(), "markdown_result").get
      if (id == salesId)
        assert(md.contains("customer_city") && !md.contains("zzz_metric"), md.take(400))
      else
        assert(md.contains("zzz_metric") && !md.contains("customer_city"), md.take(400))
    }
  }

  test("multi-file ask: cross-file join through the gateway (reference roadmap)") {
    // two frames sharing a join column; totals are hand-computed so the
    // markdown is checked against the DuckDB-oracle answer for this input
    val (dimsId, cookie) = upload("dims.csv",
      "region,manager\neast,alice\nwest,bob\nnorth,carol\n")
    val (salesId, _) = upload("sales2.csv",
      "region,amount\neast,10.5\neast,2.0\nwest,4.25\n", cookie)
    val r = post("/api/ask_question",
      s"""{"file_ids": ["$dimsId", "$salesId"], "question": "total amount by region"}""",
      "application/json", cookie)
    assert(r.statusCode() == 200, r.body())
    val md = Json.getString(r.body(), "markdown_result").get
    // inner join drops the unmatched 'north' dim; totals are exact
    assert(md.contains("12.50") && md.contains("4.25"), md.take(600))
    assert(!md.contains("north"), md.take(600))
    // rendered SQL references the stable stem-named views, not ephemerals
    assert(md.contains("dims") && md.contains("sales2"), md.take(600))
    assert(!md.contains("data_1") || !md.matches("(?s).*data_[0-9a-f]{32}.*"), md.take(600))
    // overview lists both frames
    assert(md.contains("3 rows") && md.contains("2 columns"), md.take(600))
    // a missing id in the list 404s with the offending id named
    val bad = post("/api/ask_question",
      s"""{"file_ids": ["$dimsId", "nope"], "question": "q"}""",
      "application/json", cookie)
    assert(bad.statusCode() == 404 && bad.body().contains("nope"))
  }

  test("north-star asks route to the pipeline operators (round 15)") {
    // the shell's e2e path must reach the LLM-data-pipeline surface:
    // dedup rate, data card, last-touch attribution, language mix —
    // each ask lands on the Stub's operator-family SQL and runs through
    // the SELECT-only gateway against the uploaded table
    val (docsId, cookie) = upload("docs15.csv",
      "doc_id,text,lang,source,n_chars\n" +
        "1,hello world,en,web,11\n" +
        "2,Hello World,en,web,11\n" +
        "3,unique text,zh,wiki,11\n")
    // dedup rate: 3 docs, 2 canonical-distinct → dup_rate 0.3333 (2dp render)
    val dd = askMd(docsId, "what fraction of the documents are duplicates?", cookie)
    assert(dd.contains("dup_rate") && dd.contains("n_unique"), dd.take(500))
    assert(dd.contains("| 3 | 2 |"), dd.take(500))
    // data card per source
    val dc = askMd(docsId, "show me a data card per source", cookie)
    assert(dc.contains("total_chars") && dc.contains("web") && dc.contains("wiki"),
      dc.take(500))
    // language mix
    val lm = askMd(docsId, "what is the language mix?", cookie)
    assert(lm.contains("pct") && lm.contains("en") && lm.contains("zh"), lm.take(500))
    // last-touch attribution over an events-shaped upload: purchase 2
    // attributes to view 1 (10 min gap); purchase 3 is out of window
    val (evId, _) = upload("events15.csv",
      "event_id,ts,user_id,event_type,value\n" +
        "1,2024-01-01 10:00:00,7,view,1.0\n" +
        "2,2024-01-01 10:10:00,7,purchase,5.0\n" +
        "3,2024-01-01 12:00:00,7,purchase,5.0\n", cookie)
    val at = askMd(evId, "attribute each purchase to the last marketing touch", cookie)
    assert(at.contains("attributed_id"), at.take(500))
    assert(at.contains("| 2 | 7 | 1 |"), at.take(500))
  }

  test("an ask reuses the upload's analysis: no ingest or profile jobs") {
    var fileId, cookie = ""
    // the listener sees an upload's analysis jobs, so a zero below is real
    assert(analysisJobs { val (f, c) = uploadCsv(); fileId = f; cookie = c } > 0)
    var md = ""
    assert(analysisJobs { md = askMd(fileId, "每个城市的销售额", cookie) } == 0)
    assert(md.contains("customer_city") && md.contains("Query Result"), md.take(400))
  }

  test("a second server over the same workDir answers files the first analyzed") {
    val (fileId, cookie) = upload("memo_restart.csv", "region,amount\neast,1.5\nwest,2.25\n")
    val question = "show rows"
    val first = askMd(fileId, question, cookie)
    val other = new WebServer(spark, workDir).start()
    try {
      val at = s"http://127.0.0.1:${other.boundPort}"
      var second = ""
      // a miss: the new server rebuilds the analysis from the metastore row
      assert(analysisJobs { second = askMd(fileId, question, cookie, at) } > 0)
      assert(second == first)
      // and keeps it
      assert(analysisJobs { second = askMd(fileId, question, cookie, at) } == 0)
      assert(second == first)
      assert(post("/api/ask_question",
        Json.obj("file_id" -> Json.str("nope"), "question" -> Json.str(question)),
        "application/json", cookie, at).statusCode() == 404)
    } finally other.stop()
  }

  test("after more uploads than the cap, the oldest file still answers") {
    val (oldestId, cookie) = upload("memo_oldest.csv", "oldest_marker,n\nfirst,1\n")
    val newer = (1 to WebServer.MaxAnalyses).map(i =>
      upload(s"memo_$i.csv", s"newer_col_$i,n\nrow_$i,$i\n", cookie)._1)
    var md = ""
    // evicted: this ask rebuilds it
    assert(analysisJobs { md = askMd(oldestId, "show rows", cookie) } > 0)
    assert(md.contains("oldest_marker") && md.contains("first") && !md.contains("newer_col"),
      md.take(400))
    // the newest upload is still kept
    assert(analysisJobs { md = askMd(newer.last, "show rows", cookie) } == 0)
    assert(md.contains(s"newer_col_${WebServer.MaxAnalyses}"), md.take(400))
  }

  test("stop() ends the server's request pool threads") {
    val ws = new WebServer(spark, Files.createTempDirectory("graft-web-stop").toString).start()
    val prefix = s"graft-web-${ws.boundPort}-"
    def poolThreads = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName.startsWith(prefix) && t.isAlive)
    assert(get("/", at = s"http://127.0.0.1:${ws.boundPort}").statusCode() == 200)
    assert(poolThreads.nonEmpty, "a request ran on no pool thread of this server")
    ws.stop()
    assert(poolThreads.isEmpty, poolThreads.map(_.getName))
  }

  test("shutdown") { server.stop() }
}

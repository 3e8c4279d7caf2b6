package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine._

/** MetaStore (Tier A15/Tier C) + Workspace (Tier A14) shell components. */
class ShellSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("metastore: session/file/chat lifecycle with Tier-C query shapes") {
    val dir = Files.createTempDirectory("meta").toString
    val m = new MetaStore(spark, dir)
    val t0 = 1700000000000L
    m.createSession("s1", t0)
    m.createSession("s2", t0 + 1000)
    m.addFile("f1", "s1", "sales.csv", "/tmp/sales.csv", "{}", t0 + 2000)
    m.addFile("f2", "s1", "prod.json", "/tmp/prod.json", "{}", t0 + 3000)
    m.addChat("c1", "s1", "f1", "q1", "SELECT 1", "| 1 |", t0 + 4000)
    m.addChat("c2", "s1", "f2", "q2", "SELECT 2", "| 2 |", t0 + 5000)

    assert(m.getFile("f1").map(_.getAs[String]("filename")).contains("sales.csv"))
    assert(m.getFile("nope").isEmpty)

    val files = m.filesForSession("s1").collect()
    assert(files.map(_.getAs[String]("file_id")).toSeq == Seq("f2", "f1")) // newest first

    val hist = m.chatHistory("s1").collect()
    assert(hist.map(_.getAs[String]("chat_id")).toSeq == Seq("c1", "c2")) // ascending
    assert(hist.map(_.getAs[String]("filename")).toSeq == Seq("sales.csv", "prod.json"))

    val sessions = m.sessionList().collect()
    assert(sessions.map(_.getAs[String]("session_id")).toSeq == Seq("s1", "s2")) // s1 more recent activity
    assert(sessions.head.getAs[Long]("n_chats") == 2L)
    assert(sessions.head.getAs[Long]("n_files") == 2L)
    assert(sessions(1).getAs[Long]("n_chats") == 0L)
  }

  private def log(dir: String) = java.nio.file.Paths.get(dir, "meta.jsonl")
  private def append(dir: String, text: String): Unit =
    Files.write(log(dir), text.getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
  private def sessionIds(m: MetaStore) =
    m.sessionList().collect().toSeq.map(_.getAs[String]("session_id"))

  test("metastore: the constructor creates its directory") {
    val dir = Files.createTempDirectory("meta").resolve("a/b").toString
    new MetaStore(spark, dir)
    assert(Files.isDirectory(java.nio.file.Paths.get(dir)))
  }

  test("metastore: a torn last line is dropped, and the next append starts a clean line") {
    val dir = Files.createTempDirectory("meta").toString
    val m = new MetaStore(spark, dir)
    m.createSession("s1", 1000L)
    m.createSession("s2", 2000L)
    append(dir, """{"t":"session","session_id":"s3","created_at":"30""")
    val reopened = new MetaStore(spark, dir)
    assert(sessionIds(reopened) == Seq("s2", "s1"))
    reopened.createSession("s4", 4000L)
    assert(sessionIds(new MetaStore(spark, dir)) == Seq("s4", "s2", "s1"))
  }

  test("metastore: any other unreadable line fails construction, naming file and line") {
    for (bad <- Seq("not json", """{"t":"chat","chat_id":"c1"}""", "",
        """{"t":"session","session_id":"s9","created_at":"soon"}""")) {
      val dir = Files.createTempDirectory("meta").toString
      new MetaStore(spark, dir).createSession("s1", 1000L)
      append(dir, bad + "\n" + """{"t":"session","session_id":"s2","created_at":"2000"}""" + "\n")
      val e = intercept[IllegalStateException](new MetaStore(spark, dir))
      assert(e.getMessage.startsWith(s"${log(dir)}:2:"), e.getMessage)
    }
  }

  test("metastore: a directory with the old parquet tables and no log fails by name") {
    import spark.implicits._
    val dir = Files.createTempDirectory("meta").toString
    Seq(("s1", new java.sql.Timestamp(1000L))).toDF("session_id", "created_at")
      .write.parquet(s"$dir/sessions.parquet")
    val e = intercept[IllegalArgumentException](new MetaStore(spark, dir))
    assert(e.getMessage.contains("old parquet metastore") && e.getMessage.contains(dir))
    assert(!Files.exists(log(dir)))
  }

  test("metastore: a new store on the same directory answers every query shape alike") {
    val dir = Files.createTempDirectory("meta").toString
    val m = new MetaStore(spark, dir)
    val t0 = 1700000000000L
    m.createSession("s1", t0)
    m.createSession("s2", t0 + 1000)
    m.createSession("s4", t0 + 1000) // s3 and s4 tie on last activity
    m.createSession("s3", t0 + 1000)
    m.addFile("f1", "s1", "sales.csv", "/tmp/sales.csv", """{"row_count":2}""", t0 + 2000)
    m.addFile("f0", "s1", "same_ms.csv", "/tmp/same_ms.csv", "{}", t0 + 2000)
    m.addFile("f2", "s2", "prod.json", "/tmp/prod.json", "{}", t0 + 3000)
    m.addChat("c2", "s1", "f1", "q2", "SELECT 2", "| 2 |", t0 + 4000)
    m.addChat("c1", "s1", "gone", "q1", "SELECT 1", "| 1 |", t0 + 4000) // no such file
    m.addChat("c3", "s2", "f2", "q3", "SELECT 3", "| 3 |", t0 + 5000)
    def shapes(s: MetaStore) = (Seq("f0", "f1", "f2", "nope").map(s.getFile),
      Seq("s1", "s2", "s3").map(id => s.filesForSession(id).collect().toSeq),
      Seq("s1", "s2", "s3").map(id => s.chatHistory(id).collect().toSeq),
      s.sessionList().collect().toSeq,
      Seq(s.filesForSession("s1"), s.chatHistory("s1"), s.sessionList()).map(_.schema))
    val first = shapes(m)
    assert(shapes(new MetaStore(spark, dir)) == first)
    // ordering and tie-breaks: files newest first then id; history by ts then chat id
    assert(first._2.head.map(_.getAs[String]("file_id")) == Seq("f0", "f1"))
    assert(first._3.head.map(_.getAs[String]("chat_id")) == Seq("c1", "c2"))
    assert(first._3.head.map(_.getAs[String]("filename")) == Seq(null, "sales.csv"))
    // sessions by last activity (last chat, else creation) then id
    assert(first._4.map(r => (r.getAs[String]("session_id"), r.getAs[Long]("n_chats"),
      r.getAs[Long]("n_files"), r.getAs[java.sql.Timestamp]("last_activity").getTime)) == Seq(
      ("s2", 1L, 1L, t0 + 5000), ("s1", 2L, 2L, t0 + 4000),
      ("s3", 0L, 0L, t0 + 1000), ("s4", 0L, 0L, t0 + 1000)))
  }

  test("metastore: a chat's text round-trips byte for byte, one log line per record") {
    val dir = Files.createTempDirectory("meta").toString
    val m = new MetaStore(spark, dir)
    val text = "line 1\nline 2\r\n\"quoted\" back\\slash\ttab 每个城市 \u0001 \\u0041 end"
    m.createSession("s1", 1000L)
    m.addFile("f1", "s1", "数据 \"1\".csv", "/tmp/x.csv", "{}", 2000L)
    m.addChat("c1", "s1", "f1", "Q " + text, "SELECT '" + text + "'", "| " + text + " |", 3000L)
    val row = new MetaStore(spark, dir).chatHistory("s1").collect().head
    assert(row.getAs[String]("question").getBytes("UTF-8").sameElements(("Q " + text).getBytes("UTF-8")))
    assert(row.getAs[String]("sql") == "SELECT '" + text + "'")
    assert(row.getAs[String]("result_md") == "| " + text + " |")
    assert(row.getAs[String]("filename") == "数据 \"1\".csv")
    assert(Files.readAllLines(log(dir)).size == 3)
  }

  test("workspace: whitelist, size cap, timestamped name, cleanup on failure") {
    val dir = Files.createTempDirectory("uploads").toString
    val csv = "a,b\n1,x\n2,y\n".getBytes("UTF-8")
    val p = Workspace.saveUpload(csv, "my data.csv", dir, 1700000000123L)
    assert(p.getFileName.toString == "1700000000123_my_data.csv")
    assert(Files.readAllBytes(p).sameElements(csv))

    intercept[IllegalArgumentException](
      Workspace.saveUpload(csv, "evil.exe", dir, 1L))
    intercept[IllegalArgumentException](
      Workspace.saveUpload(new Array[Byte](17 * 1024 * 1024), "big.csv", dir, 2L))

    // analysis failure deletes the stored upload (app.py:137–141 analog)
    val badJson = "42".getBytes("UTF-8")
    val ex = intercept[Exception](
      Workspace.uploadAndAnalyze(spark, badJson, "bad.json", dir, 3L))
    assert(!Files.exists(java.nio.file.Paths.get(dir, "3_bad.json")))

    // happy path stores the file and returns the frame and its profile
    val (path, _, info) = Workspace.uploadAndAnalyze(spark, csv, "ok.csv", dir, 4L)
    assert(Files.exists(path) && info.rowCount == 2 && info.columns == Seq("a", "b"))
  }

  test("workspace: same-name uploads in the same millisecond keep both contents") {
    val dir = Files.createTempDirectory("uploads").toString
    val contents = (1 to 3).map(i => s"a,b\n$i,x\n".getBytes("UTF-8"))
    val paths = contents.map(Workspace.saveUpload(_, "my data.csv", dir, 1700000000123L))
    assert(paths.map(_.getFileName.toString) == Seq("1700000000123_my_data.csv",
      "1700000000123_my_data-2.csv", "1700000000123_my_data-3.csv"))
    paths.zip(contents).foreach { case (p, c) => assert(Files.readAllBytes(p).sameElements(c)) }
    // the suffix goes before the whole extension, so `.csv.gz` still dispatches
    val gz = Seq(1, 2).map(_ => Workspace.saveUpload(contents.head, "d.csv.gz", dir, 5L))
    assert(gz.map(_.getFileName.toString) == Seq("5_d.csv.gz", "5_d-2.csv.gz"))
  }

  test("workspace: path traversal neutralized") {
    assert(!Workspace.secureName("../../etc/passwd").contains("/"))
    assert(Workspace.secureName("../../x.csv") == "x.csv")
  }
}

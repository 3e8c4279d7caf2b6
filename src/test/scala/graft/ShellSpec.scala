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

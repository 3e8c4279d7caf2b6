package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption => O}
import java.sql.Timestamp
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Session/file/chat metadata store (SURVEY.md §2 Tier A15 + C), the analog of
  * the reference's embedded SQLite file (database.py:7–269): one append-only
  * log, `<dir>/meta.jsonl`, one [[Json.obj]] a line, `"t"` naming the table,
  * string values, timestamps in epoch ms. The constructor replays it into
  * driver-local maps, which then hold the log as of then plus this store's
  * own writes. A torn last line (no newline) is dropped and cut off the file;
  * any other undecodable line, or old parquet tables and no log, fail
  * construction. No Spark: as parquet, each chat was a write job and each
  * history read a join. Reads return local relations: collect runs no job.
  */
class MetaStore(spark: SparkSession, dir: String) {
  private val log = Paths.get(dir, "meta.jsonl")
  private val sessions = ArrayBuffer.empty[Row]
  private val files = LinkedHashMap.empty[String, Row] // by file id
  private val bySession = LinkedHashMap.empty[(String, String), ArrayBuffer[Row]] // (table, id)
  private def schema(cols: String) = StructType.fromDDL( // untyped columns are strings
    cols.split(", ").map(c => if (c.contains(' ')) c else s"$c STRING").mkString(", "))
  private val tables = Map("session" -> schema("session_id, created_at TIMESTAMP"),
    "file" -> schema("file_id, session_id, filename, filepath, data_info, created_at TIMESTAMP"),
    "chat" -> schema("chat_id, session_id, file_id, question, sql, result_md, ts TIMESTAMP"))
  private val history = schema("chat_id, question, sql, result_md, filename, ts TIMESTAMP")
  private val sessionRows = schema("session_id, created_at TIMESTAMP, " +
    "n_chats BIGINT NOT NULL, n_files BIGINT NOT NULL, last_activity TIMESTAMP")

  Files.createDirectories(log.getParent)
  if (Files.exists(log)) {
    val bytes = Files.readAllBytes(log)
    val end = bytes.lastIndexOf('\n'.toByte) + 1
    if (end < bytes.length) Using.resource(Files.newByteChannel(log, O.WRITE))(_.truncate(end))
    for ((line, i) <- new String(bytes, 0, end, UTF_8).split("\n", -1).dropRight(1).zipWithIndex)
      if (!replay(line)) throw new IllegalStateException(s"$log:${i + 1}: not a metastore record")
  } else require(Seq("sessions", "files", "chats").forall(t =>
      Files.notExists(Paths.get(dir, s"$t.parquet"))),
    s"$dir holds the old parquet metastore tables and no meta.jsonl; they are not migrated")

  /** Adds the record on `line` to the maps; false if it is not one. */
  private def replay(line: String): Boolean = (for {
    t <- Json.getString(line, "t"); s <- tables.get(t)
    vs = s.fields.map(f => Json.getString(line, f.name).flatMap(v =>
      if (f.dataType == TimestampType) v.toLongOption.map(new Timestamp(_)) else Some(v)))
    if vs.forall(_.isDefined); r = new GenericRowWithSchema(vs.map(_.get), s)
  } yield {
    if (t == "session") sessions += r
    else bySession.getOrElseUpdate((t, r.getString(1)), ArrayBuffer.empty) += r
    if (t == "file") files(r.getString(0)) = r
  }).isDefined

  /** Appends one record (`now` values are epoch ms) and replays its line,
    * holding the store's lock, as web requests write concurrently. */
  private def add(t: String, values: Any*): Unit = synchronized {
    val line = Json.obj(("t" -> Json.str(t)) +:
      tables(t).fieldNames.toSeq.zip(values.map(v => Json.str(v.toString))): _*)
    Files.write(log, (line + "\n").getBytes(UTF_8), O.CREATE, O.APPEND)
    replay(line)
  }

  def createSession(sessionId: String, now: Long): Unit = add("session", sessionId, now)

  def addFile(fileId: String, sessionId: String, filename: String,
      filepath: String, dataInfoJson: String, now: Long): Unit =
    add("file", fileId, sessionId, filename, filepath, dataInfoJson, now)

  def addChat(chatId: String, sessionId: String, fileId: String,
      question: String, sql: String, resultMd: String, now: Long): Unit =
    add("chat", chatId, sessionId, fileId, question, sql, resultMd, now)

  def getFile(fileId: String): Option[Row] = synchronized(files.get(fileId))

  /** Files of a session, newest first (database.py:107–112 analog). */
  def filesForSession(sessionId: String): DataFrame = frame(tables("file"),
    synchronized(rows("file", sessionId)).sortBy(r => (-ms(r, 5), r.getString(0))))

  /** Chats LEFT JOIN files, oldest first (database.py:189–195 analog). */
  def chatHistory(sessionId: String): DataFrame = frame(history, synchronized(
    rows("chat", sessionId).map(c => Row(c(0), c(3), c(4), c(5),
      files.get(c.getString(2)).map(_.getString(2)).orNull, c(6))))
    .sortBy(r => (ms(r, 5), r.getString(0))))

  /** Sessions with counts and last activity, latest first (database.py:217–232 analog). */
  def sessionList(): DataFrame = frame(sessionRows, synchronized(sessions.toSeq.map { s =>
    val cs = rows("chat", s.getString(0))
    Row(s(0), s(1), cs.size.toLong, rows("file", s.getString(0)).size.toLong,
      if (cs.isEmpty) s(1) else cs.maxBy(ms(_, 6)).get(6))
  }).sortBy(r => (-ms(r, 4), r.getString(0))))

  private def rows(t: String, sessionId: String) = bySession.getOrElse((t, sessionId), Nil).toSeq
  private def ms(r: Row, i: Int) = r.getAs[Timestamp](i).getTime
  private def frame(schema: StructType, rows: Seq[Row]) = spark.createDataFrame(rows.asJava, schema)
}

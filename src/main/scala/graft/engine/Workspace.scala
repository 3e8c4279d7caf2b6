package graft.engine

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Upload workspace (SURVEY.md §2 Tier A14;
  * /root/reference/app.py:113–168 analog): validate extension against
  * the ingest whitelist, enforce the 16 MB cap, store under a
  * timestamped unique name, delete on downstream failure.
  */
object Workspace {
  val MaxUploadBytes: Long = 16L * 1024 * 1024 // app.py:20 analog

  /** Sanitized filename (secure_filename analog): strip path components
    * and anything outside [A-Za-z0-9._-]. */
  def secureName(name: String): String = {
    val base = Paths.get(name).getFileName.toString
    val cleaned = base.replaceAll("[^A-Za-z0-9._一-鿿-]", "_")
    if (cleaned.isEmpty || cleaned.startsWith(".")) s"upload$cleaned" else cleaned
  }

  /** Save uploaded bytes under `${now}_${name}`; returns the stored path.
    * A stored upload is never overwritten: the write is CREATE_NEW, and
    * a name already taken (same name, same millisecond) gets a `-k`
    * suffix before its extension. The web tier keys each upload's
    * analysis by file id and never re-reads its schema, so two uploads
    * must never share a path.
    * Throws IllegalArgumentException on bad extension / size. */
  def saveUpload(bytes: Array[Byte], originalName: String, uploadDir: String,
      now: Long): Path = {
    val ext = Ingest.extension(originalName)
    require(Ingest.SupportedExtensions.contains(ext),
      s"Unsupported file type: .$ext")
    require(bytes.length <= MaxUploadBytes,
      s"File too large: ${bytes.length} bytes (max $MaxUploadBytes)")
    Files.createDirectories(Paths.get(uploadDir))
    val name = s"${now}_${secureName(originalName)}"
    // `<ms>_d.csv.gz` → stem `<ms>_d`, suffix `.csv.gz`: the suffix
    // keeps the extension Ingest dispatches on
    val dot = name.indexOf('.')
    val (stem, suffix) = if (dot < 0) (name, "") else name.splitAt(dot)
    def write(k: Int): Path = {
      val target = Paths.get(uploadDir, if (k == 1) name else s"$stem-$k$suffix")
      try Files.write(target, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      catch { case _: FileAlreadyExistsException => write(k + 1) }
    }
    write(1)
  }

  /** Save + analyze: the stored path, the ingested frame and its
    * profile. The upload is deleted if analysis fails (app.py:137–141
    * cleanup analog). No view is registered: the web tier serves
    * concurrent sessions off one SparkSession, so queries always target
    * per-request views (WebServer ask_question), never shared state. */
  def uploadAndAnalyze(spark: SparkSession, bytes: Array[Byte],
      originalName: String, uploadDir: String, now: Long): (Path, DataFrame, DataInfo) = {
    val path = saveUpload(bytes, originalName, uploadDir, now)
    try {
      val (df, info) = Catalog.analyzeFile(spark, path.toString)
      (path, df, info)
    } catch { case e: Throwable => Files.deleteIfExists(path); throw e }
  }
}

package perfbench

import graft.engine.{Json, Session}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark process: one workload, one run.
  *
  * {{{
  * java -cp <classpath> perfbench.Harness --workload <web_session|ops_mix>
  *   --data <dir> --work <dir> --out <file> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * `--data` holds the generated inputs (`tables/` and `uploads/`), `--work`
  * is an empty scratch directory for workspaces and metastores. The run
  * writes one JSON object to `--out`: end-to-end figures, per-layer
  * figures (traced runs only), the operation counts and the raw answers
  * that run.py checks against DuckDB. The process always ends through
  * `System.exit`, because `WebServer.stop()` leaves a non-daemon request
  * pool behind that would otherwise keep the JVM alive.
  */
object Harness {
  /** `seconds` sizes the timed phase: the request and query counts
    * scale with it, so a given value always means the same work. */
  final case class Args(workload: String, data: String, work: String, out: String,
      seed: Long, seconds: Int, trace: Boolean)

  /** What a workload hands back to [[main]]. */
  final class Result {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    /** Extra JSON fields (already encoded), e.g. answers to check. */
    val extra = mutable.LinkedHashMap.empty[String, String]
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("data"), kv("work"), kv("out"),
      kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "16").toInt,
      kv.getOrElse("trace", "0") == "1")
    val code =
      try {
        val loadStart = loadavg()
        val r = a.workload match {
          case "web_session" => WebSession.run(a)
          case "ops_mix"     => OpsSuite.run(a)
          case other         => throw new IllegalArgumentException(s"unknown workload $other")
        }
        write(a.out, r, loadStart)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 5

  /** Sets up a session `times` times and keeps the last one; the first
    * setups are stopped again. Returns the session and the median time. */
  def setUp[T](times: Int)(extra: SparkSession => T)(tearDown: T => Unit)
      : (SparkSession, T, Double) = {
    val secs = mutable.ArrayBuffer.empty[Double]
    var last: (SparkSession, T) = null
    for (i <- 1 to times) {
      val t0 = System.nanoTime()
      val spark = Session.local("perfbench")
      val x = extra(spark)
      secs += (System.nanoTime() - t0) / 1e9
      if (i < times) { tearDown(x); spark.stop() }
      else last = (spark, x)
    }
    (last._1, last._2, median(secs.toSeq))
  }

  /** JVM heap still reachable after full collections, in MB. A collection
    * lets Spark's ContextCleaner find broadcasts and shuffles nobody holds,
    * but the cleaner drops their blocks on its own thread afterwards, so
    * this collects again until the figure stops falling (tens of MB at
    * once on the web path). */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = { System.gc(); (rt.totalMemory() - rt.freeMemory()) / 1048576.0 }
    var prev = used()
    var cur = prev
    var rounds = 0
    while ({ Thread.sleep(300); cur = used(); rounds += 1; prev - cur > 0.5 && rounds < 10 })
      prev = cur
    cur
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time so far of every live Java thread, in ns by thread id. The
    * request, Spark task, scheduler and listener threads are Java threads;
    * the JIT compiler and GC threads are not, so their work, which varies
    * with how far the JIT has got, is left out. The kernel does not charge
    * a thread for time its virtual CPU was taken away (steal), nor for
    * time it waited for a CPU, so unlike wall time this does not grow
    * when other work takes turns on the same CPUs. It still grows when
    * a neighbour slows the CPU itself (shared core, cache, memory bus). */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** Java-thread CPU ms used since `start` (threads born since count from 0). */
  def cpuMsSince(start: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, t) => t - start.getOrElse(id, 0L) }.sum / 1e6

  private val born = System.nanoTime()

  /** Progress line on stderr (the run log), seconds since JVM start. */
  def mark(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - born) / 1e9}%.2f s $what")

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Throwable => "" }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def write(path: String, r: Result, loadStart: String): Unit = {
    def nums(m: mutable.LinkedHashMap[String, Double]) =
      Json.obj(m.toSeq.map { case (k, v) => k -> num(v) }: _*)
    val json = Json.obj((Seq(
      "e2e" -> nums(r.e2e),
      "layers" -> nums(r.layers),
      "attempted" -> r.attempted.toString,
      "errors" -> Json.arr(r.errors.toSeq.map(Json.str)),
      "loadavg_start" -> Json.str(loadStart),
      "loadavg_end" -> Json.str(loadavg())) ++ r.extra.toSeq): _*)
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }
}

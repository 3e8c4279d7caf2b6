package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

/** Harness-owned tracing. Spans are wall-clock intervals around the
  * harness's own calls into the engine; each span also sets a Spark job
  * group named after itself on the calling thread (the innermost span
  * wins, and the outer group comes back when it ends), so the listener
  * below can attribute every job, stage and task to the span that caused
  * it, even with several client threads running at once. Jobs started by
  * threads the harness does not own, such as the web server's, fall in
  * the group "none".
  * Everything stays in memory until the run ends. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val listener = new LayerListener

  sc.addSparkListener(listener)
  spark.listenerManager.register(listener.queries)

  /** Takes both listeners off the bus once they have seen every event so
    * far; the figures gathered stay readable. */
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener.queries)
  }

  def span[T](name: String)(body: => T): T = {
    val outer = sc.getLocalProperty(LayerListener.GroupKey)
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      record(name, (System.nanoTime() - t0) / 1e6)
      if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, outer)
    }
  }

  private def record(name: String, ms: Double): Unit =
    spans.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(ms)

  def durations(name: String): Seq[Double] =
    Option(spans.get(name)).map(_.asScala.toSeq).getOrElse(Seq.empty)

  /** Waits until the listener has seen every event posted so far: a tiny
    * job in its own group goes through the same FIFO listener queue, so
    * once its end arrives, everything before it has arrived too. */
  def drain(): Unit = {
    val before = listener.of("drain").jobsEnded.get()
    sc.setJobGroup("drain", "drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10_000_000_000L
    while (listener.of("drain").jobsEnded.get() <= before && System.nanoTime() < deadline)
      Thread.sleep(2)
  }
}

/** Totals per job group. `ingestJobs` counts the jobs started from
  * inside `Ingest.load`, known by the call site Spark records for them. */
final class GroupTotals {
  val jobs, jobsEnded, ingestJobs, stages, tasks, taskTimeMs, shuffleRead, shuffleWrite, spill,
    gcMs = new AtomicLong
}

object LayerListener {
  val GroupKey = "spark.jobGroup.id"
  /** A frame of `Ingest.load` in a stage's call site (`StageInfo.details`). */
  val IngestFrame = "graft.engine.Ingest$.load("
}

/** One [[SparkListener]] for jobs, stages and tasks, totalled per job
  * group, plus one [[QueryExecutionListener]] for Catalyst's phases. */
final class LayerListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()

  def of(group: String): GroupTotals = groups.computeIfAbsent(group, _ => new GroupTotals)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(LayerListener.GroupKey))).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobGroup.put(e.jobId, g)
    of(g).jobs.incrementAndGet()
    if (e.stageInfos.exists(s => Option(s.details).exists(_.contains(LayerListener.IngestFrame))))
      of(g).ingestJobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    of(jobGroup.getOrDefault(e.jobId, "none")).jobsEnded.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    of(g).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = of(stageGroup.getOrDefault(e.stageId, "none"))
    t.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      t.taskTimeMs.addAndGet(m.executorRunTime)
      t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.spill.addAndGet(m.diskBytesSpilled)
      t.gcMs.addAndGet(m.jvmGCTime)
    }
  }

  /** Catalyst phase times of every query execution that completes while
    * the listener is attached. They are not split by job group: the
    * execution-end event that carries a [[QueryExecution]] does not carry
    * the group, so the sums are meaningful on a single stream only. */
  val analysisMs, optimizationMs, planningMs = new DoubleAdder

  val queries: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, t) =>
        val ms = (t.endTimeMs - t.startTimeMs).toDouble
        phase match {
          case "analysis"     => analysisMs.add(ms)
          case "optimization" => optimizationMs.add(ms)
          case "planning"     => planningMs.add(ms)
          case _              =>
        }
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

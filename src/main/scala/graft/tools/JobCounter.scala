package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Counts the Spark jobs a block starts and the stages they complete,
  * exactly, with no sleeps: [[drain]] runs a one-task marker job in its
  * own job group and waits until the listener sees that job end. The
  * listener bus delivers in order, so by then every event posted before
  * it has been counted. Marker jobs and their stages are not counted.
  * Jobs from other threads running at the same time are, so measure one
  * block at a time. Remove it with [[close]]. */
final class JobCounter(sc: SparkContext) extends SparkListener with AutoCloseable {
  private val MarkerGroup = "graft-jobcounter-drain"
  private val jobs, stages, markersEnded = new AtomicInteger
  private val markerJobs, markerStages =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == MarkerGroup)) {
      markerJobs.add(e.jobId)
      e.stageIds.foreach(markerStages.add)
    } else jobs.incrementAndGet()

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.contains(e.jobId)) markersEnded.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!markerStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()

  /** Returns once every listener event posted before the call has arrived. */
  def drain(): Unit = {
    val before = markersEnded.get
    sc.setJobGroup(MarkerGroup, MarkerGroup)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30_000_000_000L
    while (markersEnded.get <= before && System.nanoTime() < deadline) Thread.sleep(2)
    require(markersEnded.get > before, "listener bus did not drain within 30 s")
  }

  /** `body`'s result and the (jobs, stages) it started. */
  def count[T](body: => T): (T, Int, Int) = {
    drain()
    val (j0, s0) = (jobs.get, stages.get)
    val r = body
    drain()
    (r, jobs.get - j0, stages.get - s0)
  }

  def close(): Unit = sc.removeSparkListener(this)
}

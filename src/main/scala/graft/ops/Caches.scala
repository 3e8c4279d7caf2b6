package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** THE single convention for intra-query `cache()` frames (round-19
  * ADVICE item): operators that materialize a small intermediate (the
  * bucket/histogram tables in [[Quantiles]], TextOps' length histogram)
  * register it here instead of calling `.cache()` directly, and every
  * long-lived harness (Verify between queries, Bench between suite
  * runs, Timeit between queries) calls [[release]] so repeated
  * invocations in one session cannot accumulate cached relations.
  * Short-lived sessions need no call — executor storage dies with the
  * session. `unpersist(blocking = false)` is safe mid-flight: Spark
  * recomputes an unpersisted frame from lineage, so a release racing a
  * concurrent reader costs time, never correctness (which is why Bench
  * releases between SUITE runs, not between the 12 concurrent
  * streams' queries).
  */
object Caches {
  private val reg = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** cache + register for the next [[release]]. Returns the same frame.
    * Honors the `graft.no.cache` kill-switch (round-20 ADVICE):
    * PlanAudit/ExplainDump set it to pin cache-free plan shapes, and a
    * `Caches.cached` site must not embed an InMemoryRelation in the
    * audited plan (mirrors [[Tables]]' handling of the same flag). */
  def cached(df: DataFrame): DataFrame =
    if (sys.props.contains("graft.no.cache")) df
    else { df.cache(); reg.add(df); df }

  /** `df.cache()` unless the CacheManager already holds `df`'s plan, where
    * `cache()` would only log "Asked to cache already cached data". For
    * frames kept for the session, not registered for [[release]]: the
    * [[Tables]] loads and [[Dedup]]'s shingle, posting and pair caches. */
  def cacheOnce[T](df: Dataset[T]): Dataset[T] =
    if (df.storageLevel == StorageLevel.NONE) df.cache() else df

  /** Unpersist every frame registered since the last release. */
  def release(): Unit = {
    var df = reg.poll()
    while (df != null) {
      try df.unpersist(blocking = false) catch { case _: Throwable => () }
      df = reg.poll()
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry of frames persisted inside query builders —
  * the documented cleanup handle for the library's cache lifecycle.
  *
  * Several operators persist an intermediate (a signature table, a
  * posting list, a capped-df shingle frame) because it feeds two or
  * three consumers in the same plan and because the cache is the one
  * optimizer barrier that keeps a computed-column filter from being
  * pushed below the compute repartition. Those frames are invisible to
  * the caller — the returned DataFrame gives them nothing to
  * unpersist — so without a handle every invocation would leak one
  * cache entry for the life of the session. `localCheckpoint` is NOT
  * the fix for these: the frames scale with the corpus, and
  * checkpointing materializes at replication 1 with lineage truncated
  * (PlanSpec's site audit enforces that only corpus-independent frames
  * may checkpoint). Keeping `persist` keeps the recompute path; this
  * registry restores the release path.
  *
  * Contract: call [[release]] once the results of a query have been
  * materialized (collected / written). Verify and Bench do exactly
  * that between queries; a long-lived library session does the same at
  * its own batch boundaries. Releasing is always safe — a released
  * frame recomputes from lineage if some plan still needs it.
  * CacheSpec proves release() leaves the session's cache manager empty
  * after every persisting operator runs.
  */
object Pins {

  // Weak session keys: a stopped/dropped session's entry becomes
  // collectable once its queue is drained (the queued DataFrames hold
  // the session strongly, so an UNreleased queue pins the key — by
  // design: those cache entries still need a release call). The queue
  // itself lives for the session's lifetime and is never removed from
  // the map by release(), so a builder racing release() can never add
  // to an orphaned queue — its frame lands in the live queue and the
  // next release drains it.
  private val pinned = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Queue[DataFrame]]())

  /** Persist `df` (MEMORY_AND_DISK) and register it; returns it.
    * Thread-safe (bulkImportAll runs builders concurrently).
    */
  private[graft] def pin(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinned
      .computeIfAbsent(df.sparkSession,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]())
      .add(df)
    df
  }

  /** Unpersist every frame pinned under `spark` (non-blocking).
    * Drains with poll() on the LIVE queue — concurrent pins during the
    * drain are either unpersisted here or stay queued for the next
    * release; none are orphaned.
    */
  def release(spark: SparkSession): Unit = {
    val q = pinned.get(spark)
    if (q != null) {
      var df = q.poll()
      while (df != null) { df.unpersist(blocking = false); df = q.poll() }
    }
  }
}

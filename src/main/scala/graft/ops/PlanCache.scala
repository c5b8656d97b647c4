package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Small LRU of persisted frames keyed by (session, canonicalized
  * analyzed plan) — the memo behind operators that are called
  * repeatedly over the same input frame ([[graft.queries.Dedup]]'s
  * signature frame, [[graft.queries.Curation]]'s survivor stage).
  *
  * Why not a bare `.persist()` at each call site: every call would pin
  * a NEW cache entry for an identical plan (Spark dedupes nothing
  * across Dataset instances), leaking block storage for the session's
  * lifetime. Keying on the canonicalized plan makes repeat calls over
  * the same corpus share one entry; the LRU bound keeps alternating
  * workloads (two corpora interleaved) from thrashing; entries whose
  * SparkSession has stopped are dropped eagerly so no dead-session
  * plan is pinned for JVM lifetime.
  */
final class PlanCache(capacity: Int) {

  private type Key = (SparkSession, LogicalPlan)
  private[this] val entries =
    scala.collection.mutable.LinkedHashMap.empty[Key, DataFrame]
  PlanCache.register(this)

  /** Unpersist and forget every memo (all sessions) — see
    * [[PlanCache.clearAll]] / [[Release.sweep]]. */
  def clear(): Unit = synchronized {
    entries.valuesIterator.foreach(_.unpersist(blocking = false))
    entries.clear()
  }

  /** Staleness note: the memo key is the canonicalized ANALYZED plan,
    * so rewriting the files behind the same path within one session
    * serves the pre-rewrite corpus. Fine for immutable inputs (the
    * benchmark parquet, any append-only lake layout); after an
    * in-place rewrite call [[clear]] (or [[Release.sweep]]). */
  /** The persisted memo of `df` (MEMORY_AND_DISK), creating and caching
    * it on first sight of the plan. */
  def memo(df: DataFrame): DataFrame = memo(df, eager = false)

  /** As [[memo]], but with `eager = true` the persisted blocks are
    * materialized (one count job) before the frame is handed back on
    * first sight of the plan. A lazy persist only helps the SECOND
    * action over the memo: when the FIRST action fans the frame into
    * concurrent plan branches (Spark builds sibling broadcast sides in
    * parallel), every branch starts before any block has landed and
    * each recomputes the full frame — the memo saves nothing on the
    * very call that motivated it. Eager mode pays the frame once, up
    * front, inside the caller's timed region. Only meaningful for
    * batch frames (count() on a streaming frame throws).
    *
    * The count runs OUTSIDE the cache-wide lock: persist and insert
    * happen under it, so a caller memoizing an unrelated plan never
    * waits on another thread's materializing job. A thread that hits
    * a plan whose count is still running gets the persisted frame at
    * once; its first action lands or reuses the same blocks, so the
    * race is idempotent. Under contention the eager promise is
    * weaker: such a hit may come back before the blocks have landed,
    * and another thread's LRU eviction or [[Release.sweep]] may
    * unpersist the frame during the count, so an eager memo can
    * return unmaterialized or evicted (its actions then recompute). */
  def memo(df: DataFrame, eager: Boolean): DataFrame = {
    val key = (df.sparkSession, df.queryExecution.analyzed.canonicalized)
    val (f, fresh) = synchronized {
      entries.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
      entries.remove(key) match {
        case Some(f) =>
          // re-persist a memo something unpersisted out-of-band (e.g. a
          // released PqIndex): a hit must always hand back a frame that
          // honors the memo contract, not silently recompute forever
          val dropped = f.storageLevel == StorageLevel.NONE
          if (dropped) f.persist(StorageLevel.MEMORY_AND_DISK)
          entries.put(key, f) // re-insert at LRU tail
          (f, dropped)
        case None =>
          while (entries.size >= capacity) {
            val oldest = entries.head._1
            entries.remove(oldest).foreach(_.unpersist(blocking = false))
          }
          val f = df.persist(StorageLevel.MEMORY_AND_DISK)
          entries.put(key, f)
          (f, true)
      }
    }
    if (eager && fresh) f.count()
    f
  }
}

object PlanCache {
  // Every instance is a static singleton on a query object; the
  // registry lets Release.sweep drop all memos without each call site
  // knowing which caches exist.
  private[this] val instances =
    new java.util.concurrent.ConcurrentLinkedQueue[PlanCache]()
  private[ops] def register(pc: PlanCache): Unit = instances.add(pc)

  /** Drop (and unpersist) every memo in every [[PlanCache]]. */
  def clearAll(): Unit = instances.forEach(_.clear())
}

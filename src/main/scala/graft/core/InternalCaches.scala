package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for OPERATOR-INTERNAL Dataset persists — the round-9 answer
  * to the cache-lifecycle gap a review flagged on `duplicatePassages`
  * and that actually applies to every operator here that persists a
  * shared intermediate (similarity-join shingle tables, graph edge
  * lists, OCR pass frames): `Dataset.persist` registers the plan in the
  * session's CacheManager, which holds a strong reference until
  * `unpersist()`/`clearCache()` — the ContextCleaner reclaim that works
  * for raw RDD caching does NOT apply, so an operator that persists and
  * returns lazily has no correct place to unpersist, and a long-lived
  * session (test suite, notebook, repeated deliveries) accumulates one
  * cached plan per call.
  *
  * The registry makes the leak releasable with bounded collateral:
  * operators persist through [[persistTracked]] under a SCOPE (their
  * operator family — "dedup", "graphs", …), and a long-lived caller
  * drops graft-internal caches with [[release]] — all scopes, or just
  * one. Unlike `spark.catalog.clearCache()`, the caller's OWN cached
  * tables always survive; with a scope argument, so do the internal
  * caches of every OTHER operator family — two pipelines sharing a
  * session can each release "their" families between runs without
  * evicting the other's working set (a no-scope `release()` is still
  * session-global across graft internals: correct results either way,
  * the evicted side merely recomputes). One-shot jobs (the driver's
  * Verify/Bench pattern, any spark-submit batch) never need to call
  * it: caches die with the session.
  *
  * Entries hold strong references until released or until their session
  * stops ([[release]] prunes dead-session entries); each entry is a few
  * object references — the CacheManager already holds the heavyweight
  * plan, so tracking adds no meaningful footprint. Thread-safe via a
  * concurrent queue; double-release and releasing an already-unpersisted
  * frame are no-ops (`unpersist` is idempotent).
  */
object InternalCaches {

  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, DataFrame)]()

  /** Scope used when an operator doesn't name its family. */
  val DefaultScope = "graft"

  /** `df.persist(level)`, registered for [[release]] under `scope`
    * (the operator family: "dedup", "graphs", "linkage", …). */
  def persistTracked(df: DataFrame,
                     level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                     scope: String = DefaultScope): DataFrame = {
    val p = df.persist(level)
    tracked.add((scope, p))
    p
  }

  /** Unpersist tracked internal caches (non-blocking) and drop them from
    * the registry — every scope when `scope` is None, else only entries
    * registered under that scope (other families' caches stay resident).
    * Safe at any time: a pipeline still holding a released frame
    * recomputes it lazily — results never change, only the cache does.
    * Call between pipelines in long-lived sessions. */
  def release(scope: Option[String]): Unit = {
    val keep = new java.util.ArrayList[(String, DataFrame)]()
    var e = tracked.poll()
    while (e != null) {
      if (scope.forall(_ == e._1)) {
        try if (!e._2.sparkSession.sparkContext.isStopped) e._2.unpersist(false)
        catch { case _: Exception => () } // session torn down mid-release
      } else keep.add(e)
      e = tracked.poll()
    }
    tracked.addAll(keep)
  }

  /** Release everything (what `DriverSession.drain` runs after each
    * driver query). */
  def release(): Unit = release(None)

  /** Release one operator family's internal caches only. */
  def release(scope: String): Unit = release(Some(scope))

  /** Number of currently tracked (not yet released) internal caches —
    * observability for the leak this registry exists to close. */
  def trackedCount: Int = tracked.size()

  /** Tracked count within one scope. */
  def trackedCount(scope: String): Int = {
    val it = tracked.iterator()
    var n = 0
    while (it.hasNext) if (it.next()._1 == scope) n += 1
    n
  }
}

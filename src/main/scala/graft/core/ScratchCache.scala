package graft.core

import org.apache.spark.sql.DataFrame

/** Tracks scratch `persist()`ed frames so long-lived sessions (Bench /
  * Verify run the whole catalog in ONE session) can release them after
  * each query's action instead of leaking them into the CacheManager
  * until LRU eviction.
  *
  * Catalog query builders return UNEXECUTED frames, so they cannot
  * unpersist at build time (the cache would be gone before the action
  * runs) — instead they register the frame here, and
  * [[Preflight.bounded]], which every runner runs its queries through,
  * calls [[drain]] once the query's work ends. At 100 TB the same
  * discipline applies: a pipeline that leaks its checkpoint cache
  * re-reads it from disk after eviction.
  *
  * The registry is process-global and assumes ONE runner executes
  * catalog queries at a time (true for Bench/Verify/Explain and the
  * sequential test suites, which drain via SparkTestBase.afterAll): a
  * concurrent runner calling drain() would unpersist frames another
  * query is still reading — harmless for correctness (Spark
  * recomputes) but it forfeits that query's cache.
  */
object ScratchCache {

  private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` and register it for the next [[drain]]. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist()
    frames.add(p)
    p
  }

  /** Unpersist (non-blocking) every registered frame. Safe to call when
    * nothing is registered; safe after the session stopped. */
  def drain(): Unit = {
    var df = frames.poll()
    while (df != null) {
      try df.unpersist(blocking = false) catch { case _: Throwable => () }
      df = frames.poll()
    }
  }
}

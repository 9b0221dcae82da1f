package graft

import org.apache.spark.sql.Dataset

/** Unpersist path for the frames graft operators `.persist()` on the
  * caller's behalf (dedup / similarity self-join inputs, survivor
  * label fixpoints).
  *
  * Those persists are load-bearing — a self-join re-evaluates a
  * shuffle-bearing subtree once per side without them — but they used
  * to live for the whole session, pushing `spark.catalog.clearCache()`
  * onto long-lived callers. Operators now register every frame they
  * persist here, so callers have two scoped options:
  *
  *  - [[withCached]] — wrap a unit of work that ends in a terminal
  *    action (a write, a collect, a count); frames persisted inside
  *    the block are unpersisted on the way out.
  *  - [[releaseAll]] — batch hygiene between pipeline runs.
  *
  * Unpersisting is always safe for correctness (a later action simply
  * recomputes), so releasing "too early" can cost time but never
  * results. Registry is session-global and synchronized; concurrent
  * pipelines sharing one JVM should prefer [[releaseAll]] at quiesce
  * points over interleaved [[withCached]] scopes.
  */
object CacheScope {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  /** Persist `ds` (default storage level) and register it for release. */
  private[graft] def track[T](ds: Dataset[T]): Dataset[T] = synchronized {
    tracked += ds.persist()
    ds
  }

  /** Register a frame the caller already persisted (no re-persist —
    * avoids Spark's "already cached" warning). */
  private[graft] def trackExisting[T](ds: Dataset[T]): Dataset[T] = synchronized {
    tracked += ds
    ds
  }

  /** Unpersist every tracked frame AND drop memoized codebook fits —
    * [[CodebookCache]]'s benchmark-honesty contract rides this hook
    * (every measured Bench and Measure run calls this, so recorded
    * numbers never hide a fit behind a warm memo).
    * @return frames released */
  def releaseAll(blocking: Boolean = false): Int = {
    val n = releaseFrames(blocking)
    CodebookCache.clear()
    n
  }

  /** Unpersist every tracked frame but KEEP the codebook memo — the
    * per-query hygiene for sessions whose whole point is cross-query
    * fit reuse ([[Verify]]'s gate dump): dropping frames bounds driver
    * memory (the registry would otherwise hold strong refs to every
    * persisted Dataset and its analyzed plan across ~160 queries)
    * while the session-scoped fits stay amortized.
    * @return frames released */
  def releaseFrames(blocking: Boolean = false): Int = synchronized {
    val n = tracked.size
    tracked.foreach(_.unpersist(blocking))
    tracked.clear()
    n
  }

  /** Run `body`, then unpersist exactly the frames graft operators
    * persisted during it. Sound only when `body` runs a terminal
    * action on every frame it cares about — a lazy DataFrame escaping
    * the block recomputes (correct, just uncached) when acted on. */
  def withCached[A](body: => A): A = {
    val mark = synchronized(tracked.size)
    try body
    finally synchronized {
      var i = tracked.size - 1
      while (i >= mark) {
        tracked(i).unpersist()
        tracked.remove(i)
        i -= 1
      }
    }
  }
}

package graft

import graft.operators.Similarity.Codebook

/** Session-scoped memo for fitted IVF codebooks — the gate/session
  * deployment of [[graft.operators.Similarity.fitIvfCodebook]]'s
  * amortization handle: the bounded digest-sample Lloyd fit is the ANN
  * family's one driver-side constant, and a session running several
  * operators over ONE corpus (IVF top-k + kNN graph + clustering +
  * IVF-PQ, or a bitext pass in both directions) should pay it once,
  * not once per operator. [[Verify]]'s gate dump is exactly such a
  * session: the shared-corpus ANN queries route their fits through
  * here, so one Verify run fits each (corpus, nlist, seed) once.
  *
  * The KEY is a caller-supplied identity string and MUST encode
  * everything that determines the fit — data directory, corpus slice,
  * nlist, seed. The fit itself is deterministic from those (the
  * seeded-digest sample + fixed-iteration Lloyd), so a hit is
  * bit-identical to a re-fit; a WRONG key (same string, different
  * corpus) is the one way to corrupt results, which is why keys here
  * are built from the gate's (dir, slice, params) and nothing else.
  *
  * Benchmark honesty: [[CacheScope.releaseAll]] clears this cache too,
  * so every protocol that releases scoped persists per measured run
  * ([[Bench]], `graft.tools.Measure`) re-pays the fit per
  * run — a recorded number never hides the driver constant behind a
  * warm memo. Driver footprint per entry is the handle's own bound
  * (nlist·dim centers + the ≤100k-row fit sample), cleared on release.
  */
object CodebookCache {
  private val cache = scala.collection.mutable.Map.empty[String, Codebook]
  private var hitCount = 0L

  /** The codebook under `key`, fitting (and caching) on miss. The fit
    * runs outside the lock — two racing misses on one key both fit and
    * agree (deterministic), last write wins. */
  def getOrFit(key: String)(fit: => Codebook): Codebook = {
    val cached = synchronized(cache.get(key))
    cached match {
      case Some(cb) =>
        synchronized { hitCount += 1 }
        cb
      case None =>
        val cb = fit
        synchronized { cache(key) = cb }
        cb
    }
  }

  /** Entries dropped. Called by [[CacheScope.releaseAll]]. */
  def clear(): Int = synchronized {
    val n = cache.size
    cache.clear()
    n
  }

  /** Hits since JVM start — Verify logs this so a gate run's fit
    * amortization is visible in its stderr. */
  def hits: Long = synchronized(hitCount)
}

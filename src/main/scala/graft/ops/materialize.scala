package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * Eagerly materialize a multi-use intermediate: pin it in the block
 * store (`MEMORY_AND_DISK`) and force computation NOW with a count.
 *
 * Operators use this for subplans referenced by several downstream
 * subtrees (shingle sets feeding a prefix join and both sides of a
 * verification rejoin, MinHash signatures feeding banding plus two
 * rejoins, …). A *lazy* `localCheckpoint(false)` expresses the same
 * intent but leaves the computation to whichever consumer evaluates
 * first — measured under driver load, the expensive stage then re-ran
 * once per consumer (3× the steady-state time) when the plan was
 * re-derived before the blocks landed. An owned `persist` + explicit
 * count guarantees exactly one computation regardless of evaluation
 * order, and the `CacheManager` entry means every later reference —
 * even a re-analyzed copy of the plan — resolves to the cached
 * relation.
 *
 * Lifecycle: most pins are load-bearing for the operator's RETURNED
 * lazy plan (the consumer's evaluation is what reuses them), so the
 * operator itself cannot unpersist them. Sessions that run many
 * independent queries (bench, verify) call `spark.catalog.clearCache()`
 * between queries; long-lived sessions (a pipeline runner looping over
 * facts) call [[materialize.releaseAll]] once each result is written.
 * Every pin created here is tracked until it is released, so neither
 * path leaks CacheManager entries across repeated operator calls.
 * Operators whose output is
 * itself pinned release their intermediates with [[materialize.release]]
 * before returning (e.g. `Dedup.duplicateClusters` frees the edge
 * list once the final label table is pinned).
 */
object materialize {
  // strong references: the CacheManager keeps a pin's blocks alive after
  // the caller drops the DataFrame (operators return plans built ON the
  // pin, not the pin itself), so a weakly-held pin could be collected
  // while its cache entry lives on, and releaseAll would never free it.
  // Pins whose entry is already gone (clearCache, a plan-equal
  // unpersist) are pruned each time the set doubles.
  private val pins = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
  private var pruneAt = 64

  def apply(df: DataFrame): DataFrame = {
    val pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    pins.synchronized {
      pins.add(pinned)
      if (pins.size >= pruneAt) {
        pins.removeIf(_.storageLevel == StorageLevel.NONE)
        pruneAt = math.max(64, 2 * pins.size)
      }
    }
    pinned
  }

  /** Release one pinned intermediate (blocking=false: frees lazily). */
  def release(df: DataFrame): Unit = {
    pins.synchronized { pins.remove(df) }
    df.unpersist()
  }

  /** Release every intermediate pinned through this helper — the
    * long-lived-session hook (pipeline runners call it per fact). */
  def releaseAll(): Unit = {
    val snapshot = pins.synchronized {
      val s = new java.util.ArrayList[DataFrame](pins)
      pins.clear()
      s
    }
    snapshot.forEach(_.unpersist())
  }
}

package graft

import org.apache.spark.sql.DataFrame

/** Release scopes for cached state, in two tiers.
  *
  * Per-query tier: operators that persist multi-consumer subtrees (the
  * MinHash signatures, the SimHash bands, the curation pipeline's dedup
  * checkpoint, a sync load's source) register through [[persist]];
  * drivers (Verify / Bench / Cli / SyncPipeline / MultiJobSync —
  * anything that runs a query to completion) call [[releaseAll]] once
  * the action finishes. Each persist remains individually justified
  * while the query runs; this is the unpersist-at-pipeline-end half of
  * the contract.
  *
  * Concurrency contract: the registry is process-global, so
  * [[releaseAll]] must only run at a point where NO query is still
  * building or executing — one driver thread sequencing queries
  * (Verify/Bench/Cli), or a fan-out driver calling it strictly after
  * joining its workers (`MultiJobSync.run` releases after `syncMany`
  * returns, never per-job). Calling it mid-build from another thread
  * would unpersist a live intermediate: results stay correct (Spark
  * recomputes from lineage) but the barrier the persist paid for is
  * lost. A frame that a fan-out driver shares among its workers is kept
  * out of this registry and owned by the driver call instead:
  * `MultiJobSync.syncMany` persists its one audience frame itself and
  * unpersists it once its sink passes end, so no release can drop it
  * while a pass still reads it. A long-lived server interleaving independent
  * queries on many threads needs per-scope tokens instead of this
  * global registry — deliberately out of scope for the current drivers,
  * all of which sequence.
  *
  * Session tier: state that amortizes ACROSS queries (shared model
  * training, checkpointed prep frames, written fixtures) is released
  * only by [[releaseSession]], never by the per-query [[releaseAll]]
  * that drivers call after every query. It lives in a [[SessionMemo]],
  * which registers its own [[onSessionRelease]] hook. Only the
  * DrupalFixture base cache, whose one-dir LRU is a different policy,
  * registers a hook by hand.
  */
object CacheScope {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` and track it for end-of-pipeline release. */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    live.add(df)
    df
  }

  private val sessionHooks = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Register a SESSION-END release hook: run only by [[releaseSession]]
    * (which Bench/Verify/Cli call once, after their last query), never by
    * the per-query [[releaseAll]]. For caches that amortize across
    * queries — they stay warm through a whole driver run and still leave
    * nothing pinned when the run ends. [[SessionMemo]] registers one
    * per memo; a hand-registered hook is for a cache with its own
    * eviction policy (the DrupalFixture base LRU). */
  def onSessionRelease(hook: () => Unit): Unit = sessionHooks.add(hook)

  /** End-of-run release: everything [[releaseAll]] does, plus the
    * session-tier hooks. Call once per driver run, after the last
    * query's action completes. */
  def releaseSession(): Unit = {
    releaseAll()
    sessionHooks.forEach(h => h())
  }

  /** Per-query release: unpersist every tracked intermediate.
    * Idempotent; must run only at a quiesced point (see the concurrency
    * contract above). Non-blocking: the RDDs leave the session's
    * persistent-RDD map immediately, block cleanup proceeds
    * asynchronously. */
  def releaseAll(): Unit = {
    var df = live.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = live.poll()
    }
  }
}

/** A cross-query memo, the one form of session state the catalog keeps:
  * values computed once per key and reused by every later query of the
  * driver run, then released by [[CacheScope.releaseSession]] — `free`
  * on every held value (unpersist for a plain `persist`, the default
  * no-op for checkpointed frames and driver-side models, which the
  * ContextCleaner reclaims once the memo drops its reference), then
  * clear.
  *
  * Conditions for a sound reuse:
  *   - the fill is a deterministic function of the key over inputs
  *     that are immutable for the driver run (fixture tables, the
  *     frames a caller passes by identity);
  *   - fills run OUTSIDE the map's bin locks, one fill per key: a
  *     second caller of the same key waits for the first fill, callers
  *     of other keys proceed. A fill may therefore read other keys of
  *     the same memo or other memos, but nested fills must follow an
  *     acyclic order (today: kmAssign→kmeans→derivedK, sim11→kmeans,
  *     pqCodes→pq/kmAssign, nearDup clusters→nearDup pairs); a fill
  *     that reads its own key never returns;
  *   - a fill that throws leaves no entry, so the next call refills.
  */
final class SessionMemo[K, V](free: V => Unit = (_: V) => ()) {
  private final class Cell(fill: => V) {
    @volatile var filled = false
    lazy val value: V = { val v = fill; filled = true; v }
  }
  private val cells = new java.util.concurrent.ConcurrentHashMap[K, Cell]()
  CacheScope.onSessionRelease(() => release())

  /** The value for `key`, running `fill` if no earlier call holds one. */
  def apply(key: K)(fill: => V): V = {
    val cell = cells.computeIfAbsent(key, _ => new Cell(fill))
    try cell.value
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  private[graft] def size: Int = cells.size

  private def release(): Unit = {
    cells.values.forEach(c => if (c.filled) free(c.value))
    cells.clear()
  }
}

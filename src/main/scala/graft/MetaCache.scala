package graft

import com.google.common.cache.{Cache, CacheBuilder, CacheStats}

/** The engine's one driver-side metadata cache: what the planners and
  * commit verbs learn from parquet footers, stats manifests, commit
  * manifests, `_dataroot` markers and the session catalog, kept so the
  * next plan does not pay the same footer read, probe job or catalog
  * scan again. Entries are METADATA only; every query still scans data.
  *
  * Keying rule: each key is a tuple led by its kind and carries the
  * identity of what the value was derived from, so a replaced file or
  * dir misses instead of serving the dead one's answer:
  *  - file identity `(path, length, mtime)`: inferred table schemas;
  *  - dir listing `path@name:length:mtime,…`: a stats manifest dir's
  *    recorded stat types (object stores report constant pseudo-dir
  *    mtimes, the files carry real ones);
  *  - manifest stamp `(table, version, length:mtime)`: a snapshot's
  *    stats-answered aggregates (a table rebuilt at the same path reuses
  *    version numbers);
  *  - `(path, catalog generation)`: catalog names over a path, so a DDL
  *    bump orphans every older entry;
  *  - the table path alone for its `dataRoot`: the marker is immutable
  *    while the table exists, and a transaction claiming version 1 (every
  *    table creation) drops the entry before it stages anything, so a
  *    probe of an earlier table at that path never routes new data.
  *
  * Eviction is per-entry LRU under one bound ([[Bound]] entries over all
  * kinds), so a hot entry survives any number of one-off loads. Loads are
  * success-only: a loader runs outside the cache, and its value is stored
  * only when it returns, so exceptions (and non-local returns) pass
  * through unchanged and a failure is retried on the next call.
  */
object MetaCache {

  /** Entries over all kinds together. */
  val Bound: Long = 16384L

  // one segment: exact LRU order over the whole bound
  private val cache: Cache[AnyRef, AnyRef] = CacheBuilder.newBuilder()
    .maximumSize(Bound).concurrencyLevel(1).recordStats().build()

  def get[V](key: AnyRef): Option[V] =
    Option(cache.getIfPresent(key)).map(_.asInstanceOf[V])

  def put[V](key: AnyRef, value: V): Unit =
    cache.put(key, value.asInstanceOf[AnyRef])

  /** The cached value for `key`, else `load`'s value, stored on success. */
  def apply[V](key: AnyRef)(load: => V): V =
    get[V](key).getOrElse { val v = load; put(key, v); v }

  def invalidate(key: AnyRef): Unit = cache.invalidate(key)

  def size: Long = cache.size()

  def stats: CacheStats = cache.stats()
}

package graft

import java.util.concurrent.ConcurrentHashMap

/** The driver's one cache policy: each key maps to at most one
  * `(fingerprint, value)` entry, and an entry serves a caller only
  * while the caller's fingerprint equals the one it was built under.
  *
  *   - [[get]] builds at most once per (key, fingerprint). Concurrent
  *     callers of one key wait for its build; callers of other keys do
  *     not. A build may call [[get]] for another key (staged builds
  *     nest), so locks are taken in the order builds depend on each
  *     other and never cycle.
  *   - A new fingerprint replaces the old entry: one entry per key.
  *   - [[peek]] and [[put]] let a caller batch the misses of many keys
  *     into one load; [[drop]] and [[dropWhere]] are explicit
  *     invalidation. A drop never waits for a build: a build that
  *     finishes after the drop of its key is not served again.
  *   - A build-once artifact uses a constant fingerprint (`()`).
  *
  * Every driver-side memo is one of these; docs/DESIGN_NOTES.md
  * ("Memos") lists each site's key, fingerprint and droppers. Three
  * caching structures are deliberately not memos: `StatsSource`'s
  * per-handle caches belong to one handle that is shipped to
  * executors, `ZarrGridStore`'s shard-index cache is an executor-side
  * bounded LRU, and the `GridCatalog` registries map names to tables
  * rather than caching a derived value.
  */
final class Memo[K, F, V] {

  /** One key's entry; its monitor is the key's build lock. */
  private final class Slot {
    @volatile var entry: (F, V) = _
  }

  private val slots = new ConcurrentHashMap[K, Slot]()

  private def current(s: Slot, fp: F): Option[V] = {
    val e = s.entry
    if (e != null && e._1 == fp) Some(e._2) else None
  }

  /** The value for `key` built under `fp`, running `build` when there
    * is none.
    */
  def get(key: K, fp: F)(build: => V): V = {
    val s = slots.computeIfAbsent(key, _ => new Slot)
    current(s, fp).getOrElse(s.synchronized {
      current(s, fp).getOrElse {
        val v = build
        s.entry = (fp, v)
        v
      }
    })
  }

  /** The value for `key` if it was built under `fp`; never builds. */
  def peek(key: K, fp: F): Option[V] =
    Option(slots.get(key)).flatMap(current(_, fp))

  /** Store `value` for `key` under `fp`, replacing any entry. */
  def put(key: K, fp: F, value: V): Unit = {
    val s = slots.computeIfAbsent(key, _ => new Slot)
    s.synchronized { s.entry = (fp, value) }
  }

  def drop(key: K): Unit = { slots.remove(key); () }

  def dropWhere(p: K => Boolean): Unit = {
    slots.keySet.removeIf(k => p(k))
    ()
  }
}

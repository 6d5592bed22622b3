package graft.core

/** Access-ordered bounded driver memo — the cache policy behind the
  * ops-level memos ([[graft.ops.Bm25.buildCached]], the Ann root-model,
  * radii and geometry-probe memos, the Dedup shingle/gate/pair tables,
  * the GraphQ graph builds, the Retrieval WordPiece vocab, the DataOps
  * BPE artifacts). [[graft.core.Engine]]'s per-table memos (centroids,
  * assignments, quantized indexes) are not on it: they are unbounded
  * maps keyed by table and invalidated by table VERSION, one entry per
  * registered table.
  *
  * Why access-ordered and not insertion-ordered: the round-13 warm-path
  * regression. An insertion-order `LinkedHashMap` with head-eviction is
  * FIFO — `getOrElseUpdate` hits never refresh an entry's position, so
  * a long-lived driver serving a working set slightly larger than the
  * cap evicts exactly the entries it is about to reuse, and every
  * "warm" call pays a full rebuild. A `java.util.LinkedHashMap` with
  * `accessOrder = true` moves an entry to the tail on every hit, so
  * eviction takes the LEAST-RECENTLY-USED entry — the working set
  * stays resident as long as it fits.
  *
  * `onEvict` runs for entries displaced over `cap` and on [[clear]] —
  * the unpersist hook, so evicted index frames don't pin executor
  * storage. It is invoked while holding this cache's monitor: callers
  * whose hook takes another lock must keep a global lock ORDER (the
  * GraphQ built→ranked discipline). Hooks MUST be non-destructive: a
  * value returned by [[get]]/[[getOrElseUpdate]] may still be in use
  * by a concurrent reader when its eviction fires, so the hook may
  * only release RECOVERABLE resources (an `unpersist` leaves the
  * lazy plan recomputable — exactly why every current hook is one);
  * a hook that closed, deleted, or freed the value would hand that
  * reader a corpse.
  *
  * Map operations synchronize on the instance, but `mk` in
  * [[getOrElseUpdate]] runs under a PER-KEY latch, NOT the cache-wide
  * monitor: a memo build is typically a full Spark job, and holding
  * the map lock for its duration would block warm lookups for every
  * OTHER key in the JVM (the round-14 wpVocab lock-convoy finding,
  * fixed at this altitude so every call site gets single-flight).
  * One key's build still runs at most once while resident — racing
  * callers of the SAME key wait on its latch and read the result.
  */
final class LruCache[K, V](val cap: Int,
                           onEvict: (K, V) => Unit = (_: K, _: V) => ()) {
  require(cap > 0, s"LruCache cap must be positive, got $cap")

  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[K, AnyRef]()

  private def evictOverCap(): Unit =
    while (m.size > cap) {
      val it = m.entrySet().iterator()
      val e = it.next() // least-recently-used head
      it.remove()
      onEvict(e.getKey, e.getValue)
    }

  def getOrElseUpdate(k: K)(mk: => V): V =
    get(k).getOrElse {
      val lock = locks.computeIfAbsent(k, _ => new Object)
      try lock.synchronized {
        // double-check under the key latch: the racing loser reads
        // the winner's value instead of rebuilding (and never
        // put-overwrites a frame another caller already holds)
        get(k).getOrElse {
          val v = mk
          put(k, v)
          v
        }
      } finally locks.remove(k, lock)
    }

  /** Lookup without populating; a hit still refreshes recency. */
  def get(k: K): Option[V] = synchronized(Option(m.get(k)))

  /** Insert/overwrite; a DISPLACED previous value gets `onEvict` (the
    * class contract: no displaced entry may silently pin executor
    * storage), unless it is the same instance being re-put. */
  def put(k: K, v: V): Unit = synchronized {
    val prev = m.put(k, v)
    if (prev != null && !(prev.asInstanceOf[AnyRef] eq
        v.asInstanceOf[AnyRef]))
      onEvict(k, prev)
    evictOverCap()
  }

  /** Remove WITHOUT running `onEvict` — for callers that free the
    * value themselves (or hand it off). */
  def remove(k: K): Option[V] = synchronized(Option(m.remove(k)))

  /** Evict everything, running `onEvict` per entry — the lifecycle
    * sweep for long-lived sessions. */
  def clear(): Unit = synchronized {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      it.remove()
      onEvict(e.getKey, e.getValue)
    }
  }

  def size: Int = synchronized(m.size)
}

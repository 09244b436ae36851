package graft.operators

/** Bounded memo maps for the session-lifetime operator memos (fitted
  * models, index handles, layout paths). A long-lived driver mints
  * fresh layouts/models across many corpora; an unbounded
  * ConcurrentHashMap never lets those entries die. Eviction is always
  * SAFE here — every cached value is recomputable (a model re-trains,
  * a layout re-writes, a parquet handle re-resolves) — so an
  * approximately-FIFO bound gives the same warm-path amortization
  * with a hard ceiling.
  *
  * Backed by a ConcurrentHashMap so `computeIfAbsent` keeps PER-KEY
  * blocking semantics: one writer per key, lock-free reads, and —
  * crucially — a multi-second cold build (an index write, a layout
  * dump) never blocks a warm hit on a DIFFERENT key. (The first cut
  * used `Collections.synchronizedMap(LinkedHashMap)` for exact LRU;
  * its single monitor serialized every cache access behind whichever
  * thread happened to be building — exact recency ordering is not
  * worth that for recomputable values.) When an insert pushes the map
  * over `maxEntries`, an arbitrary batch of other entries is evicted
  * — approximate FIFO via the map's iteration order, bounded is the
  * contract, recency is best-effort.
  */
private[graft] object Caches {

  final class Bounded[K, V](maxEntries: Int) extends java.util.AbstractMap[K, V] {
    private val m = new java.util.concurrent.ConcurrentHashMap[K, V]()

    override def computeIfAbsent(
        key: K, fn: java.util.function.Function[_ >: K, _ <: V]): V = {
      val v = m.computeIfAbsent(key, fn)
      if (m.size() > maxEntries) {
        val it = m.keySet().iterator()
        while (m.size() > maxEntries && it.hasNext) {
          val k = it.next()
          if (k != key) it.remove()
        }
      }
      v
    }

    override def entrySet(): java.util.Set[java.util.Map.Entry[K, V]] = m.entrySet()
    override def get(key: AnyRef): V = m.get(key)
    override def put(key: K, value: V): V = {
      val old = m.put(key, value)
      if (m.size() > maxEntries) {
        val it = m.keySet().iterator()
        while (m.size() > maxEntries && it.hasNext) {
          val k = it.next()
          if (k != key) it.remove()
        }
      }
      old
    }
    override def keySet(): java.util.Set[K] = m.keySet()
  }

  def lru[K, V](maxEntries: Int): Bounded[K, V] = new Bounded[K, V](maxEntries)

  // session -> random id through a WEAK map:
  // the key vanishes with the session (no pinning), and the UUID cannot
  // collide across live sessions the way a 32-bit identity hash can.
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]())

  def sessionId(spark: org.apache.spark.sql.SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)
}

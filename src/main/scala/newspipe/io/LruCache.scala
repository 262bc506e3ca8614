package newspipe.io

/** Bounded, thread-safe LRU map — the one cache shape [[Lake]] keeps for
  * immutable metadata documents (manifests, delta docs, stats sidecars,
  * DV payloads, footer schemas, committed-snapshot markers). Every entry
  * describes something immutable, so eviction only costs a re-read; the
  * bound keeps a long-lived instance (a change stream's `Lake`, the
  * JVM-global caches) from holding every snapshot it ever touched.
  *
  * `getOrElseUpdate` computes OUTSIDE the lock: two racing callers may
  * both compute, which is harmless for immutable documents and keeps a
  * slow read (or a Spark job) from serializing every other lookup.
  */
private[io] final class LruCache[K, V <: AnyRef](val maxEntries: Int) {
  require(maxEntries >= 1, s"LruCache bound must be >= 1, got $maxEntries")

  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      this.size() > maxEntries
  }

  def get(key: K): Option[V] = map.synchronized(Option(map.get(key)))

  def put(key: K, value: V): Unit = map.synchronized { map.put(key, value); () }

  def remove(key: K): Unit = map.synchronized { map.remove(key); () }

  def contains(key: K): Boolean = map.synchronized(map.containsKey(key))

  def getOrElseUpdate(key: K)(compute: => V): V =
    get(key).getOrElse {
      val v = compute
      put(key, v)
      v
    }

  def size: Int = map.synchronized(map.size())
}

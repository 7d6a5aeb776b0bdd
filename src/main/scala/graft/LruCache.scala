package graft

import java.util.concurrent.atomic.LongAdder

/** Bounded LRU map that counts its hits and misses: the one mechanism behind
  * graft's cross-query reuse of plan-time join samples
  * ([[graft.plans.SkewSampler]]), of built fixture relations
  * ([[SparkEntry]]) and of executor-side R-trees over broadcast build sides
  * ([[graft.plans.BroadcastIndex]]). `onEvict` runs on every entry that
  * leaves the map, whether pushed out by the bound or dropped by
  * [[removeIf]]. */
final class LruCache[K, V <: AnyRef](name: String, max: Int, onEvict: V => Unit = (_: V) => ()) {
  private val hits = new LongAdder
  private val misses = new LongAdder
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = {
      val evict = size() > max
      if (evict) onEvict(e.getValue)
      evict
    }
  }
  LruCache.register(name, () => Seq("hits" -> hits.sum, "misses" -> misses.sum))

  /** The cached value for `k`, or else `compute`'s, which is then cached.
    * `compute` runs outside the lock, so a slow one (a Spark job) does not
    * block other callers; two racing misses both compute and the later
    * result stays. A `compute` that throws caches nothing. */
  def getOrElseUpdate(k: K)(compute: => V): V = {
    val hit = map.synchronized(map.get(k))
    if (hit != null) { hits.increment(); hit }
    else {
      misses.increment()
      val v = compute
      map.synchronized(map.put(k, v))
      v
    }
  }

  /** Drops (and evicts) every entry whose key satisfies `p`. */
  def removeIf(p: K => Boolean): Unit = map.synchronized {
    val it = map.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { onEvict(e.getValue); it.remove() }
    }
  }
}

object LruCache {
  private val all = new java.util.concurrent.ConcurrentHashMap[String, () => Seq[(String, Long)]]()

  private def register(name: String, counters: () => Seq[(String, Long)]): Unit =
    all.put(name, counters)
  register("kernelMemo", () => KernelMemo.shared.counters)

  /** The one place to read graft's cache counters since JVM start:
    * `<cache>.hits` and `<cache>.misses` for every cache, and the
    * [[KernelMemo]]'s `kernelMemo.{hits,misses,clears,bytes}`. */
  def counters: Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    all.forEach((name, c) => c().foreach { case (k, v) => out += s"$name.$k" -> v })
    out.result()
  }
}

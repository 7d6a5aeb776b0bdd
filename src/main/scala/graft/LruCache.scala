package graft

import java.util.concurrent.atomic.LongAdder

/** Bounded LRU map that counts its hits and misses: the one mechanism behind
  * graft's cross-query reuse of plan-time join samples
  * ([[graft.plans.SkewSampler]]), of built fixture relations
  * ([[SparkEntry]]), of executor-side R-trees over broadcast build sides
  * ([[graft.plans.BroadcastIndex]]) and of local copies of remote files and
  * zip entries ([[graft.io.GeoFiles]]). `bound` caps the summed `weigh` of
  * the entries, by default their count; the least recently used entries
  * leave first, but never the newest one nor one that is pinned
  * ([[acquire]]). `onEvict` runs on every entry that leaves the map, whether
  * pushed out by the bound, dropped by [[removeIf]] or computed by a caller
  * that lost a race. */
final class LruCache[K, V <: AnyRef](name: String, bound: Long, onEvict: V => Unit = (_: V) => (),
    weigh: V => Long = LruCache.one) {
  private val hits = new LongAdder
  private val misses = new LongAdder
  /** a value, its weight taken once when it was stored, and its pins */
  private final class Slot(val v: V, val w: Long) { var pins = 0 }
  private var weight = 0L // guarded by map, as are max and every slot's pins
  private var max = bound
  private val map = new java.util.LinkedHashMap[K, Slot](16, 0.75f, true)
  LruCache.register(name, () =>
    Seq("hits" -> hits.sum, "misses" -> misses.sum) ++
      (if (weigh eq LruCache.one) Nil else Seq("bytes" -> map.synchronized(weight))))

  /** The cached value for `k`, or else `compute`'s, which is then cached.
    * `compute` runs outside the lock, so a slow one (a Spark job) does not
    * block other callers; when two misses race, the first result stored is
    * kept and returned to both. A `compute` that throws caches nothing. */
  def getOrElseUpdate(k: K)(compute: => V): V = lookup(k, pin = false)(compute)

  /** As [[getOrElseUpdate]], and pins the entry: no bound evicts it until
    * [[release]] has been called once for each `acquire`. */
  def acquire(k: K)(compute: => V): V = lookup(k, pin = true)(compute)

  /** Drops one pin that [[acquire]] took on `k`. */
  def release(k: K): Unit = {
    val evicted = map.synchronized {
      val s = map.get(k)
      if (s != null) s.pins -= 1
      trim()
    }
    evicted.foreach(onEvict)
  }

  private def lookup(k: K, pin: Boolean)(compute: => V): V = {
    val hit = map.synchronized {
      val s = map.get(k)
      if (s != null && pin) s.pins += 1
      s
    }
    if (hit != null) { hits.increment(); hit.v }
    else {
      misses.increment()
      val v = compute
      val w = weigh(v)
      val evicted = List.newBuilder[V]
      val kept = map.synchronized {
        var s = map.get(k)
        if (s != null) evicted += v
        else {
          s = new Slot(v, w)
          map.put(k, s)
          weight += w
          evicted ++= trim()
        }
        if (pin) s.pins += 1
        s.v
      }
      evicted.result().foreach(onEvict)
      kept
    }
  }

  /** Removes the eldest unpinned entries while the bound is passed, keeping
    * the newest; the caller holds the lock and evicts what comes back. */
  private def trim(): Seq[V] = {
    val out = Seq.newBuilder[V]
    val it = map.values.iterator
    var older = map.size - 1
    while (weight > max && older > 0) {
      val s = it.next()
      older -= 1
      if (s.pins == 0) { it.remove(); weight -= s.w; out += s.v }
    }
    out.result()
  }

  /** Sets a new bound, evicting down to it, and returns the previous one:
    * lets a spec check the bound under a small budget. */
  private[graft] def rebound(newMax: Long): Long = {
    val (old, evicted) = map.synchronized {
      val old = max
      max = newMax
      (old, trim())
    }
    evicted.foreach(onEvict)
    old
  }

  /** Drops (and evicts) every unpinned entry whose key satisfies `p`. */
  def removeIf(p: K => Boolean): Unit = {
    val evicted = List.newBuilder[V]
    map.synchronized {
      val it = map.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        val s = e.getValue
        if (s.pins == 0 && p(e.getKey)) { weight -= s.w; evicted += s.v; it.remove() }
      }
    }
    evicted.result().foreach(onEvict)
  }
}

object LruCache {
  private val all = new java.util.concurrent.ConcurrentHashMap[String, () => Seq[(String, Long)]]()

  /** the default weight: a cache bound by its entry count */
  private val one: Any => Long = _ => 1L

  private def register(name: String, counters: () => Seq[(String, Long)]): Unit =
    all.put(name, counters)
  register("kernelMemo", () => KernelMemo.shared.counters)

  /** The one place to read graft's cache counters since JVM start:
    * `<cache>.hits` and `<cache>.misses` for every cache, `<cache>.bytes`
    * for a cache bounded in bytes, and the [[KernelMemo]]'s
    * `kernelMemo.{hits,misses,clears,bytes}`. */
  def counters: Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    all.forEach((name, c) => c().foreach { case (k, v) => out += s"$name.$k" -> v })
    out.result()
  }
}

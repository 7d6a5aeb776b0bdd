package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Content-keyed result memo for graft's pure geometry kernels. Real corpora
  * repeat geometries heavily (a zone polygon joined onto millions of rows
  * buffers the same bytes every time), and a kernel call costs 1 µs–1 ms
  * where a probe costs ~0.1 µs. A key is (op id, scalar params, one or two
  * content byte arrays). Values are results Spark copies on write (WKB bytes,
  * strings, boxed scalars, read-only rows and arrays), so one instance is
  * safely shared across rows and threads.
  *
  * Bounded in bytes: each entry is accounted as its key bytes plus its value
  * bytes plus a fixed overhead, and the whole map is cleared when the next
  * entry would pass `budget`. Clearing keeps every kernel's later inputs
  * cacheable; stopping at the budget would let one high-cardinality kernel
  * hold it and make every later kernel miss on every row. Racing threads can
  * overshoot the budget by at most one entry each. */
final class KernelMemo(val budget: Long) {
  import KernelMemo._

  private val map = new ConcurrentHashMap[Key, AnyRef]()
  private val used = new AtomicLong
  private val hits, misses, clears = new LongAdder
  // probing with a reused per-thread key makes a hit allocate nothing
  private val probe = ThreadLocal.withInitial[Key](() => new Key)
  // a text param may view a row buffer that is reused, so a stored key owns
  // a copy; one thread's stores share it while the text repeats
  private val texts = ThreadLocal.withInitial[Array[UTF8String]](() => new Array[UTF8String](2))

  /** Accounted bytes of the entries held now. */
  def bytes: Long = used.get

  /** `hits`, `misses`, `clears` (because the budget was full) and `bytes`. */
  def counters: Seq[(String, Long)] =
    Seq("hits" -> hits.sum, "misses" -> misses.sum, "clears" -> clears.sum, "bytes" -> bytes)

  /** `compute`'s result for kernel `op` on geometry `in` (WKB bytes or WKT
    * text) with the scalar params `p`, `q`, `n`, `s`, `t`. Inputs over
    * [[EntryLimit]] bytes, and results that are null, over the limit or of
    * another type, bypass the memo. */
  def apply(op: Int, in: Any, p: Double = 0, q: Double = 0, n: Long = 0, s: UTF8String = null,
      t: UTF8String = null)(compute: => AnyRef): AnyRef = {
    val a = content(in)
    if (a == null) compute else lookup(op, a, null, p, q, n, s, t)(compute)
  }

  /** As [[apply]], for a kernel over the geometry pair (`x`, `y`). */
  def pair(op: Int, x: Any, y: Any, p: Double = 0)(compute: => AnyRef): AnyRef = {
    val a = content(x); val b = content(y)
    if (a == null || b == null) compute else lookup(op, a, b, p, 0, 0, null, null)(compute)
  }

  private def lookup(op: Int, a: Array[Byte], b: Array[Byte], p: Double, q: Double, n: Long,
      s: UTF8String, t: UTF8String)(compute: => AnyRef): AnyRef = {
    val hit = map.get(probe.get.set(op, a, b, p, q, n, s, t))
    if (hit != null) { hits.increment(); return hit }
    misses.increment()
    val v = compute
    val vb = valueBytes(v)
    if (vb >= 0 && vb <= EntryLimit) {
      val k = new Key().set(op, a, b, p, q, n, owned(s, 0), owned(t, 1))
      val size = EntryOverhead + k.bytes + vb
      if (used.get + size > budget) { clear(); clears.increment() }
      if (map.putIfAbsent(k, v) == null) used.addAndGet(size)
    }
    v
  }

  private def owned(u: UTF8String, slot: Int): UTF8String =
    if (u == null) null
    else {
      val copies = texts.get
      if (u != copies(slot)) copies(slot) = u.clone()
      copies(slot)
    }

  /** Drops every entry; the accounted bytes go to 0. */
  def clear(): Unit = { used.set(0); map.clear() }
}

object KernelMemo {
  /** Largest input content array, and largest result, the memo holds. */
  val EntryLimit = 16384
  // a map node, the key object and the array and boxing headers
  private val EntryOverhead = 128

  /** The memo every kernel uses, one per JVM: a sixteenth of the heap. */
  val shared = new KernelMemo(Runtime.getRuntime.maxMemory / 16)

  /** Bumped by [[clear]]. [[graft.geom.Geo]]'s per-thread parse caches
    * hold JTS geometries, which are not safe to publish across threads, so
    * they stay per thread and drop their contents on their first access
    * after a bump (a ThreadLocal cannot be cleared from another thread). */
  @volatile private[graft] var epoch = 0

  /** Drops every memoized kernel result, shared and per-thread. */
  def clear(): Unit = { shared.clear(); epoch += 1 }

  /** Op ids, one per memoized kernel, numbered here so no two kernels share
    * one by accident. (`val a, b = next()` evaluates `next()` once per name.)
    * The aliases st_orientedenvelope and st_minimumrotatedrectangle share
    * `OrientedEnvelope` on purpose. */
  object Op {
    private var last = 0
    private def next(): Int = { last += 1; last }
    // GeoFns
    val IsValid, Simplify, SimplifyPreserveTopology, MakeValid, ConvexHull, ReducePrecision,
      Buffer, BufferArea, Transform = next()
    // CompGeomFns
    val Segmentize, OrientedEnvelope, MinimumBoundingCircle, MinimumBoundingRadius,
      DelaunayTriangles, VoronoiPolygons, VoronoiLines, ConcaveHull, Subdivide, Relate,
      MaximumInscribedCircle, LargestEmptyCircle, Node, ForcePolygonCw, ForcePolygonCcw,
      IsPolygonCw, IsPolygonCcw = next()
    // TopoFns
    val UnaryUnion, Polygonize, BuildArea, OffsetCurve, TriangulatePolygon, MinimumClearance,
      MinimumClearanceLine, GeometricMedian, ClusterIntersecting, ClusterWithin,
      LineInterpolatePoints, ClusterKMeans, ClusterDbscan, Split, SharedPaths, Hausdorff,
      HausdorffDensify, Frechet, FrechetDensify = next()
  }

  private def content(raw: Any): Array[Byte] = raw match {
    case b: Array[Byte] if b.length <= EntryLimit => b
    case s: UTF8String if s.numBytes <= EntryLimit => s.getBytes
    case _ => null
  }

  private def arrayBytes(a: Array[Byte]): Long = if (a == null) 0 else 16L + a.length
  private def textBytes(u: UTF8String): Long = if (u == null) 0 else 48L + u.numBytes

  /** Accounted bytes of a result, or -1 for one the memo does not hold. */
  private def valueBytes(v: AnyRef): Long = v match {
    case b: Array[Byte] => arrayBytes(b)
    case u: UTF8String => textBytes(u)
    case _: java.lang.Boolean | _: java.lang.Double => 16
    case r: GenericInternalRow => r.values.foldLeft(24L)(_ + cellBytes(_))
    case g: GenericArrayData => g.array.foldLeft(24L)(_ + cellBytes(_))
    case _ => -1
  }
  private def cellBytes(c: Any): Long = c match {
    case null => 8
    case b: Array[Byte] => 8 + arrayBytes(b)
    case _ => 24
  }

  private final class Key {
    var op = 0; var a: Array[Byte] = _; var b: Array[Byte] = _
    var p = 0L; var q = 0L; var n = 0L; var s: UTF8String = _; var t: UTF8String = _
    var hash = 0

    def set(op: Int, a: Array[Byte], b: Array[Byte], p: Double, q: Double, n: Long,
        s: UTF8String, t: UTF8String): Key = {
      this.op = op; this.a = a; this.b = b; this.n = n; this.s = s; this.t = t
      this.p = java.lang.Double.doubleToLongBits(p); this.q = java.lang.Double.doubleToLongBits(q)
      var h = java.util.Arrays.hashCode(a) * 31 + java.util.Arrays.hashCode(b)
      h = (h * 31 + op) * 31 + java.lang.Long.hashCode(this.p)
      h = (h * 31 + java.lang.Long.hashCode(this.q)) * 31 + java.lang.Long.hashCode(n)
      hash = (h * 31 + s.##) * 31 + t.##
      this
    }
    def bytes: Long = arrayBytes(a) + arrayBytes(b) + textBytes(s) + textBytes(t)

    override def hashCode: Int = hash
    override def equals(o: Any): Boolean = o match {
      case k: Key => k.op == op && k.p == p && k.q == q && k.n == n && k.s == s && k.t == t &&
        java.util.Arrays.equals(k.a, a) && java.util.Arrays.equals(k.b, b)
      case _ => false
    }
  }
}

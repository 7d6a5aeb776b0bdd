package graft.geom

import graft.KernelMemo
import org.locationtech.jts.geom._
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.io.{WKBReader, WKTReader}

/**
 * Geometry codec + per-thread caches.
 *
 * The engine's `GEOMETRY` column type is standard little-endian ISO WKB bytes in a
 * Spark `BinaryType` column (reference models it as a custom blob over BLOB,
 * `/root/reference/spatial/src/spatial/core/geometry/geometry_serialization.cpp:13-37`;
 * we use ISO WKB — written by [[Wkb]], incl. ISO `base+1000Z+2000M` type codes for
 * Z/M — so the bytes are directly interoperable with GeoParquet/PostGIS).
 *
 * Per-call deserialization cost is mitigated the same way the reference mitigates
 * GEOS conversion (per-thread arenas + prepared geometries for constant args,
 * `/root/reference/spatial/src/spatial/geos/geos_executor.hpp:28-31`): a per-thread
 * last-value cache keyed on byte-array *reference* identity. Catalyst literals hand
 * the same Array[Byte] instance to every row, so a constant argument hits the cache
 * on every call after the first.
 */
object Geo {

  val factory = new GeometryFactory(new PrecisionModel(PrecisionModel.FLOATING), 0)

  private final class Caches {
    // a Caches instance built before the last KernelMemo.clear() call
    // discards its contents on next access
    var epoch: Int = KernelMemo.epoch
    val reader = new WKBReader(factory)
    val wktReader = new WKTReader(factory)
    // two-slot parse memo, content-keyed (binary predicates have two args)
    var k0: Array[Byte] = _; var v0: Geometry = _
    var k1: Array[Byte] = _; var v1: Geometry = _
    var pk: AnyRef = _; var pv: PreparedGeometry = _
    // Bounded LRU memo for WKT parses: dimension-table patterns build the
    // same few hundred literals across millions of rows (q_compgeom: 400
    // distinct strings × 600 k rows). Per-thread (not global) so parsed
    // geometries are never published across threads — JTS envelope/userData
    // caching is not safely publishable. High-cardinality workloads just
    // cycle the LRU: one string hash + miss per parse, noise next to the
    // parse itself.
    val wktMemo = new java.util.LinkedHashMap[String, Geometry](256, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Geometry]): Boolean =
        size() > 2048
    }
    // WKT → WKB bytes, one level above wktMemo: st_geomfromtext returns WKB,
    // so a hit here skips BOTH the parse and the per-call serialization
    // (Wkb.write allocated a fresh array every row even when the parse memo
    // hit). Sharing one byte array across rows is safe — BinaryType values
    // are copied into UnsafeRows on write (as with KernelMemo's values).
    val wktWkbMemo = new java.util.LinkedHashMap[String, Array[Byte]](256, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Array[Byte]]): Boolean =
        size() > 2048
    }
  }
  private val tl = ThreadLocal.withInitial[Caches](() => new Caches)

  private def caches(): Caches = {
    val c = tl.get()
    val epoch = KernelMemo.epoch
    if (c.epoch != epoch) {
      c.k0 = null; c.v0 = null; c.k1 = null; c.v1 = null
      c.pk = null; c.pv = null
      c.wktMemo.clear(); c.wktWkbMemo.clear()
      c.epoch = epoch
    }
    c
  }

  /** Max WKB size eligible for the content-equality memo: bounds both the
   *  memcmp cost on misses and the retained bytes per task thread. */
  private val readMemoMaxBytes = 262144

  /** Parse WKB with a two-slot per-thread memo. Keys match by CONTENT, not
   *  just reference: column values surface as a fresh byte array per call
   *  (UnsafeRow.getBinary copies), so an expression chain like
   *  `st_x(g), st_y(g), st_npoints(g)` re-reads identical bytes every call —
   *  a memcmp is ~20-50x cheaper than re-building the JTS object graph.
   *  Callers must not mutate arrays passed in (the pre-existing contract of
   *  the identity memo). Cached instances are safe to share because no graft
   *  eval path mutates a parsed geometry in place (st_normalize copies;
   *  every CoordinateSequenceFilter is read-only). */
  def read(wkb: Array[Byte]): Geometry = {
    val c = caches()
    if (wkb eq c.k0) return c.v0
    if (wkb eq c.k1) return c.v1
    if (wkb.length <= readMemoMaxBytes) {
      val b0 = c.k0
      if (b0 != null && java.util.Arrays.equals(b0, wkb)) return c.v0
      val b1 = c.k1
      if (b1 != null && java.util.Arrays.equals(b1, wkb)) {
        val tg = c.v1; c.k1 = c.k0; c.v1 = c.v0; c.k0 = b1; c.v0 = tg
        return tg
      }
    }
    val g = c.reader.read(wkb)
    // JTS drops the Z/M type-code flags of EMPTY geometries (no coordinates
    // to carry them); recover them from the WKB header so e.g.
    // `MULTIPOLYGON Z EMPTY` survives a WKB round trip.
    if (g.isEmpty && wkb.length >= 5) {
      val code =
        if (wkb(0) == 1)
          (wkb(1) & 0xff) | (wkb(2) & 0xff) << 8 | (wkb(3) & 0xff) << 16 | (wkb(4) & 0xff) << 24
        else
          (wkb(4) & 0xff) | (wkb(3) & 0xff) << 8 | (wkb(2) & 0xff) << 16 | (wkb(1) & 0xff) << 24
      val z = (code & 0x80000000) != 0 || ((code & 0x7fffffff) % 10000) / 1000 == 1 || ((code & 0x7fffffff) % 10000) / 1000 == 3
      val m = (code & 0x40000000) != 0 || ((code & 0x7fffffff) % 10000) / 1000 == 2 || ((code & 0x7fffffff) % 10000) / 1000 == 3
      setEmptyDims(g, z, m)
    }
    c.k1 = c.k0; c.v1 = c.v0
    c.k0 = wkb; c.v0 = g
    g
  }

  /** Mark an EMPTY geometry as dimensioned (Z/M) via userData — JTS has no
   *  coordinate to carry the flag on empties. */
  def setEmptyDims(g: Geometry, z: Boolean, m: Boolean): Geometry = {
    if (g.isEmpty && (z || m))
      g.setUserData(Integer.valueOf((if (z) 1 else 0) | (if (m) 2 else 0)))
    g
  }
  private def emptyDimFlag(g: Geometry): Int = g.getUserData match {
    case i: Integer => i.intValue
    case _ => 0
  }

  /** PreparedGeometry for repeated predicate evaluation against a constant side. */
  def prepared(wkb: Array[Byte]): PreparedGeometry = {
    val c = caches()
    if (wkb eq c.pk) return c.pv
    val p = PreparedGeometryFactory.prepare(read(wkb))
    c.pk = wkb; c.pv = p
    p
  }

  /** ISO little-endian WKB (type code = base + 1000*Z + 2000*M) — see [[Wkb]]. */
  def write(g: Geometry): Array[Byte] = Wkb.write(g)

  private val DimTag =
    "(?i)\\b(?:POINT|LINESTRING|POLYGON|MULTIPOINT|MULTILINESTRING|MULTIPOLYGON|GEOMETRYCOLLECTION)\\s+(ZM|Z|M)\\b".r
  private val TopEmptyTag = "(?i)^\\s*[A-Z]+\\s+(ZM|Z|M)\\s+EMPTY\\s*$".r

  /** Strings longer than this skip the WKT memo (hash cost + retention). */
  private val wktMemoMaxChars = 4096

  /** WKT straight to WKB with a bounded per-thread memo — the
   *  st_geomfromtext hot path (dimension-table WKT literals repeat across
   *  millions of rows; see wktMemo). Exceptions propagate uncached. */
  def wkbFromWkt(wkt: String): Array[Byte] = {
    if (wkt.length <= wktMemoMaxChars) {
      val memo = caches().wktWkbMemo
      val hit = memo.get(wkt)
      if (hit != null) return hit
      val out = Wkb.write(fromWkt(wkt))
      memo.put(wkt, out)
      out
    } else Wkb.write(fromWkt(wkt))
  }

  def fromWkt(wkt0: String): Geometry = {
    if (wkt0.length <= wktMemoMaxChars) {
      val memo = caches().wktMemo
      val hit = memo.get(wkt0)
      if (hit != null) return hit
      val g = fromWktUncached(wkt0)
      memo.put(wkt0, g)
      g
    } else fromWktUncached(wkt0)
  }

  private def fromWktUncached(wkt0: String): Geometry = {
    // accept EWKT "SRID=n;..." prefixes (reference strips them, wkt_reader.cpp)
    val wkt = {
      val t = wkt0.trim
      if (t.regionMatches(true, 0, "SRID=", 0, 5)) t.substring(t.indexOf(';') + 1) else t
    }
    // fast scanner for all WKT types incl. GEOMETRYCOLLECTION: JTS's
    // StreamTokenizer machinery is several times the cost of the actual
    // number parsing; anything the scanner doesn't recognize falls through.
    // The scanner itself enforces the reference's mixed-Z/M collection
    // rejection (explicit tags tracked during the recursive parse), so the
    // regex sweep below only runs on the JTS fallback path.
    val c0 = if (wkt.isEmpty) ' ' else wkt.charAt(0)
    if (c0 == 'P' || c0 == 'p' || c0 == 'M' || c0 == 'm' || c0 == 'L' || c0 == 'l' ||
        c0 == 'G' || c0 == 'g') {
      val fast = fastWkt(wkt)
      if (fast != null) return fast
    }
    // reference parser rejects collections mixing Z/M/ZM members
    // (wkt_reader.cpp: "mixed Z and M types are not supported"); only
    // collections can mix, so skip the regex on the simple-type path
    if (wkt.length > 0 && (wkt.charAt(0) == 'G' || wkt.charAt(0) == 'g')) {
      val tags = DimTag.findAllMatchIn(wkt).map(_.group(1).toUpperCase).toSet
      if (tags.size > 1)
        throw new IllegalArgumentException(
          s"WKT Parser: GeometryCollection with mixed Z and M types are not supported: $wkt0")
    }
    val g = caches().wktReader.read(wkt)
    if (g.isEmpty) TopEmptyTag.findFirstMatchIn(wkt).foreach { m =>
      val t = m.group(1).toUpperCase
      setEmptyDims(g, t == "Z" || t == "ZM", t == "M" || t == "ZM")
    }
    g
  }

  /** Hand-rolled scanner for every WKT type — including nested
   *  GEOMETRYCOLLECTION — in all dimension forms (bare, Z, M, ZM, EMPTY,
   *  parenthesized or bare multipoint members).
   *  Returns null for anything else — the general JTS reader stays the
   *  arbiter of errors and exotic syntax. Ring-validity errors (unclosed,
   *  too short) throw the same JTS IllegalArgumentException either way. */
  private def fastWkt(s: String): Geometry = {
    val n = s.length
    var i = 0
    // per-geometry dimension tag (reset for each collection member, like
    // JTS's reader which reads the Z/M suffix off every type word)
    var tagZ = false; var tagM = false
    // explicit tags seen across the whole parse: the reference rejects
    // collections mixing Z/M/ZM members (wkt_reader.cpp) — 0 none, 1 Z,
    // 2 M, 3 ZM; a second DISTINCT value is the mixed case
    var seenTag = 0
    def skipWs(): Unit = while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
    try {
      skipWs()
      def isEmptyWord(): Boolean =
        s.regionMatches(true, i, "EMPTY", 0, 5) && { i += 5; true }
      def num(): Double = {
        val st = i
        while (i < n && { val c = s.charAt(i)
          c != ',' && c != ')' && c != '(' && !Character.isWhitespace(c) }) i += 1
        if (i == st) throw new NumberFormatException("empty token")
        java.lang.Double.parseDouble(s.substring(st, i))
      }
      /** up to 4 ordinates until ',' or ')' — dims resolved from tag or count */
      def coord(): Coordinate = {
        val v = new Array[Double](4)
        var k = 0
        skipWs()
        while (k < 4 && i < n && { val c = s.charAt(i); c != ',' && c != ')' }) {
          v(k) = num(); k += 1
          skipWs()
        }
        if (k < 2) throw new NumberFormatException("too few ordinates")
        // untagged coordinates read at most XYZ, like the JTS reader
        val z = if (tagZ) true else if (tagM) false else k == 3
        val m = tagM
        if (z && (v.length < 3 || k < 3)) throw new NumberFormatException("missing z")
        if (z && m) { if (k != 4) throw new NumberFormatException("dim"); new CoordinateXYZM(v(0), v(1), v(2), v(3)) }
        else if (m) { if (k != 3) throw new NumberFormatException("dim"); new CoordinateXYM(v(0), v(1), v(2)) }
        else if (z) { if (k != 3) throw new NumberFormatException("dim"); new Coordinate(v(0), v(1), v(2)) }
        else { if (k != 2) throw new NumberFormatException("dim"); new Coordinate(v(0), v(1)) }
      }
      def expect(c: Char): Unit = {
        skipWs()
        if (i >= n || s.charAt(i) != c) throw new NumberFormatException(s"expected $c")
        i += 1
      }
      def atEndOk(): Boolean = { skipWs(); i == n }
      /** comma-separated coordinate list inside one pair of parens */
      def coordSeq(): Array[Coordinate] = {
        expect('(')
        val buf = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
        var done = false
        while (!done) {
          buf += coord()
          skipWs()
          if (i < n && s.charAt(i) == ',') i += 1
          else { expect(')'); done = true }
        }
        buf.toArray
      }
      /** shell + holes inside one pair of parens */
      def polyBody(): Polygon = {
        expect('(')
        val shell = factory.createLinearRing(coordSeq())
        val holes = scala.collection.mutable.ArrayBuffer.empty[LinearRing]
        skipWs()
        while (i < n && s.charAt(i) == ',') { i += 1; holes += factory.createLinearRing(coordSeq()) }
        expect(')')
        factory.createPolygon(shell, holes.toArray)
      }

      /** one full geometry: type word + optional Z/M tag + body; recursive
        * for GEOMETRYCOLLECTION members. Only the TOP level may return null
        * (cheap bail to the JTS reader); member-level mismatches throw. */
      def geometry(top: Boolean): Geometry = {
        skipWs()
        // 0 point, 1 line, 2 poly, 3 mpoint, 4 mline, 5 mpoly, 6 collection
        val kind =
          if (s.regionMatches(true, i, "MULTIPOINT", 0, 10)) { i += 10; 3 }
          else if (s.regionMatches(true, i, "MULTILINESTRING", 0, 15)) { i += 15; 4 }
          else if (s.regionMatches(true, i, "MULTIPOLYGON", 0, 12)) { i += 12; 5 }
          else if (s.regionMatches(true, i, "POINT", 0, 5)) { i += 5; 0 }
          else if (s.regionMatches(true, i, "LINESTRING", 0, 10)) { i += 10; 1 }
          else if (s.regionMatches(true, i, "POLYGON", 0, 7)) { i += 7; 2 }
          else if (s.regionMatches(true, i, "GEOMETRYCOLLECTION", 0, 18)) { i += 18; 6 }
          else if (top) return null
          else throw new NumberFormatException("unknown type word")
        // the keyword must end here (protects POINTZZZ-style garbage)
        if (i < n && Character.isLetterOrDigit(s.charAt(i))) {
          val c = s.charAt(i)
          if (c != 'Z' && c != 'z' && c != 'M' && c != 'm') {
            if (top) return null else throw new NumberFormatException("type word")
          }
        }
        skipWs()
        tagZ = false; tagM = false
        if (i < n) {
          val c = s.charAt(i)
          if (c == 'Z' || c == 'z') {
            tagZ = true; i += 1
            if (i < n && (s.charAt(i) == 'M' || s.charAt(i) == 'm')) { tagM = true; i += 1 }
          } else if (c == 'M' || c == 'm') { tagM = true; i += 1 }
          if (tagZ || tagM) {
            if (i < n && !Character.isWhitespace(s.charAt(i)) && s.charAt(i) != '(') {
              if (top) return null else throw new NumberFormatException("dim tag")
            }
            skipWs()
            val t = (if (tagZ) 1 else 0) | (if (tagM) 2 else 0)
            if (seenTag == 0) seenTag = t
            else if (seenTag != t) throw new IllegalArgumentException(
              s"WKT Parser: GeometryCollection with mixed Z and M types are not supported: $s")
          }
        }
        kind match {
          case 0 =>
            if (isEmptyWord()) setEmptyDims(factory.createPoint(), tagZ, tagM)
            else {
              expect('(')
              val c = coord()
              expect(')')
              factory.createPoint(c)
            }
          case 3 =>
            if (isEmptyWord()) setEmptyDims(factory.createMultiPoint(), tagZ, tagM)
            else {
              expect('(')
              val pts = scala.collection.mutable.ArrayBuffer.empty[Point]
              var done = false
              while (!done) {
                skipWs()
                if (isEmptyWord()) pts += setEmptyDims(factory.createPoint(), tagZ, tagM).asInstanceOf[Point]
                else if (i < n && s.charAt(i) == '(') { i += 1; pts += factory.createPoint(coord()); expect(')') }
                else pts += factory.createPoint(coord())
                skipWs()
                if (i < n && s.charAt(i) == ',') i += 1
                else { expect(')'); done = true }
              }
              factory.createMultiPoint(pts.toArray)
            }
          case 1 =>
            if (isEmptyWord()) setEmptyDims(factory.createLineString(Array.empty[Coordinate]), tagZ, tagM)
            else factory.createLineString(coordSeq())
          case 2 =>
            if (isEmptyWord()) setEmptyDims(factory.createPolygon(), tagZ, tagM)
            else polyBody()
          case 4 =>
            if (isEmptyWord()) setEmptyDims(factory.createMultiLineString(Array.empty[LineString]), tagZ, tagM)
            else {
              expect('(')
              val parts = scala.collection.mutable.ArrayBuffer.empty[LineString]
              var done = false
              while (!done) {
                skipWs()
                if (isEmptyWord()) parts += setEmptyDims(factory.createLineString(Array.empty[Coordinate]), tagZ, tagM).asInstanceOf[LineString]
                else parts += factory.createLineString(coordSeq())
                skipWs()
                if (i < n && s.charAt(i) == ',') i += 1
                else { expect(')'); done = true }
              }
              factory.createMultiLineString(parts.toArray)
            }
          case 5 =>
            if (isEmptyWord()) setEmptyDims(factory.createMultiPolygon(Array.empty[Polygon]), tagZ, tagM)
            else {
              expect('(')
              val parts = scala.collection.mutable.ArrayBuffer.empty[Polygon]
              var done = false
              while (!done) {
                skipWs()
                if (isEmptyWord()) parts += setEmptyDims(factory.createPolygon(), tagZ, tagM).asInstanceOf[Polygon]
                else parts += polyBody()
                skipWs()
                if (i < n && s.charAt(i) == ',') i += 1
                else { expect(')'); done = true }
              }
              factory.createMultiPolygon(parts.toArray)
            }
          case _ =>
            if (isEmptyWord()) setEmptyDims(factory.createGeometryCollection(), tagZ, tagM)
            else {
              expect('(')
              val parts = scala.collection.mutable.ArrayBuffer.empty[Geometry]
              var done = false
              while (!done) {
                parts += geometry(top = false)
                skipWs()
                if (i < n && s.charAt(i) == ',') i += 1
                else { expect(')'); done = true }
              }
              factory.createGeometryCollection(parts.toArray)
            }
        }
      }
      val g = geometry(top = true)
      if (g == null) null
      else if (!atEndOk()) null
      else g
    } catch {
      case _: NumberFormatException => null
      case _: StringIndexOutOfBoundsException => null
    }
  }

  def point(x: Double, y: Double): Geometry =
    factory.createPoint(new Coordinate(x, y))

  /** Envelope polygon in the reference's ring order (st_makeenvelope.cpp
   *  golden output): min → (minx,maxy) → max → (maxx,miny) → close. */
  def box(minX: Double, minY: Double, maxX: Double, maxY: Double): Geometry = {
    val cs = Array(
      new Coordinate(minX, minY), new Coordinate(minX, maxY),
      new Coordinate(maxX, maxY), new Coordinate(maxX, minY),
      new Coordinate(minX, minY))
    factory.createPolygon(cs)
  }

  /** True Z/M presence: JTS Coordinate-array sequences always report hasZ, so
   *  dimensionality must be detected by non-NaN ordinate values. */
  def geomHasZ(g: Geometry): Boolean = {
    var z = false
    g.apply(new CoordinateSequenceFilter {
      override def filter(seq: CoordinateSequence, i: Int): Unit =
        if (seq.hasZ && !seq.getZ(i).isNaN) z = true
      override def isDone: Boolean = z
      override def isGeometryChanged: Boolean = false
    })
    z || (emptyDimFlag(g) & 1) != 0
  }
  def geomHasM(g: Geometry): Boolean = {
    var m = false
    g.apply(new CoordinateSequenceFilter {
      override def filter(seq: CoordinateSequence, i: Int): Unit =
        if (seq.hasM && !seq.getM(i).isNaN) m = true
      override def isDone: Boolean = m
      override def isGeometryChanged: Boolean = false
    })
    m || (emptyDimFlag(g) & 2) != 0
  }

  /** Format a double the way DuckDB renders WKT coordinates: integral values
   *  print without a decimal part; non-integral values print shortest-roundtrip
   *  in fixed decimal (never scientific — the reference renders coordinates
   *  fixed-decimal via d2sfixed, varchar_cast.cpp). */
  def fmt(d: Double): String = {
    if (d == Math.rint(d) && !d.isInfinite && Math.abs(d) < 1e15) {
      String.valueOf(d.toLong)
    } else {
      val s = java.lang.Double.toString(d)
      if (s.indexOf('E') >= 0) new java.math.BigDecimal(s).toPlainString else s
    }
  }

  /** GeoJSON number rendering (reference: yyjson real writer): doubles keep a
   *  decimal part, so integral values print as "1.0", not "1". */
  def jsonFmt(d: Double): String = {
    if (d == Math.rint(d) && !d.isInfinite && Math.abs(d) < 1e15) d.toLong.toString + ".0"
    else {
      val s = java.lang.Double.toString(d)
      if (s.indexOf('E') >= 0) new java.math.BigDecimal(s).toPlainString else s
    }
  }
}

package graft.functions

import graft.KernelMemo
import graft.KernelMemo.Op
import graft.geom.{Curves, Geo, GeoHash, GeoJson, Wkb, Wkt}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.geom.util.GeometryEditor
import org.locationtech.jts.operation.buffer.{BufferOp, BufferParameters}
import org.locationtech.jts.operation.distance.DistanceOp
import org.locationtech.jts.operation.linemerge.LineMerger
import org.locationtech.jts.operation.valid.IsValidOp
import org.locationtech.jts.geom.util.GeometryFixer
import org.locationtech.jts.simplify.{DouglasPeuckerSimplifier, TopologyPreservingSimplifier}
import org.locationtech.jts.precision.GeometryPrecisionReducer

/**
 * The ST_* scalar function surface (reference inventory: SURVEY.md §2.2;
 * registration lists /root/reference/spatial/include/spatial/core/functions/scalar.hpp:10-67
 * and /root/reference/spatial/include/spatial/geos/functions/scalar.hpp:10-45).
 *
 * Everything operates on the `GEOMETRY` encoding — ISO WKB in a BinaryType
 * column — with JTS (the Java original of the GEOS library the reference links)
 * as the computational geometry kernel.
 */
object GeoFns {

  private val B = BinaryType
  private val D = DoubleType
  private val I = IntegerType
  private val S = StringType
  private val BO = BooleanType
  private val L = LongType

  /** Geometry argument: WKB bytes, a WKT string, or a columnar POINT_2D
   *  struct — the implicit-cast lattice of SURVEY §1.4. */
  private def rg(a: Any): Geometry = a match {
    case b: Array[Byte] => Geo.read(b)
    case s: UTF8String => Geo.fromWkt(s.toString)
    case r: org.apache.spark.sql.catalyst.InternalRow if r.numFields == 2 =>
      Geo.point(r.getDouble(0), r.getDouble(1))
    case other => throw new IllegalArgumentException(s"not a geometry: ${other.getClass}")
  }
  private def w(g: Geometry): Array[Byte] = Wkb.write(g)
  private def utf(s: String): UTF8String = UTF8String.fromString(s)
  private def str(a: Any): String = a.asInstanceOf[UTF8String].toString
  private def dbl(a: Any): Double = a.asInstanceOf[Double]
  private def int(a: Any): Int = a.asInstanceOf[Int]
  private val f: GeometryFactory = Geo.factory

  /** Closed-form overlay of two axis-aligned rectangles with a genuine
   *  positive-area overlap (the reference caches bboxes for the same
   *  short-circuit purpose, geometry_type.hpp:100-146): build the ≤3×3 cell
   *  grid induced by the rect edges, mark covered cells, trace the
   *  covered/uncovered boundary into rings, classify holes. Output matches
   *  OverlayNG VERTEX FOR VERTEX (verified against JTS in
   *  RectOverlaySpec): genuine intersection nodes are kept on straight runs,
   *  each ring starts where OverlayNG's ring builder starts (the first
   *  in-result sub-edge walking A's ring then B's), shells are CW / holes
   *  CCW, and polygons are emitted in first-contributing-edge order. */
  private def rectilinearOverlay(ea: Envelope, eb: Envelope,
                                 op: (Boolean, Boolean) => Boolean): Geometry = {
    val xs = Array(ea.getMinX, ea.getMaxX, eb.getMinX, eb.getMaxX).distinct.sorted
    val ys = Array(ea.getMinY, ea.getMaxY, eb.getMinY, eb.getMaxY).distinct.sorted
    val nx = xs.length - 1; val ny = ys.length - 1
    def inE(e: Envelope, cx: Double, cy: Double) =
      cx > e.getMinX && cx < e.getMaxX && cy > e.getMinY && cy < e.getMaxY
    val cov = Array.tabulate(nx, ny) { (i, j) =>
      val cx = (xs(i) + xs(i + 1)) / 2; val cy = (ys(j) + ys(j + 1)) / 2
      op(inE(ea, cx, cy), inE(eb, cx, cy))
    }
    def at(i: Int, j: Int) = i >= 0 && i < nx && j >= 0 && j < ny && cov(i)(j)
    // boundary segments between covered and uncovered cells
    final case class Pt(x: Double, y: Double)
    val segs = scala.collection.mutable.ArrayBuffer.empty[(Pt, Pt)]
    for (i <- 0 until nx; j <- 0 to ny if at(i, j) != at(i, j - 1))
      segs += ((Pt(xs(i), ys(j)), Pt(xs(i + 1), ys(j))))
    for (i <- 0 to nx; j <- 0 until ny if at(i, j) != at(i - 1, j))
      segs += ((Pt(xs(i), ys(j)), Pt(xs(i), ys(j + 1))))
    if (segs.isEmpty) return f.createPolygon()
    // chain segments into closed rings (all boundary vertices are degree 2
    // when the overlap has positive area)
    val adj = scala.collection.mutable.HashMap.empty[Pt, scala.collection.mutable.ArrayBuffer[Int]]
    segs.zipWithIndex.foreach { case ((a, b), i) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += i
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += i
    }
    val used = new Array[Boolean](segs.length)
    // per ring: vertex cycle + its undirected unit-segment set (for start lookup)
    final case class Ring(pts: Array[Pt], segSet: Set[(Pt, Pt)])
    def norm(a: Pt, b: Pt): (Pt, Pt) =
      if (a.x < b.x || (a.x == b.x && a.y <= b.y)) (a, b) else (b, a)
    val rawRings = scala.collection.mutable.ArrayBuffer.empty[Ring]
    for (start <- segs.indices if !used(start)) {
      val pts = scala.collection.mutable.ArrayBuffer.empty[Pt]
      val mySegs = scala.collection.mutable.ArrayBuffer.empty[(Pt, Pt)]
      var (cur, next) = segs(start)
      used(start) = true
      pts += cur += next
      mySegs += norm(cur, next)
      var done = false
      while (!done) {
        val cands = adj(next).filter(!used(_))
        if (cands.isEmpty) done = true
        else {
          val si = cands.head
          used(si) = true
          val (a, b) = segs(si)
          val nn = if (a == next) b else a
          pts += nn
          mySegs += norm(next, nn)
          next = nn
          if (nn == pts.head) done = true
        }
      }
      rawRings += Ring(pts.toArray, mySegs.toSet)
    }

    // OverlayNG keeps a vertex on a straight run only when an input edge
    // actually crosses or touches there (a node) — a grid line whose source
    // edge doesn't span the run contributes no vertex
    def isNode(c: Pt, horizontalRun: Boolean): Boolean = {
      def fromRect(e: Envelope): Boolean =
        if (horizontalRun)
          (c.x == e.getMinX || c.x == e.getMaxX) && c.y >= e.getMinY && c.y <= e.getMaxY
        else
          (c.y == e.getMinY || c.y == e.getMaxY) && c.x >= e.getMinX && c.x <= e.getMaxX
      fromRect(ea) || fromRect(eb)
    }

    // canonical start: OverlayNG's ring builder consumes noded edges in input
    // order (A's ring, then B's), so a result ring starts at the start vertex
    // of its first in-result sub-edge along that walk; the walk position also
    // orders multi-polygon output
    def boxWalk(e: Envelope): Iterator[(Pt, Pt)] = {
      val wxs = xs.filter(x => x >= e.getMinX && x <= e.getMaxX)
      val wys = ys.filter(y => y >= e.getMinY && y <= e.getMaxY)
      val left = wys.sliding(2).map(p => (Pt(e.getMinX, p(0)), Pt(e.getMinX, p(1))))
      val top = wxs.sliding(2).map(p => (Pt(p(0), e.getMaxY), Pt(p(1), e.getMaxY)))
      val right = wys.reverse.sliding(2).map(p => (Pt(e.getMaxX, p(0)), Pt(e.getMaxX, p(1))))
      val bottom = wxs.reverse.sliding(2).map(p => (Pt(p(0), e.getMinY), Pt(p(1), e.getMinY)))
      left ++ top ++ right ++ bottom
    }
    val walk = (boxWalk(ea) ++ boxWalk(eb)).toArray
    def startOf(r: Ring): (Pt, Int) = {
      var k = 0
      while (k < walk.length) {
        val (u, v) = walk(k)
        if (r.segSet.contains(norm(u, v))) return (u, k)
        k += 1
      }
      (r.pts.head, Int.MaxValue)
    }

    val rings = scala.collection.mutable.ArrayBuffer.empty[(Array[Coordinate], Int)]
    rawRings.foreach { r =>
      val ring = r.pts
      val m = ring.length - 1 // last == first
      val keep = scala.collection.mutable.ArrayBuffer.empty[Pt]
      for (k <- 0 until m) {
        val prev = ring((k - 1 + m) % m); val c = ring(k); val nxt = ring((k + 1) % m)
        val horiz = prev.y == c.y && c.y == nxt.y
        val vert = prev.x == c.x && c.x == nxt.x
        if (!(horiz || vert) || isNode(c, horiz)) keep += c
      }
      if (keep.length >= 3) {
        val (startPt, walkIdx) = startOf(r)
        val si = keep.indexOf(startPt)
        val rotated = if (si > 0) keep.drop(si) ++ keep.take(si) else keep
        val coords = rotated.map(p => new Coordinate(p.x, p.y))
        coords += coords.head.copy()
        rings += ((coords.toArray, walkIdx))
      }
    }
    if (rings.isEmpty) return f.createPolygon()
    def ringEnv(cs: Array[Coordinate]): Envelope = {
      val e = new Envelope(); cs.foreach(e.expandToInclude); e
    }
    def oriented(cs: Array[Coordinate], ccw: Boolean): Array[Coordinate] = {
      val closed = if (cs.head.equals2D(cs.last)) cs else cs :+ cs.head.copy()
      // reversing a closed ring keeps the canonical start vertex in place
      if (org.locationtech.jts.algorithm.Orientation.isCCW(
        new org.locationtech.jts.geom.impl.CoordinateArraySequence(closed)) == ccw) closed
      else closed.reverse
    }
    // largest-envelope rings are shells; rings inside a shell's envelope are holes
    val sorted = rings.map { case (r, wi) => (r, ringEnv(r), wi) }.sortBy { case (_, e, _) => -e.getArea }
    val shells = scala.collection.mutable.ArrayBuffer.empty[(Array[Coordinate], Envelope, Int, scala.collection.mutable.ArrayBuffer[(Array[Coordinate], Int)])]
    sorted.foreach { case (r, e, wi) =>
      shells.find { case (_, se, _, _) => se.contains(e) && se.getArea > e.getArea } match {
        case Some((_, _, _, holes)) => holes += ((r, wi))
        case None => shells += ((r, e, wi, scala.collection.mutable.ArrayBuffer.empty))
      }
    }
    val polys = shells.sortBy(_._3).map { case (shell, _, _, holes) =>
      f.createPolygon(
        f.createLinearRing(oriented(shell, ccw = false)),
        holes.sortBy(_._2).map { case (h, _) => f.createLinearRing(oriented(h, ccw = true)) }.toArray)
    }
    if (polys.length == 1) polys(0) else f.createMultiPolygon(polys.toArray)
  }

  /** positive-area overlap of two rectangle envelopes */
  private def properOverlap(a: Geometry, b: Geometry): Boolean = {
    if (!a.isRectangle || !b.isRectangle || a.isEmpty || b.isEmpty) return false
    val ea = a.getEnvelopeInternal; val eb = b.getEnvelopeInternal
    math.min(ea.getMaxX, eb.getMaxX) > math.max(ea.getMinX, eb.getMinX) &&
      math.min(ea.getMaxY, eb.getMaxY) > math.max(ea.getMinY, eb.getMinY)
  }

  private def bufferEnum(what: String, arg: String, opts: Map[String, Int]): Int =
    opts.collectFirst { case (k, v) if k.equalsIgnoreCase(arg) => v }.getOrElse(
      throw new IllegalArgumentException(
        s"Unknown $what: '$arg', accepted inputs: ${opts.keys.mkString(", ")}"))

  // Hoisted style tables: st_buffer evaluates per row, and building these
  // Maps inside the eval showed up as the top frame in thread samples.
  private val bufferCapStyles =
    Map("CAP_ROUND" -> BufferParameters.CAP_ROUND, "CAP_FLAT" -> BufferParameters.CAP_FLAT,
        "CAP_SQUARE" -> BufferParameters.CAP_SQUARE)
  private val bufferJoinStyles =
    Map("JOIN_ROUND" -> BufferParameters.JOIN_ROUND, "JOIN_MITRE" -> BufferParameters.JOIN_MITRE,
        "JOIN_BEVEL" -> BufferParameters.JOIN_BEVEL)

  /** unit-circle vertex table per segment count (buffers in a query share segs) */
  private val circleTables = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  /** Closed-form circle for point buffers: 4*segs vertices clockwise from
   *  angle 0 (JTS shell orientation), matching BufferOp's vertex count. */
  private def pointCircle(p: Point, dist: Double, segs: Int): Geometry = {
    val n = 4 * segs
    val t = circleTables.computeIfAbsent(n, k => {
      val arr = new Array[Double](2 * k)
      // Replicate JTS OffsetSegmentGenerator.addDirectedFillet's float
      // evaluation order exactly: angleInc = totalAngle/nSegs first, then
      // angle = -i * angleInc. Computing (-2π·i)/k instead lands one ulp off
      // on some vertices (BufferFastPathSpec pins bit parity with BufferOp).
      // angle = (-i).toDouble * angleInc, then Angle.cosSnap/sinSnap: JTS 1.20
      // snaps |cos|,|sin| < 5e-16 to exactly 0 so axis-aligned circle vertices
      // land on exact coordinates.
      val inc = (2.0 * math.Pi) / k
      def snap(v: Double): Double = if (math.abs(v) < 5e-16) 0.0 else v
      var i = 0
      while (i < k) {
        val ang = -i * inc
        arr(2 * i) = snap(math.cos(ang)); arr(2 * i + 1) = snap(math.sin(ang))
        i += 1
      }
      arr
    })
    val cs = new Array[Coordinate](n + 1)
    var i = 0
    while (i < n) {
      cs(i) = new Coordinate(p.getX + dist * t(2 * i), p.getY + dist * t(2 * i + 1))
      i += 1
    }
    cs(n) = cs(0).copy()
    f.createPolygon(cs)
  }

  /** Closed-form square-cap point buffer. JTS's OffsetCurveBuilder square cap
   *  is plain `x ± d, y ± d` arithmetic starting at (x+d, y+d) clockwise —
   *  byte-parity with BufferOp asserted in BufferFastPathSpec. */
  private def pointSquare(p: Point, dist: Double): Geometry = {
    val x = p.getX; val y = p.getY
    val cs = Array(
      new Coordinate(x + dist, y + dist), new Coordinate(x + dist, y - dist),
      new Coordinate(x - dist, y - dist), new Coordinate(x - dist, y + dist),
      new Coordinate(x + dist, y + dist))
    f.createPolygon(cs)
  }

  private val memo = KernelMemo.shared
  // The buffer kernels' style ints packed into one key param; the 2- and
  // 3-arg arities pass -1 for cap and join, which no style maps to.
  private def bufferStyle(segs: Int, cap: Int, join: Int): Long =
    (segs.toLong << 32) | ((cap & 0xffffL) << 16) | (join & 0xffffL)

  /** Directed line merge (reference: GEOSLineMergeDirected_r via
   *  geos/functions/scalar/st_linemerge.cpp:31-38): chains lines strictly
   *  head-to-tail — no segment is ever reversed — and only through nodes
   *  incident to exactly one incoming and one outgoing line. Chains are
   *  emitted in input order of their starting segment, cycles last. */
  private def lineMergeDirected(g: Geometry): Array[LineString] = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[LineString]
    g.apply(new GeometryComponentFilter {
      override def filter(c: Geometry): Unit = c match {
        case l: LineString if !l.isEmpty => lines += l
        case _ =>
      }
    })
    val n = lines.length
    if (n == 0) return Array.empty
    val inCnt = scala.collection.mutable.HashMap.empty[Coordinate, Int]
    val outCnt = scala.collection.mutable.HashMap.empty[Coordinate, Int]
    val startsAt = scala.collection.mutable.HashMap.empty[Coordinate, scala.collection.mutable.ArrayBuffer[Int]]
    for (i <- 0 until n) {
      val l = lines(i)
      val tail = l.getCoordinateN(0)
      val head = l.getCoordinateN(l.getNumPoints - 1)
      outCnt(tail) = outCnt.getOrElse(tail, 0) + 1
      inCnt(head) = inCnt.getOrElse(head, 0) + 1
      startsAt.getOrElseUpdate(tail, scala.collection.mutable.ArrayBuffer.empty) += i
    }
    // a chain may pass through c only if c joins exactly one in- to one out-edge
    def joinable(c: Coordinate): Boolean =
      inCnt.getOrElse(c, 0) == 1 && outCnt.getOrElse(c, 0) == 1
    val used = new Array[Boolean](n)
    val out = scala.collection.mutable.ArrayBuffer.empty[LineString]
    def follow(start: Int): Unit = {
      val coords = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
      var cur = start
      var continue = true
      while (continue) {
        used(cur) = true
        val cs = lines(cur).getCoordinates
        coords ++= (if (coords.isEmpty) cs else cs.drop(1))
        val head = lines(cur).getCoordinateN(lines(cur).getNumPoints - 1)
        continue = false
        if (joinable(head)) startsAt.get(head).foreach { cands =>
          val next = cands.head // outCnt == 1 → exactly one candidate
          if (!used(next)) { cur = next; continue = true }
        }
      }
      out += f.createLineString(coords.toArray)
    }
    // pass 1: open chains begin where the tail node is not a pass-through
    for (i <- 0 until n if !used(i) && !joinable(lines(i).getCoordinateN(0))) follow(i)
    // pass 2: what remains are pure cycles; break each at its lowest-index line
    for (i <- 0 until n if !used(i)) follow(i)
    out.toArray
  }

  private def fn(name: String, out: DataType, in: Seq[DataType]*)(eval: Array[Any] => Any): Unit =
    FnRegistry.add(FnSpec(name, in.map(s => s.length -> s).toMap, out, _ => eval))

  private def fnSpec(name: String, out: DataType, in: Seq[DataType]*)(
      make: Seq[Expression] => Array[Any] => Any): Unit =
    FnRegistry.add(FnSpec(name, in.map(s => s.length -> s).toMap, out, make))

  // geometry → X helpers
  private def gD(name: String)(f0: Geometry => Any): Unit = fn(name, D, Seq(B))(a => f0(rg(a(0))))
  private def gI(name: String)(f0: Geometry => Any): Unit = fn(name, I, Seq(B))(a => f0(rg(a(0))))
  private def gB(name: String)(f0: Geometry => Any): Unit = fn(name, BO, Seq(B))(a => f0(rg(a(0))))
  private def gS(name: String)(f0: Geometry => String): Unit = fn(name, S, Seq(B))(a => utf(f0(rg(a(0)))))
  private def gG(name: String)(f0: Geometry => Geometry): Unit =
    fn(name, B, Seq(B))(a => { val r = f0(rg(a(0))); if (r == null) null else w(r) })
  private def ggG(name: String)(f0: (Geometry, Geometry) => Geometry): Unit =
    fn(name, B, Seq(B, B))(a => { val r = f0(rg(a(0)), rg(a(1))); if (r == null) null else w(r) })

  // ------------------------------------------------------------ predicates
  // Prepared-geometry fast path when one side is a constant — the Spark
  // analogue of the reference's geos_executor.hpp:28-31.
  private val symmetric = Set("intersects", "disjoint", "touches", "equals", "overlaps", "crosses")
  private def swapOf(op: String): String = op match {
    case "contains" => "within"
    case "within" => "contains"
    case "covers" => "coveredby"
    case "coveredby" => "covers"
    case s if symmetric(s) => s
    case _ => null
  }
  private def prepApply(op: String, p: PreparedGeometry, g: Geometry): Boolean = op match {
    case "intersects" => p.intersects(g)
    case "contains" => p.contains(g)
    case "containsproperly" => p.containsProperly(g)
    case "within" => p.within(g)
    case "covers" => p.covers(g)
    case "coveredby" => p.coveredBy(g)
    case "crosses" => p.crosses(g)
    case "disjoint" => p.disjoint(g)
    case "touches" => p.touches(g)
    case "overlaps" => p.overlaps(g)
    case "equals" => p.getGeometry.equalsTopo(g)
  }
  /** DE-9IM between two axis-aligned rectangles is pure interval arithmetic —
   *  no relate() machinery (the reference's cached-bbox short-circuits,
   *  geometry_type.hpp:100-146, taken to completion for the rect-rect case). */
  private def rectApply(op: String, a: Geometry, b: Geometry): Boolean = {
    val ea = a.getEnvelopeInternal; val eb = b.getEnvelopeInternal
    val ix0 = math.max(ea.getMinX, eb.getMinX); val ix1 = math.min(ea.getMaxX, eb.getMaxX)
    val iy0 = math.max(ea.getMinY, eb.getMinY); val iy1 = math.min(ea.getMaxY, eb.getMaxY)
    val intersects = ix0 <= ix1 && iy0 <= iy1
    def containsAB = eb.getMinX >= ea.getMinX && eb.getMaxX <= ea.getMaxX &&
      eb.getMinY >= ea.getMinY && eb.getMaxY <= ea.getMaxY
    def containsBA = ea.getMinX >= eb.getMinX && ea.getMaxX <= eb.getMaxX &&
      ea.getMinY >= eb.getMinY && ea.getMaxY <= eb.getMaxY
    op match {
      case "intersects" => intersects
      case "disjoint" => !intersects
      case "contains" | "covers" => containsAB
      case "within" | "coveredby" => containsBA
      case "containsproperly" =>
        eb.getMinX > ea.getMinX && eb.getMaxX < ea.getMaxX &&
          eb.getMinY > ea.getMinY && eb.getMaxY < ea.getMaxY
      case "touches" => intersects && (ix0 == ix1 || iy0 == iy1)
      case "overlaps" => ix1 > ix0 && iy1 > iy0 && !containsAB && !containsBA
      case "equals" => containsAB && containsBA
      case "crosses" => false // area/area intersection can never be lower-dimensional both ways
    }
  }
  private def isRect(g: Geometry): Boolean =
    g.isRectangle && {
      val e = g.getEnvelopeInternal
      e.getWidth > 0 && e.getHeight > 0
    }

  /** rect×rect intersection area in closed form; general overlay otherwise.
   *  (Object-level so the registered lambdas stay capture-free — a load()-
   *  local def would bind the non-serializable module into codegen refs.) */
  private def fusedInterArea(ga: Geometry, gb: Geometry): Double =
    if (isRect(ga) && isRect(gb)) {
      val ea = ga.getEnvelopeInternal; val eb = gb.getEnvelopeInternal
      val w = math.min(ea.getMaxX, eb.getMaxX) - math.max(ea.getMinX, eb.getMinX)
      val h = math.min(ea.getMaxY, eb.getMaxY) - math.max(ea.getMinY, eb.getMinY)
      if (w <= 0 || h <= 0) 0.0 else w * h
    } else ga.intersection(gb).getArea

  private def plainApply(op: String, a: Geometry, b: Geometry): Boolean = {
    if (isRect(a) && isRect(b)) return rectApply(op, a, b)
    op match {
    case "intersects" => a.intersects(b)
    case "contains" => a.contains(b)
    case "containsproperly" => PreparedGeometryFactory.prepare(a).containsProperly(b)
    case "within" => a.within(b)
    case "covers" => a.covers(b)
    case "coveredby" => a.coveredBy(b)
    case "crosses" => a.crosses(b)
    case "disjoint" => a.disjoint(b)
    case "touches" => a.touches(b)
    case "overlaps" => a.overlaps(b)
    case "equals" => a.equalsTopo(b)
    }
  }
  private def predicate(name: String, op: String): Unit =
    fnSpec(name, BO, Seq(B, B)) { children =>
      val fold0 = children.head.foldable
      val fold1 = children(1).foldable && swapOf(op) != null
      if (fold0 || fold1) {
        val idx = if (fold0) 0 else 1
        val effOp = if (fold0) op else swapOf(op)
        var pk: AnyRef = null
        var pg: Geometry = null
        var pRect = false
        var pv: PreparedGeometry = null
        args => {
          val cb = args(idx).asInstanceOf[AnyRef]
          if (cb ne pk) { pk = cb; pg = rg(cb); pRect = isRect(pg); pv = null }
          val row = rg(args(1 - idx))
          // rect×rect beats PreparedGeometry: pure interval arithmetic, no
          // relate() even for touches/overlaps/coveredby (which prepared
          // geometries don't short-circuit)
          if (pRect && isRect(row)) rectApply(effOp, pg, row)
          else {
            if (pv == null) pv = PreparedGeometryFactory.prepare(pg)
            prepApply(effOp, pv, row)
          }
        }
      } else { args => plainApply(op, rg(args(0)), rg(args(1))) }
    }

  // ---------------------------------------------------- measures (pure math)
  /** Sum of lengths of all LineString components (polygon rings excluded —
   *  reference semantics: st_length.cpp returns 0 for polygons). */
  private def lineLength(g: Geometry): Double = g match {
    case l: LineString => l.getLength
    case c: GeometryCollection =>
      var s = 0.0; var i = 0
      while (i < c.getNumGeometries) { s += lineLength(c.getGeometryN(i)); i += 1 }
      s
    case _ => 0.0
  }
  /** Sum of ring lengths of all Polygon components (reference st_perimeter.cpp). */
  private def perimeter(g: Geometry): Double = g match {
    case p: Polygon => p.getLength
    case c: GeometryCollection =>
      var s = 0.0; var i = 0
      while (i < c.getNumGeometries) { s += perimeter(c.getGeometryN(i)); i += 1 }
      s
    case _ => 0.0
  }

  private def forceDims(g: Geometry, wantZ: Boolean, wantM: Boolean, z: Double, m: Double): Geometry = {
    // Point fast path: one coordinate copy, no GeometryEditor machinery —
    // points dominate real workloads (q_force_dims is 60k point rows)
    g match {
      case p: Point if !p.isEmpty =>
        val cs = p.getCoordinateSequence
        val x = cs.getX(0); val y = cs.getY(0)
        val zi = if (cs.hasZ && !cs.getZ(0).isNaN) cs.getZ(0) else z
        val mi = if (cs.hasM && !cs.getM(0).isNaN) cs.getM(0) else m
        val c: Coordinate =
          if (wantZ && wantM) new CoordinateXYZM(x, y, zi, mi)
          else if (wantZ) new Coordinate(x, y, zi)
          else if (wantM) new CoordinateXYM(x, y, mi)
          else new Coordinate(x, y)
        return f.createPoint(c)
      case _ =>
    }
    val ed = new GeometryEditor(f)
    ed.edit(g, new GeometryEditor.CoordinateSequenceOperation {
      override def edit(cs: CoordinateSequence, geom: Geometry): CoordinateSequence = {
        val dim = 2 + (if (wantZ) 1 else 0) + (if (wantM) 1 else 0)
        val out = f.getCoordinateSequenceFactory.create(cs.size, dim, if (wantM) 1 else 0)
        var i = 0
        while (i < cs.size) {
          out.setOrdinate(i, 0, cs.getX(i)); out.setOrdinate(i, 1, cs.getY(i))
          if (wantZ) out.setOrdinate(i, 2, if (cs.hasZ && !cs.getZ(i).isNaN) cs.getZ(i) else z)
          if (wantM) out.setOrdinate(i, if (wantZ) 3 else 2, if (cs.hasM && !cs.getM(i).isNaN) cs.getM(i) else m)
          i += 1
        }
        out
      }
    })
  }

  private def hasZ(g: Geometry): Boolean = {
    var z = false
    g.apply(new CoordinateSequenceFilter {
      private var d = false
      override def filter(cs: CoordinateSequence, i: Int): Unit = { if (cs.hasZ && !cs.getZ(i).isNaN) z = true; d = true }
      override def isDone: Boolean = z || d
      override def isGeometryChanged: Boolean = false
    })
    z
  }
  private def hasM(g: Geometry): Boolean = {
    var m = false
    g.apply(new CoordinateSequenceFilter {
      private var d = false
      override def filter(cs: CoordinateSequence, i: Int): Unit = { if (cs.hasM && !cs.getM(i).isNaN) m = true; d = true }
      override def isDone: Boolean = m || d
      override def isGeometryChanged: Boolean = false
    })
    m
  }

  private def collectGeoms(gs: Iterator[Geometry]): Geometry = {
    val nonEmpty = gs.filter(g => g != null && !g.isEmpty).toArray
    if (nonEmpty.isEmpty) f.createGeometryCollection()
    else if (nonEmpty.forall(_.isInstanceOf[Point]))
      f.createMultiPoint(nonEmpty.map(_.asInstanceOf[Point]))
    else if (nonEmpty.forall(_.isInstanceOf[LineString]))
      f.createMultiLineString(nonEmpty.map(_.asInstanceOf[LineString]))
    else if (nonEmpty.forall(_.isInstanceOf[Polygon]))
      f.createMultiPolygon(nonEmpty.map(_.asInstanceOf[Polygon]))
    else f.createGeometryCollection(nonEmpty)
  }

  private def dumpInto(g: Geometry, path: List[Int], out: scala.collection.mutable.ArrayBuffer[(Geometry, Array[Int])]): Unit =
    g match {
      case c: GeometryCollection =>
        var i = 0
        while (i < c.getNumGeometries) { dumpInto(c.getGeometryN(i), (i + 1) :: path, out); i += 1 }
      case single => out += ((single, path.reverse.toArray))
    }

  // ------------------------------------------------------- geodesy (WGS84)
  private val EarthR = 6371000.0 // mean radius, like reference st_distance_sphere.cpp
  private val WgsA = 6378137.0
  private val WgsF = 1.0 / 298.257223563

  /** NOTE argument order: the reference's ST_Haversine/ST_Distance_Sphere use
   *  a [latitude, longitude] axis convention (st_distance_sphere.cpp:18,88):
   *  the point's x IS latitude. */
  def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val la1 = math.toRadians(lat1); val la2 = math.toRadians(lat2)
    val dLa = la2 - la1; val dLo = math.toRadians(lon2) - math.toRadians(lon1)
    val h = math.pow(math.sin(dLa / 2), 2) + math.cos(la1) * math.cos(la2) * math.pow(math.sin(dLo / 2), 2)
    2 * EarthR * math.asin(math.sqrt(h))
  }

  /** Vincenty inverse geodesic distance on WGS84 (public formula, fast path);
   *  near-antipodal pairs where Vincenty's λ iteration diverges fall through
   *  to the exact Karney solver ([[graft.geom.Geodesic]]) — same behavior as
   *  the reference's GeographicLib, which never fails to converge.
   *  NOTE argument order matches the reference's GeographicLib functions
   *  (st_distance_spheroid.cpp:30 → Geodesic::Inverse(lat, lon, …)): the
   *  point's x IS latitude, same convention as [[haversine]]. */
  def vincenty(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    if (lon1 == lon2 && lat1 == lat2) return 0.0
    val a = WgsA; val fl = WgsF; val b = a * (1 - fl)
    val l = math.toRadians(lon2 - lon1)
    val u1 = math.atan((1 - fl) * math.tan(math.toRadians(lat1)))
    val u2 = math.atan((1 - fl) * math.tan(math.toRadians(lat2)))
    val sinU1 = math.sin(u1); val cosU1 = math.cos(u1)
    val sinU2 = math.sin(u2); val cosU2 = math.cos(u2)
    var lambda = l; var lambdaP = 0.0; var iter = 0
    var sinSigma = 0.0; var cosSigma = 0.0; var sigma = 0.0
    var cosSqAlpha = 0.0; var cos2SigmaM = 0.0
    do {
      lambdaP = lambda
      val sinL = math.sin(lambda); val cosL = math.cos(lambda)
      sinSigma = math.sqrt(math.pow(cosU2 * sinL, 2) + math.pow(cosU1 * sinU2 - sinU1 * cosU2 * cosL, 2))
      if (sinSigma == 0) return 0.0
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosL
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinL / sinSigma
      cosSqAlpha = 1 - sinAlpha * sinAlpha
      cos2SigmaM = if (cosSqAlpha == 0) 0 else cosSigma - 2 * sinU1 * sinU2 / cosSqAlpha
      val c = fl / 16 * cosSqAlpha * (4 + fl * (4 - 3 * cosSqAlpha))
      lambda = l + (1 - c) * fl * sinAlpha *
        (sigma + c * sinSigma * (cos2SigmaM + c * cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM)))
      iter += 1
    } while (math.abs(lambda - lambdaP) > 1e-12 && iter < 200)
    if (iter >= 200) return graft.geom.Geodesic.inverse(lat1, lon1, lat2, lon2)
    val uSq = cosSqAlpha * (a * a - b * b) / (b * b)
    val bigA = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    val bigB = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    val dSigma = bigB * sinSigma * (cos2SigmaM + bigB / 4 * (cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM) -
      bigB / 6 * cos2SigmaM * (-3 + 4 * sinSigma * sinSigma) * (-3 + 4 * cos2SigmaM * cos2SigmaM)))
    b * bigA * (sigma - dSigma)
  }

  private def geodesicLength(g: Geometry): Double = {
    var s = 0.0
    def seg(cs: CoordinateSequence): Unit = {
      var i = 1
      while (i < cs.size) { s += vincenty(cs.getX(i - 1), cs.getY(i - 1), cs.getX(i), cs.getY(i)); i += 1 }
    }
    def walk(geom: Geometry, rings: Boolean): Unit = geom match {
      case l: LineString => if (!rings) seg(l.getCoordinateSequence)
      case p: Polygon =>
        if (rings) {
          seg(p.getExteriorRing.getCoordinateSequence)
          var i = 0
          while (i < p.getNumInteriorRing) { seg(p.getInteriorRingN(i).getCoordinateSequence); i += 1 }
        }
      case c: GeometryCollection =>
        var i = 0
        while (i < c.getNumGeometries) { walk(c.getGeometryN(i), rings); i += 1 }
      case _ =>
    }
    walk(g, rings = false)
    val lines = s
    lines
  }
  private def geodesicPerimeter(g: Geometry): Double = {
    var s = 0.0
    def seg(cs: CoordinateSequence): Unit = {
      var i = 1
      while (i < cs.size) { s += vincenty(cs.getX(i - 1), cs.getY(i - 1), cs.getX(i), cs.getY(i)); i += 1 }
    }
    def walk(geom: Geometry): Unit = geom match {
      case p: Polygon =>
        seg(p.getExteriorRing.getCoordinateSequence)
        var i = 0
        while (i < p.getNumInteriorRing) { seg(p.getInteriorRingN(i).getCoordinateSequence); i += 1 }
      case c: GeometryCollection =>
        var i = 0
        while (i < c.getNumGeometries) { walk(c.getGeometryN(i)); i += 1 }
      case _ =>
    }
    walk(g)
    s
  }
  /** Ellipsoidal polygon area: geographic latitudes are mapped to authalic
   *  latitudes (Snyder, Map Projections — A Working Manual, eq. 3-18), under
   *  which the WGS84 ellipsoid is exactly area-preserving onto the authalic
   *  sphere (R=6371007.181 m); the ring area is then the exact great-circle
   *  spherical excess (per-edge atan2 form, Bevis & Cambareri 1987). The only
   *  approximation left is geodesic-vs-great-circle edge deviation —
   *  second-order small for real-world segment lengths. Axis convention
   *  matches the reference's GeographicLib binding (st_area_spheroid.cpp →
   *  PolygonArea::AddPoint(x=lat, y=lon)). */
  private def sphereArea(g: Geometry): Double = {
    val R = 6371007.1809184747
    val e2 = WgsF * (2 - WgsF)
    val e4 = e2 * e2; val e6 = e4 * e2
    def authalic(lat: Double): Double =
      lat - (e2 / 3 + 31 * e4 / 180 + 59 * e6 / 560) * math.sin(2 * lat) +
        (17 * e4 / 360 + 61 * e6 / 1260) * math.sin(4 * lat) -
        (383 * e6 / 45360) * math.sin(6 * lat)
    def ringArea(cs: CoordinateSequence): Double = {
      var total = 0.0
      val n = cs.size
      if (n < 3) return 0.0
      var i = 0
      while (i < n - 1) {
        val lam1 = math.toRadians(cs.getY(i)); val phi1 = authalic(math.toRadians(cs.getX(i)))
        val lam2 = math.toRadians(cs.getY(i + 1)); val phi2 = authalic(math.toRadians(cs.getX(i + 1)))
        val t1 = math.tan(phi1 / 2); val t2 = math.tan(phi2 / 2)
        total += 2 * math.atan2(math.tan((lam2 - lam1) / 2) * (t1 + t2), 1 + t1 * t2)
        i += 1
      }
      math.abs(total * R * R)
    }
    g match {
      case p: Polygon =>
        var a = ringArea(p.getExteriorRing.getCoordinateSequence)
        var i = 0
        while (i < p.getNumInteriorRing) { a -= ringArea(p.getInteriorRingN(i).getCoordinateSequence); i += 1 }
        a
      case c: GeometryCollection =>
        var a = 0.0; var i = 0
        while (i < c.getNumGeometries) { a += sphereArea(c.getGeometryN(i)); i += 1 }
        a
      case _ => 0.0
    }
  }

  // ------------------------------------------------- CRS transforms (subset)
  // Supported: EPSG:4326 (authority order lat/lon), OGC:CRS84 (lon/lat),
  // EPSG:3857 web mercator. Axis-order semantics follow the reference
  // (proj/functions.cpp:440-474): with always_xy=true, 4326 coordinates are
  // treated as lon/lat regardless of authority order.
  // zone strictly 01-60: EPSG:32661/32761 are UPS, not "UTM zone 61"
  private val UtmRe = "EPSG:32([67])(0[1-9]|[1-5][0-9]|60)".r
  // ETRS89 / UTM zones 28N-38N only (GRS80 ≡ WGS84 here); 258xx outside
  // that band is NOT a UTM code and must fall through to the registry
  private val EtrsUtmRe = "EPSG:258(2[89]|3[0-8])".r
  // CRS text resolution is per-QUERY-constant but runs per ROW: WKT1/WKT2/
  // PROJJSON inputs cost a regex sweep + parameter synthesis each call, so
  // memoize on the raw string (bounded: distinct CRS texts per JVM)
  private val crsIdCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def crsId(s: String): String = {
    val cached = crsIdCache.get(s)
    if (cached != null) cached
    else {
      val r = crsIdUncached(s)
      if (crsIdCache.size < 10000) crsIdCache.put(s, r)
      r
    }
  }
  /** `CODE@epoch` — PROJ's coordinate-epoch spelling for dynamic frames:
   *  `EPSG:9000@2025.5` means ITRF2014 coordinates observed at 2025.5.
   *  The epoch feeds time-dependent datum shifts (plate-fixed frames like
   *  GDA2020); static datums ignore it, matching PROJ. */
  private val EpochRe = """(?s)^(.+)@(\d{4}(?:\.\d+)?)$""".r
  /** Split a `CODE@epoch` tag off a resolved CRS id. Only a suffix matching
   *  EpochRe is an epoch — `+proj=` strings legitimately contain '@' in grid
   *  names (`+nadgrids=@null`, `@path` optional-grid entries), so anything
   *  else passes through untouched. */
  private def splitEpoch(id: String): (String, Option[Double]) =
    if (id.startsWith("+")) (id, None)
    else id match {
      case EpochRe(code, ep) => (code, Some(ep.toDouble))
      case _ => (id, None)
    }
  private def crsIdUncached(s: String): String = {
    val raw = s.trim
    // PROJ parameter strings are case-sensitive: resolve (and validate,
    // loudly) before the uppercase EPSG normalization below
    if (raw.startsWith("+")) { graft.geom.Proj.fromProjString(raw); raw }
    else if (!raw.regionMatches(true, 0, "PROJC", 0, 5) &&
             !raw.regionMatches(true, 0, "GEOGC", 0, 5) &&
             !raw.startsWith("{") && EpochRe.matches(raw)) {
      val EpochRe(code, ep) = raw: @unchecked
      val base = crsId(code)
      val t = ep.toDouble
      if (t < 1900.0 || t > 2200.0) throw new IllegalArgumentException(
        s"ST_Transform: coordinate epoch '$ep' out of range (decimal years, e.g. 2025.5)")
      s"$base@$ep"
    }
    // WKT CRS text (the contents of a .prj — WKT1 PROJCS/GEOGCS or WKT2
    // PROJCRS/GEOGCRS): the AUTHORITY/ID code wins when the registry knows
    // it; otherwise a +proj= string is synthesized from the WKT parameters
    // and resolved over the same kernels (loud rejection for unimplemented
    // methods — same policy as +proj= input)
    else if (raw.regionMatches(true, 0, "PROJCS", 0, 6) ||
             raw.regionMatches(true, 0, "GEOGCS", 0, 6) ||
             raw.regionMatches(true, 0, "PROJCRS", 0, 7) ||
             raw.regionMatches(true, 0, "GEOGCRS", 0, 7)) wkt1ToCrsId(raw)
    // PROJJSON (the PROJ project's JSON CRS encoding)
    else if (raw.startsWith("{")) projjsonToCrsId(raw)
    else raw.toUpperCase match {
      case "EPSG:4326" => "4326"
      case "OGC:CRS84" | "CRS84" => "CRS84"
      case "EPSG:3857" | "EPSG:900913" | "ESRI:102100" | "EPSG:102100" => "3857"
      case u @ UtmRe(_, _) => u
      case u @ EtrsUtmRe(_) => u
      case p if graft.geom.Proj.lookup(p).isDefined => p
      case p if graft.geom.Proj.geographic.contains(p) => p
      case other => throw new IllegalArgumentException(
        s"ST_Transform: unsupported CRS '$other' (supported: EPSG:4326, OGC:CRS84, EPSG:3857, " +
          "UTM families EPSG:326xx/327xx/258xx/269xx/283xx/78xx/319xx/230xx, the embedded " +
          "EPSG registry — run st_list_proj_crs() for the full catalog — and '+proj=…' " +
          "parameter strings over the implemented kernels)")
    }
  }
  private def knownCrsCode(c: String): Boolean =
    c == "EPSG:4326" || c == "OGC:CRS84" || c == "EPSG:3857" || c == "EPSG:900913" ||
      c == "ESRI:102100" || c == "EPSG:102100" ||
      UtmRe.matches(c) || EtrsUtmRe.matches(c) ||
      graft.geom.Proj.lookup(c).isDefined || graft.geom.Proj.geographic.contains(c)
  private def geographicCode(c: String): Boolean =
    c == "EPSG:4326" || c == "OGC:CRS84" || graft.geom.Proj.geographic.contains(c)

  /** Resolve WKT1/WKT2 CRS text: the outermost AUTHORITY/ID code wins when
   *  the registry knows it (nested codes — base CRS, units, parameters —
   *  are filtered: a projected CRS must never resolve to its base
   *  geographic's code); otherwise the `+proj=` equivalent is synthesized
   *  from the WKT parameters. */
  private def wkt1ToCrsId(raw: String): String = {
    val isWkt2 = raw.regionMatches(true, 0, "PROJCRS", 0, 7) ||
      raw.regionMatches(true, 0, "GEOGCRS", 0, 7)
    val projectedInput = raw.regionMatches(true, 0, "PROJC", 0, 5)
    val codeRe =
      if (isWkt2) "ID\\[\"([^\"]+)\"\\s*,\\s*\"?(\\d+)\"?\\]".r
      else "AUTHORITY\\[\"([^\"]+)\"\\s*,\\s*\"?([^\"\\]]+)\"?\\]".r
    val byCode = codeRe.findAllMatchIn(raw)
      .map(m => s"${m.group(1)}:${m.group(2)}".toUpperCase)
      .filter(knownCrsCode)
      .filterNot(c => projectedInput && geographicCode(c))
      .toSeq.lastOption
    byCode.map(crsId).getOrElse {
      val p4 = if (isWkt2) graft.io.GeoMeta.proj4FromWkt2(raw)
               else graft.io.GeoMeta.proj4FromWkt1(raw)
      if (p4 == null) throw new IllegalArgumentException(
        s"ST_Transform: cannot map ${if (isWkt2) "WKT2" else "WKT1"} CRS onto the " +
          s"implemented kernels (projection/datum outside the supported set): '${raw.take(120)}'")
      graft.geom.Proj.fromProjString(p4) // validate loudly
      p4
    }
  }

  /** Resolve PROJJSON CRS text — same code-first / synthesize-second policy. */
  private def projjsonToCrsId(raw: String): String = {
    val projectedInput = raw.contains("\"ProjectedCRS\"")
    val byCode =
      "\"id\"\\s*:\\s*\\{\\s*\"authority\"\\s*:\\s*\"([^\"]+)\"\\s*,\\s*\"code\"\\s*:\\s*\"?(\\d+)\"?".r
        .findAllMatchIn(raw)
        .map(m => s"${m.group(1)}:${m.group(2)}".toUpperCase)
        .filter(knownCrsCode)
        .filterNot(c => projectedInput && geographicCode(c))
        .toSeq.lastOption
    byCode.map(crsId).getOrElse {
      val p4 = graft.io.GeoMeta.proj4FromProjjson(raw)
      if (p4 == null) throw new IllegalArgumentException(
        "ST_Transform: cannot map PROJJSON CRS onto the implemented kernels " +
          s"(method/datum outside the supported set): '${raw.take(120)}'")
      graft.geom.Proj.fromProjString(p4) // validate loudly
      p4
    }
  }

  /** A coordinate epoch tagged on EITHER side is the epoch of the whole
   *  operation (it describes when the dynamic-frame coordinates were
   *  observed, wherever the tag was spelled) — so it is propagated to both
   *  halves before the hub hop. Static datums ignore it. */
  private def withEpoch(id: String, ep: Option[Double]): String =
    if (ep.isEmpty || id.startsWith("+") || EpochRe.matches(id)) id else s"$id@${ep.get}"
  /** Coordinate epoch of the whole operation. PROJ treats mismatched
   *  epochs on the two sides of one operation as an error — so do we. */
  private def operationEpoch(from: String, to: String): Option[Double] = {
    val ef = splitEpoch(from)._2; val et = splitEpoch(to)._2
    (ef, et) match {
      case (Some(a), Some(b)) if a != b => throw new IllegalArgumentException(
        s"ST_Transform: mismatched coordinate epochs on source ($a) and target ($b) CRS — " +
          "one operation has one epoch; tag only one side or use equal epochs")
      case _ => ef.orElse(et)
    }
  }
  def transformPoint(x: Double, y: Double, from: String, to: String, alwaysXy: Boolean): (Double, Double) = {
    val ep = operationEpoch(from, to)
    val (lon, lat) = toWgs84Fn(withEpoch(from, ep), alwaysXy)(x, y)
    fromWgs84Fn(withEpoch(to, ep), alwaysXy)(lon, lat)
  }
  // Compiled per-side kernels: splitEpoch (a regex probe), the CRS-id
  // dispatch, registry lookups and zone parsing are per-SIDE-constant but
  // used to run per COORDINATE. Each side resolves once into a
  // (x, y) => (lon, lat) closure held in a bounded cache; the closure bodies
  // are the former match arms verbatim, so results are bit-identical
  // (guide §4: per-row work). These are construction artifacts like the CRS
  // registries, not result memos — KernelMemo.clear leaves them alone.
  private val toWgsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean), (Double, Double) => (Double, Double)]()
  private val fromWgsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean), (Double, Double) => (Double, Double)]()
  private val sideCacheMax = 16384 // epoch-tagged ids are open-ended; cap the cache, recompute past it
  private def toWgs84Fn(from: String, alwaysXy: Boolean): (Double, Double) => (Double, Double) = {
    val k = (from, alwaysXy)
    val hit = toWgsCache.get(k)
    if (hit != null) hit
    else {
      val f = mkToWgs84(from, alwaysXy)
      if (toWgsCache.size < sideCacheMax) toWgsCache.put(k, f)
      f
    }
  }
  private def fromWgs84Fn(to: String, alwaysXy: Boolean): (Double, Double) => (Double, Double) = {
    val k = (to, alwaysXy)
    val hit = fromWgsCache.get(k)
    if (hit != null) hit
    else {
      val f = mkFromWgs84(to, alwaysXy)
      if (fromWgsCache.size < sideCacheMax) fromWgsCache.put(k, f)
      f
    }
  }
  /** first half of a transform: resolved-CRS coordinates → WGS84 lon/lat.
   *  A `@epoch` suffix on the id feeds time-dependent datum shifts. */
  private def mkToWgs84(from: String, alwaysXy: Boolean): (Double, Double) => (Double, Double) = {
    val (fromId, epoch) = splitEpoch(from)
    fromId match {
      case "4326" => if (alwaysXy) (x, y) => (x, y) else (x, y) => (y, x)
      case "CRS84" => (x, y) => (x, y)
      case "3857" => (x, y) =>
        (x / 6378137.0 * 180.0 / math.Pi,
         (2 * math.atan(math.exp(y / 6378137.0)) - math.Pi / 2) * 180.0 / math.Pi)
      case UtmRe(hemi, zone) =>
        val z = zone.toInt; val n = hemi == "6"
        (x, y) => graft.geom.Tm.inverse(x, y, z, north = n)
      case EtrsUtmRe(zone) =>
        val z = zone.toInt
        (x, y) => graft.geom.Tm.inverse(x, y, z, north = true)
      case p if graft.geom.Proj.geographic.contains(p) =>
        val g = graft.geom.Proj.geographic(p)._2
        (x, y) => g.toWgs84(x, y, epoch) // lon/lat in, always_xy
      case p =>
        val c = graft.geom.Proj.lookup(p).get
        (x, y) => {
          val (lo, la) = c.proj.inverse(x, y)
          c.datum.toWgs84(lo, la, epoch)
        }
    }
  }
  /** second half of a transform: WGS84 lon/lat → resolved-CRS coordinates */
  private def mkFromWgs84(to: String, alwaysXy: Boolean): (Double, Double) => (Double, Double) = {
    val (toId, epoch) = splitEpoch(to)
    toId match {
      case "4326" => if (alwaysXy) (lon, lat) => (lon, lat) else (lon, lat) => (lat, lon)
      case "CRS84" => (lon, lat) => (lon, lat)
      case "3857" => (lon, lat) =>
        (math.toRadians(lon) * 6378137.0,
         6378137.0 * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2)))
      case UtmRe(hemi, zone) =>
        val z = zone.toInt; val n = hemi == "6"
        (lon, lat) => graft.geom.Tm.forward(lon, lat, z, north = n)
      case EtrsUtmRe(zone) =>
        val z = zone.toInt
        (lon, lat) => graft.geom.Tm.forward(lon, lat, z, north = true)
      case p if graft.geom.Proj.geographic.contains(p) =>
        val g = graft.geom.Proj.geographic(p)._2
        (lon, lat) => g.fromWgs84(lon, lat, epoch)
      case p =>
        val c = graft.geom.Proj.lookup(p).get
        (lon, lat) => {
          val (lo, la) = c.datum.fromWgs84(lon, lat, epoch)
          c.proj.forward(lo, la)
        }
    }
  }
  /** vertical datum of a resolved CRS id — only `+proj=` strings can carry
    * `+geoidgrids` (registry codes are horizontal-only) */
  private def vgridOf(id: String): Option[Seq[graft.geom.Gtx.Grid]] =
    if (id.startsWith("+")) graft.geom.Proj.fromProjString(id).flatMap(_.vgrid) else None

  /** Everything per-call-constant about one st_transform: identity flag,
   *  vertical grids, and the two compiled side kernels. Resolved once per
   *  (from, to, alwaysXy) and cached — the transform MISS path used to
   *  re-run crsId/operationEpoch/vgridOf (string parsing, a fromProjString
   *  probe) on every call. */
  private final class XPrep(
      val same: Boolean,
      val vf: Option[Seq[graft.geom.Gtx.Grid]],
      val vt: Option[Seq[graft.geom.Gtx.Grid]],
      val toF: (Double, Double) => (Double, Double),
      val fromF: (Double, Double) => (Double, Double)) {
    val vertical: Boolean = vf.isDefined || vt.isDefined
  }
  private val xprepCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Boolean), XPrep]()
  private def xprep(from: String, to: String, alwaysXy: Boolean): XPrep = {
    val k = (from, to, alwaysXy)
    val hit = xprepCache.get(k)
    if (hit != null) hit
    else {
      val sf0 = crsId(from); val st0 = crsId(to)
      val p =
        if (sf0 == st0) new XPrep(true, None, None, null, null)
        else {
          val ep = operationEpoch(sf0, st0)
          val sf = withEpoch(sf0, ep); val st = withEpoch(st0, ep)
          new XPrep(false, vgridOf(sf0), vgridOf(st0),
            toWgs84Fn(sf, alwaysXy), fromWgs84Fn(st, alwaysXy))
        }
      if (xprepCache.size < sideCacheMax) xprepCache.put(k, p)
      p
    }
  }

  private def transformGeom(g: Geometry, from: String, to: String, alwaysXy: Boolean): Geometry =
    transformGeomPrepped(g, xprep(from, to, alwaysXy))
  private def transformGeomPrepped(g: Geometry, p: XPrep): Geometry = {
    if (p.same) return g
    val vf = p.vf; val vt = p.vt
    val vertical = p.vertical
    val toF = p.toF; val fromF = p.fromF
    val ed = new GeometryEditor(f)
    ed.edit(g, new GeometryEditor.CoordinateSequenceOperation {
      override def edit(cs: CoordinateSequence, geom: Geometry): CoordinateSequence = {
        val out = f.getCoordinateSequenceFactory.create(cs.size, cs.getDimension, cs.getMeasures)
        val hasZ = cs.getDimension - cs.getMeasures >= 3
        var i = 0
        while (i < cs.size) {
          if (vertical && hasZ) {
            // vertical-datum chain: interpolate the geoid undulation at the
            // WGS84 geographic position; orthometric H + N = ellipsoidal h
            val (lon, lat) = toF(cs.getX(i), cs.getY(i))
            var z = cs.getOrdinate(i, 2)
            if (!z.isNaN) {
              vf.foreach(gs => z += graft.geom.Gtx.undulationOf(gs, lon, lat))
              vt.foreach(gs => z -= graft.geom.Gtx.undulationOf(gs, lon, lat))
            }
            val (nx, ny) = fromF(lon, lat)
            out.setOrdinate(i, 0, nx); out.setOrdinate(i, 1, ny); out.setOrdinate(i, 2, z)
            var d = 3
            while (d < cs.getDimension) { out.setOrdinate(i, d, cs.getOrdinate(i, d)); d += 1 }
          } else {
            val (lon, lat) = toF(cs.getX(i), cs.getY(i))
            val (nx, ny) = fromF(lon, lat)
            out.setOrdinate(i, 0, nx); out.setOrdinate(i, 1, ny)
            var d = 2
            while (d < cs.getDimension) { out.setOrdinate(i, d, cs.getOrdinate(i, d)); d += 1 }
          }
          i += 1
        }
        out
      }
    })
  }

  /** Point fast path for the transform miss: ISO little-endian simple-point
   *  WKB (XY/XYZ/XYM/XYZM, no EWKB flags, exact length, every present
   *  ordinate non-NaN) transforms straight off the bytes — no JTS parse, no
   *  GeometryEditor, no re-serialization sizing pass. The per-coordinate
   *  math is the SAME compiled side kernels transformGeomPrepped uses, and
   *  the non-NaN requirement pins the output ISO type code to the input's
   *  (Wkb.write derives dimensionality from non-NaN ordinates), so the bytes
   *  are identical to the general path's. Returns null for anything else —
   *  caller falls through to the general path. */
  private def transformPointWkb(in: Array[Byte], p: XPrep): Array[Byte] = {
    if (in.length < 21 || in(0) != 1) return null
    val bb = java.nio.ByteBuffer.wrap(in).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val t = bb.getInt(1)
    var hasZ = false; var hasM = false
    t match {
      case 1 =>
      case 1001 => hasZ = true
      case 2001 => hasM = true
      case 3001 => hasZ = true; hasM = true
      case _ => return null
    }
    val dim = 2 + (if (hasZ) 1 else 0) + (if (hasM) 1 else 0)
    if (in.length != 5 + 8 * dim) return null
    val x = bb.getDouble(5); val y = bb.getDouble(13)
    val zi = if (hasZ) bb.getDouble(21) else Double.NaN
    val mi = if (hasM) bb.getDouble(if (hasZ) 29 else 21) else Double.NaN
    if (x.isNaN || y.isNaN || (hasZ && zi.isNaN) || (hasM && mi.isNaN)) return null
    if (p.same) return in
    var nx = 0.0; var ny = 0.0; var nz = zi
    if (p.vertical && hasZ) {
      val (lon, lat) = p.toF(x, y)
      p.vf.foreach(gs => nz += graft.geom.Gtx.undulationOf(gs, lon, lat))
      p.vt.foreach(gs => nz -= graft.geom.Gtx.undulationOf(gs, lon, lat))
      val (ox, oy) = p.fromF(lon, lat)
      nx = ox; ny = oy
    } else {
      val (lon, lat) = p.toF(x, y)
      val (ox, oy) = p.fromF(lon, lat)
      nx = ox; ny = oy
    }
    val out = java.nio.ByteBuffer.allocate(in.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(1.toByte).putInt(t).putDouble(nx).putDouble(ny)
    if (hasZ) out.putDouble(nz)
    if (hasM) out.putDouble(mi)
    out.array()
  }

  // ---------------------------------------------------------------- loading
  def load(): Unit = {
    // ---- constructors
    fn("st_point", B, Seq(D, D))(a => Wkb.writePointXY(dbl(a(0)), dbl(a(1))))
    // columnar point constructors (reference POINT_2D/3D/4D struct types,
    // types.cpp:11-31): Tungsten-columnar structs, no serialization
    fn("st_point2d", StructType(Seq(StructField("x", D), StructField("y", D))), Seq(D, D))(a =>
      new GenericInternalRow(Array[Any](dbl(a(0)), dbl(a(1)))))
    fn("st_point3d", StructType(Seq(StructField("x", D), StructField("y", D), StructField("z", D))), Seq(D, D, D))(a =>
      new GenericInternalRow(Array[Any](dbl(a(0)), dbl(a(1)), dbl(a(2)))))
    fn("st_point4d", StructType(Seq(StructField("x", D), StructField("y", D), StructField("z", D), StructField("m", D))), Seq(D, D, D, D))(a =>
      new GenericInternalRow(Array[Any](dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)))))
    fn("st_makeenvelope", B, Seq(D, D, D, D))(a => w(Geo.box(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)))))
    // XYZ tile → EPSG:3857 envelope (PostGIS ST_TileEnvelope signature sans
    // custom bounds; optional margin is a fraction of tile size per side) —
    // the SQL-side companion of GeoWriter.mvtPyramid/the MVT pyramid reader
    fn("st_tileenvelope", B, Seq(I, I, I), Seq(I, I, I, D)) { a =>
      val z = a(0).asInstanceOf[Int]
      val x = a(1).asInstanceOf[Int]
      val y = a(2).asInstanceOf[Int]
      val margin = if (a.length > 3) dbl(a(3)) else 0.0
      require(z >= 0 && z <= 30, s"st_tileenvelope: zoom $z out of [0, 30]")
      val n = 1L << z
      require(x >= 0 && x < n && y >= 0 && y < n,
        s"st_tileenvelope: tile ($x, $y) outside 2^$z grid")
      require(margin >= -0.5, s"st_tileenvelope: margin $margin < -0.5 leaves no tile")
      val world = 2 * math.Pi * 6378137.0
      val t = world / n
      val m = margin * t
      w(Geo.box(-world / 2 + x * t - m, world / 2 - (y + 1) * t - m,
                -world / 2 + (x + 1) * t + m, world / 2 - y * t + m))
    }
    // PostGIS ST_AsMVTGeom: geometry → the tile-local integer grid of a
    // bounds envelope (y down, origin top-left), clipped to the tile plus
    // `buffer` grid units of margin, snapped to integers with a robust
    // precision reduce. NULL when nothing survives — pair with
    // st_asmvt_agg(...) GROUP BY tile (st_tileenvelope supplies bounds).
    fn("st_asmvtgeom", B, Seq(B, B), Seq(B, B, I), Seq(B, B, I, I), Seq(B, B, I, I, BO)) { a =>
      val g0 = rg(a(0))
      val env = rg(a(1)).getEnvelopeInternal
      val extent = if (a.length > 2) a(2).asInstanceOf[Int] else 4096
      val buffer = if (a.length > 3) a(3).asInstanceOf[Int] else 256
      val clip = if (a.length > 4) a(4).asInstanceOf[Boolean] else true
      require(extent > 0, "st_asmvtgeom: extent must be > 0")
      require(env.getWidth > 0 && env.getHeight > 0,
        "st_asmvtgeom: bounds envelope has zero width or height")
      val sx = extent / env.getWidth
      val sy = extent / env.getHeight
      val local = g0.copy()
      local.apply(new org.locationtech.jts.geom.CoordinateFilter {
        override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
          c.x = (c.x - env.getMinX) * sx
          c.y = (env.getMaxY - c.y) * sy
        }
      })
      local.geometryChanged()
      val clipped =
        if (!clip) local
        else {
          val ce = new org.locationtech.jts.geom.Envelope(
            -buffer.toDouble, extent + buffer.toDouble,
            -buffer.toDouble, extent + buffer.toDouble)
          if (ce.covers(local.getEnvelopeInternal)) local
          else try local.intersection(Geo.factory.toGeometry(ce))
          catch { case _: org.locationtech.jts.geom.TopologyException =>
            local.buffer(0).intersection(Geo.factory.toGeometry(ce))
          }
        }
      val snapped = org.locationtech.jts.precision.GeometryPrecisionReducer
        .reduce(clipped, new org.locationtech.jts.geom.PrecisionModel(1.0))
      if (snapped.isEmpty) null else w(snapped)
    }
    fn("st_geomfromtext", B, Seq(S), Seq(S, BO)) { a =>
      if (a.length == 2 && a(1).asInstanceOf[Boolean]) {
        try Geo.wkbFromWkt(str(a(0))) catch { case _: Exception => null }
      } else Geo.wkbFromWkt(str(a(0)))
    }
    fn("st_geomfromwkb", B, Seq(B))(a => w(rg(a(0)))) // validates + canonicalizes
    // HEXEWKB variant: JTS WKBReader consumes both ISO and EWKB (SRID-flag)
    // encodings, so both names share the decoder (hexwkb.cpp registers both)
    for (name <- Seq("st_geomfromhexwkb", "st_geomfromhexewkb"))
      fn(name, B, Seq(S)) { a =>
        val h = str(a(0))
        val bytes = new Array[Byte](h.length / 2)
        var i = 0
        while (i < bytes.length) { bytes(i) = Integer.parseInt(h.substring(2 * i, 2 * i + 2), 16).toByte; i += 1 }
        w(Geo.read(bytes))
      }
    fn("st_geomfromgeojson", B, Seq(S))(a => w(GeoJson.parse(str(a(0)))))
    fn("st_makeline", B, Seq(B, B), Seq(ArrayType(B))) { a =>
      val pts: Array[Coordinate] =
        if (a.length == 2) {
          val gs = Array(rg(a(0)), rg(a(1)))
          // reference errors on EMPTY inputs in the binary form (st_makeline.cpp)
          require(gs.forall(!_.isEmpty), "ST_MakeLine: cannot construct a line from EMPTY points")
          gs.flatMap(_.getCoordinates)
        } else a(0).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toObjectArray(B).flatMap(b => if (b == null) Array.empty[Coordinate] else Geo.read(b.asInstanceOf[Array[Byte]]).getCoordinates)
      // list form: NULL/EMPTY members drop out, but exactly one surviving
      // point is an error (st_makeline.test statement-error goldens)
      if (pts.length == 1) throw new IllegalArgumentException(
        "ST_MakeLine requires zero or two or more POINT geometries")
      if (pts.length < 2) w(f.createLineString())
      else {
        def mOf(c: Coordinate): Double = c match {
          case zm: CoordinateXYZM => zm.getM
          case m: CoordinateXYM => m.getM
          case _ => Double.NaN
        }
        // mixed dimensions promote with 0-fill (st_makeline.test golden:
        // POINT Z + POINT M -> LINESTRING ZM (1 1 1 0, 2 2 0 3))
        val anyZ = pts.exists(c => !c.getZ.isNaN)
        val anyM = pts.exists(c => !mOf(c).isNaN)
        if (anyZ && anyM) {
          val cs: Array[Coordinate] = pts.map { c =>
            val m = mOf(c)
            new CoordinateXYZM(c.getX, c.getY, if (c.getZ.isNaN) 0 else c.getZ, if (m.isNaN) 0 else m)
          }
          w(f.createLineString(cs))
        } else if (anyZ && pts.exists(c => c.getZ.isNaN))
          w(forceDims(f.createLineString(pts), wantZ = true, wantM = false, 0, 0))
        else if (anyM && pts.exists(c => mOf(c).isNaN)) {
          val cs: Array[Coordinate] = pts.map { c =>
            val m = mOf(c)
            new CoordinateXYM(c.getX, c.getY, if (m.isNaN) 0 else m)
          }
          w(f.createLineString(cs))
        } else w(f.createLineString(pts))
      }
    }
    fn("st_makepolygon", B, Seq(B), Seq(B, ArrayType(B))) { a =>
      val shell = rg(a(0)) match {
        case l: LineString if l.isClosed && l.getNumPoints >= 4 => f.createLinearRing(l.getCoordinateSequence)
        case _ => throw new IllegalArgumentException("ST_MakePolygon: shell must be a closed LINESTRING with >= 4 points")
      }
      val holes: Array[LinearRing] =
        if (a.length < 2) Array.empty
        else a(1).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toObjectArray(B).collect {
          case b if b != null => Geo.read(b.asInstanceOf[Array[Byte]]) match {
            case l: LineString if l.isClosed => f.createLinearRing(l.getCoordinateSequence)
            case _ => throw new IllegalArgumentException("ST_MakePolygon: holes must be closed LINESTRINGs")
          }
        }
      w(f.createPolygon(shell, holes))
    }
    fn("st_collect", B, Seq(ArrayType(B))) { a =>
      val arr = a(0).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toObjectArray(B)
      w(collectGeoms(arr.iterator.filter(_ != null).map(b => Geo.read(b.asInstanceOf[Array[Byte]]))))
    }

    // ---- output formats
    gS("st_astext")(Wkt.write)
    fn("st_aswkb", B, Seq(B)) { a => // stored encoding IS ISO WKB
      a(0) match {
        case b: Array[Byte] => b
        case s: UTF8String => w(Geo.fromWkt(s.toString))
      }
    }
    fn("st_ashexwkb", S, Seq(B)) { a =>
      val b = a(0) match {
        case bytes: Array[Byte] => bytes
        case s: UTF8String => w(Geo.fromWkt(s.toString))
      }
      val hex = "0123456789ABCDEF"
      val out = new Array[Char](b.length * 2)
      var i = 0
      while (i < b.length) {
        val v = b(i) & 0xff
        out(2 * i) = hex.charAt(v >>> 4)
        out(2 * i + 1) = hex.charAt(v & 0xf)
        i += 1
      }
      utf(new String(out))
    }
    gS("st_asgeojson")(GeoJson.write)
    fn("st_assvg", S, Seq(B), Seq(B, BO), Seq(B, BO, I)) { a =>
      val g = rg(a(0))
      val rel = a.length > 1 && a(1).asInstanceOf[Boolean]
      val prec = if (a.length > 2) int(a(2)) else 15
      utf(Svg.render(g, rel, prec))
    }

    // ---- accessors
    fn("st_x", D, Seq(B))(a => rg(a(0)) match { case p: Point if !p.isEmpty => p.getX; case _ => null })
    fn("st_y", D, Seq(B))(a => rg(a(0)) match { case p: Point if !p.isEmpty => p.getY; case _ => null })
    fn("st_z", D, Seq(B))(a => rg(a(0)) match {
      case p: Point if !p.isEmpty && p.getCoordinateSequence.hasZ && !p.getCoordinateSequence.getZ(0).isNaN => p.getCoordinateSequence.getZ(0)
      case _ => null
    })
    fn("st_m", D, Seq(B))(a => rg(a(0)) match {
      case p: Point if !p.isEmpty && p.getCoordinateSequence.hasM && !p.getCoordinateSequence.getM(0).isNaN => p.getCoordinateSequence.getM(0)
      case _ => null
    })
    // envelope accessors scan the WKB bytes directly — no JTS parse (the
    // reference reads its cached-bbox header, geometry_type.hpp:100-146)
    def envAt(idx: Int)(name: String): Unit = fn(name, D, Seq(B)) { a =>
      val b = a(0).asInstanceOf[Array[Byte]]
      val e = try Wkb.envelope(b) catch { case _: Exception => null }
      if (e != null) e(idx)
      else {
        val g = rg(b) // malformed-for-the-scanner or empty: JTS decides
        if (g.isEmpty) null else idx match {
          case 0 => g.getEnvelopeInternal.getMinX
          case 1 => g.getEnvelopeInternal.getMinY
          case 2 => g.getEnvelopeInternal.getMaxX
          case 3 => g.getEnvelopeInternal.getMaxY
        }
      }
    }
    envAt(0)("st_xmin"); envAt(1)("st_ymin"); envAt(2)("st_xmax"); envAt(3)("st_ymax")
    gD("st_zmin") { g =>
      var v = Double.PositiveInfinity
      g.apply(new CoordinateSequenceFilter {
        override def filter(cs: CoordinateSequence, i: Int): Unit =
          if (cs.hasZ && !cs.getZ(i).isNaN && cs.getZ(i) < v) v = cs.getZ(i)
        override def isDone = false
        override def isGeometryChanged = false
      })
      if (v.isInfinite) null else v
    }
    gD("st_zmax") { g =>
      var v = Double.NegativeInfinity
      g.apply(new CoordinateSequenceFilter {
        override def filter(cs: CoordinateSequence, i: Int): Unit =
          if (cs.hasZ && !cs.getZ(i).isNaN && cs.getZ(i) > v) v = cs.getZ(i)
        override def isDone = false
        override def isGeometryChanged = false
      })
      if (v.isInfinite) null else v
    }
    gD("st_mmin") { g =>
      var v = Double.PositiveInfinity
      g.apply(new CoordinateSequenceFilter {
        override def filter(cs: CoordinateSequence, i: Int): Unit =
          if (cs.hasM && !cs.getM(i).isNaN && cs.getM(i) < v) v = cs.getM(i)
        override def isDone = false
        override def isGeometryChanged = false
      })
      if (v.isInfinite) null else v
    }
    gD("st_mmax") { g =>
      var v = Double.NegativeInfinity
      g.apply(new CoordinateSequenceFilter {
        override def filter(cs: CoordinateSequence, i: Int): Unit =
          if (cs.hasM && !cs.getM(i).isNaN && cs.getM(i) > v) v = cs.getM(i)
        override def isDone = false
        override def isGeometryChanged = false
      })
      if (v.isInfinite) null else v
    }
    // both alias spellings are registered in the reference (scalar.hpp)
    gI("st_npoints")(_.getNumPoints)
    gI("st_numpoints")(_.getNumPoints)
    gI("st_ngeometries")(g => if (g.isEmpty) 0 else g.getNumGeometries)
    gI("st_numgeometries")(g => if (g.isEmpty) 0 else g.getNumGeometries)
    gI("st_ninteriorrings")(g => g match { case p: Polygon => p.getNumInteriorRing; case _ => null })
    gI("st_numinteriorrings")(g => g match { case p: Polygon => p.getNumInteriorRing; case _ => null })
    // JTS reports Dimension.FALSE (-1) for GEOMETRYCOLLECTION EMPTY; the
    // reference renders 0 (st_dimension.test golden)
    gI("st_dimension")(g => math.max(g.getDimension, 0))
    gS("st_geometrytype") { g =>
      g match {
        case _: Point => "POINT"
        case _: LinearRing => "LINESTRING"
        case _: LineString => "LINESTRING"
        case _: Polygon => "POLYGON"
        case _: MultiPoint => "MULTIPOINT"
        case _: MultiLineString => "MULTILINESTRING"
        case _: MultiPolygon => "MULTIPOLYGON"
        case _: GeometryCollection => "GEOMETRYCOLLECTION"
      }
    }
    // 0 = 2D, 1 = 3DM, 2 = 3DZ, 3 = 4D (reference st_has.cpp ZMFlag semantics)
    fn("st_zmflag", I, Seq(B)) { a =>
      val g = rg(a(0))
      (if (hasZ(g)) 2 else 0) + (if (hasM(g)) 1 else 0)
    }
    gB("st_hasz")(hasZ)
    gB("st_hasm")(hasM)
    gB("st_isempty")(_.isEmpty)
    gB("st_isclosed") {
      case l: LineString => l.isClosed
      case m: MultiLineString =>
        !m.isEmpty && (0 until m.getNumGeometries).forall(i => m.getGeometryN(i).asInstanceOf[LineString].isClosed)
      case _: Point => true
      case _ => false
    }
    gB("st_isring")(g => g match { case l: LineString => l.isClosed && l.isSimple; case _ => false })
    gB("st_issimple")(_.isSimple)
    // IsValidOp is a full topology check — memoized (repeated constructed
    // shapes dominate real corpora; see graft.KernelMemo)
    fn("st_isvalid", BO, Seq(B))(a => memo(Op.IsValid, a(0))(
      java.lang.Boolean.valueOf(new IsValidOp(rg(a(0))).isValid)))
    gG("st_startpoint")(g => g match { case l: LineString if !l.isEmpty => l.getStartPoint; case _ => null })
    gG("st_endpoint")(g => g match { case l: LineString if !l.isEmpty => l.getEndPoint; case _ => null })
    fn("st_pointn", B, Seq(B, I)) { a =>
      rg(a(0)) match {
        case l: LineString =>
          val n = l.getNumPoints
          val i0 = int(a(1))
          val i = if (i0 < 0) n + i0 else i0 - 1
          if (i < 0 || i >= n) null else w(l.getPointN(i))
        case _ => null
      }
    }
    gG("st_points")(g => f.createMultiPoint(g.getCoordinates.map(f.createPoint)))
    gG("st_exteriorring")(g => g match {
      case p: Polygon if !p.isEmpty => f.createLineString(p.getExteriorRing.getCoordinateSequence)
      // reference returns LINESTRING EMPTY for an empty polygon (st_exteriorring.test)
      case _: Polygon => f.createLineString()
      case _ => null
    })
    fn("st_dump", ArrayType(StructType(Seq(StructField("geom", B), StructField("path", ArrayType(I))))), Seq(B)) { a =>
      val out = new scala.collection.mutable.ArrayBuffer[(Geometry, Array[Int])]()
      dumpInto(rg(a(0)), Nil, out)
      new GenericArrayData(out.map { case (g, path) =>
        new GenericInternalRow(Array[Any](w(g), new GenericArrayData(path.map(x => x: Any))))
      }.toArray[Any])
    }
    // PostGIS 3.2 dump-family completion. st_dumprings: exterior ring first,
    // then interiors, each as a POLYGON (PostGIS shape); polygon inputs only.
    // st_dumpsegments: every 2-point LINESTRING of every linear component
    // and ring, in traversal order.
    // st_dumppoints (PostGIS): every vertex as a POINT with its full path —
    // 1-based element indexes for collection levels (exactly st_dump's),
    // a 1-based ring index for polygons (exterior = 1), and a 1-based
    // vertex index, always last.
    fn("st_dumppoints", ArrayType(StructType(Seq(StructField("geom", B), StructField("path", ArrayType(I))))), Seq(B)) { a =>
      val out = new scala.collection.mutable.ArrayBuffer[(Geometry, Array[Int])]()
      def emit(cs: CoordinateSequence, prefix: List[Int]): Unit = {
        var i = 0
        while (i < cs.size) {
          out += ((f.createPoint(cs.getCoordinate(i).copy()), ((i + 1) :: prefix).reverse.toArray))
          i += 1
        }
      }
      def walk(g: Geometry, path: List[Int]): Unit = g match {
        case c: GeometryCollection =>
          var i = 0
          while (i < c.getNumGeometries) { walk(c.getGeometryN(i), (i + 1) :: path); i += 1 }
        case p: Point if !p.isEmpty => emit(p.getCoordinateSequence, path)
        case l: LineString => emit(l.getCoordinateSequence, path)
        case p: Polygon if !p.isEmpty =>
          emit(p.getExteriorRing.getCoordinateSequence, 1 :: path)
          (0 until p.getNumInteriorRing).foreach(i =>
            emit(p.getInteriorRingN(i).getCoordinateSequence, (i + 2) :: path))
        case _ => // empty members contribute no vertices
      }
      walk(rg(a(0)), Nil)
      new GenericArrayData(out.map { case (g, path) =>
        new GenericInternalRow(Array[Any](w(g), new GenericArrayData(path.map(x => x: Any))))
      }.toArray[Any])
    }
    fn("st_dumprings", ArrayType(B), Seq(B)) { a =>
      val out = new scala.collection.mutable.ArrayBuffer[Any]()
      def walk(g: Geometry): Unit = g match {
        case p: Polygon =>
          out += w(f.createPolygon(p.getExteriorRing.getCoordinates))
          (0 until p.getNumInteriorRing).foreach(i =>
            out += w(f.createPolygon(p.getInteriorRingN(i).getCoordinates)))
        case c: GeometryCollection => (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
        case other => throw new IllegalArgumentException(
          s"ST_DumpRings expects polygonal input, got ${other.getGeometryType}")
      }
      walk(rg(a(0)))
      new GenericArrayData(out.toArray)
    }
    fn("st_dumpsegments", ArrayType(B), Seq(B)) { a =>
      val out = new scala.collection.mutable.ArrayBuffer[Any]()
      def emit(cs: CoordinateSequence): Unit = {
        var i = 0
        while (i < cs.size - 1) {
          out += w(f.createLineString(Array(cs.getCoordinate(i).copy(), cs.getCoordinate(i + 1).copy())))
          i += 1
        }
      }
      def walk(g: Geometry): Unit = g match {
        case l: LineString => emit(l.getCoordinateSequence)
        case p: Polygon =>
          emit(p.getExteriorRing.getCoordinateSequence)
          (0 until p.getNumInteriorRing).foreach(i => emit(p.getInteriorRingN(i).getCoordinateSequence))
        case c: GeometryCollection => (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
        case _ => // points contribute no segments
      }
      walk(rg(a(0)))
      new GenericArrayData(out.toArray)
    }
    fn("st_collectionextract", B, Seq(B), Seq(B, I)) { a =>
      val g = rg(a(0))
      // reference semantics: a non-collection input passes through when the
      // requested type matches (or none was given) and yields a typed simple
      // EMPTY on a mismatch (st_collectionextract.test table goldens)
      if (!g.isInstanceOf[GeometryCollection]) {
        if (a.length < 2) w(g)
        else {
          val wantedDim = int(a(1))
          val dim = g match {
            case _: Point => 1
            case _: LineString => 2
            case _: Polygon => 3
            case _ => 0
          }
          if (dim == wantedDim) w(g)
          else w(wantedDim match {
            case 1 => f.createPoint()
            case 2 => f.createLineString(Array.empty[Coordinate])
            case 3 => f.createPolygon()
            case _ => f.createGeometryCollection()
          })
        }
      } else {
        val parts = {
          val out = new scala.collection.mutable.ArrayBuffer[(Geometry, Array[Int])]()
          dumpInto(g, Nil, out)
          out.map(_._1).filter(!_.isEmpty)
        }
        val wanted = if (a.length == 2) int(a(1)) else {
          // highest topological dimension present
          if (parts.isEmpty) 0 else parts.map(_.getDimension).max + 1
        }
        val sel = parts.filter { p =>
          wanted match {
            case 1 => p.isInstanceOf[Point]
            case 2 => p.isInstanceOf[LineString]
            case 3 => p.isInstanceOf[Polygon]
            case _ => false
          }
        }
        wanted match {
          case 1 => w(f.createMultiPoint(sel.map(_.asInstanceOf[Point]).toArray))
          case 2 => w(f.createMultiLineString(sel.map(_.asInstanceOf[LineString]).toArray))
          case 3 => w(f.createMultiPolygon(sel.map(_.asInstanceOf[Polygon]).toArray))
          case _ => w(f.createGeometryCollection())
        }
      }
    }
    gG("st_envelope")(_.getEnvelope)
    // st_extent_approx: the reference returns the cached bbox (st_extent_approx.cpp);
    // our extent is already the exact envelope, so the approximation IS exact here
    for (name <- Seq("st_extent", "st_extent_approx"))
      fn(name, StructType(Seq(
        StructField("min_x", D), StructField("min_y", D),
        StructField("max_x", D), StructField("max_y", D))), Seq(B)) { a =>
        val b = a(0).asInstanceOf[Array[Byte]]
        val e = try Wkb.envelope(b) catch { case _: Exception => null }
        if (e != null) new GenericInternalRow(Array[Any](e(0), e(1), e(2), e(3)))
        else {
          val g = rg(b)
          if (g.isEmpty) null
          else {
            val je = g.getEnvelopeInternal
            new GenericInternalRow(Array[Any](je.getMinX, je.getMinY, je.getMaxX, je.getMaxY))
          }
        }
      }

    // columnar-encoding constructors (types.cpp two-tier model): WKB →
    // POINT_2D struct / LINESTRING_2D array / POLYGON_2D nested array
    fn("st_point2dfromwkb", StructType(Seq(StructField("x", D), StructField("y", D))), Seq(B)) { a =>
      rg(a(0)) match {
        case p: Point if !p.isEmpty => new GenericInternalRow(Array[Any](p.getX, p.getY))
        case _ => null
      }
    }
    fn("st_linestring2dfromwkb",
      ArrayType(StructType(Seq(StructField("x", D), StructField("y", D)))), Seq(B)) { a =>
      rg(a(0)) match {
        case l: LineString =>
          new GenericArrayData(l.getCoordinates.map(c =>
            new GenericInternalRow(Array[Any](c.x, c.y)): Any))
        case _ => null
      }
    }
    fn("st_polygon2dfromwkb",
      ArrayType(ArrayType(StructType(Seq(StructField("x", D), StructField("y", D))))), Seq(B)) { a =>
      rg(a(0)) match {
        case p: Polygon =>
          def ring(r: LineString): Any = new GenericArrayData(r.getCoordinates.map(c =>
            new GenericInternalRow(Array[Any](c.x, c.y)): Any))
          val rings: Array[Any] = (ring(p.getExteriorRing) +:
            Array.tabulate(p.getNumInteriorRing)(i => ring(p.getInteriorRingN(i)))).toArray
          new GenericArrayData(rings)
        case _ => null
      }
    }

    // ---- measures
    // direct-WKB shoelace (no JTS parse) with the general reader as fallback
    // (non-WKB inputs — WKT strings, columnar structs — take the rg path)
    fn("st_area", D, Seq(B)) { a =>
      a(0) match {
        case b: Array[Byte] =>
          try Wkb.area(b)
          catch { case _: Exception => rg(b).getArea }
        case other => rg(other).getArea
      }
    }
    fn("st_length", D, Seq(B)) { a =>
      a(0) match {
        case b: Array[Byte] =>
          try Wkb.length(b)
          catch { case _: Exception => lineLength(rg(b)) }
        case other => lineLength(rg(other))
      }
    }
    fn("st_perimeter", D, Seq(B)) { a =>
      a(0) match {
        case b: Array[Byte] =>
          try Wkb.perimeter(b)
          catch { case _: Exception => perimeter(rg(b)) }
        case other => perimeter(rg(other))
      }
    }
    fn("st_distance", D, Seq(B, B))(a => rg(a(0)).distance(rg(a(1))))
    fn("st_dwithin", BO, Seq(B, B, D))(a => rg(a(0)).isWithinDistance(rg(a(1)), dbl(a(2))))
    fn("st_maxdistance", D, Seq(B, B)) { a =>
      // max over vertex-pairs of the two hulls (sufficient for max distance)
      val ca = rg(a(0)).convexHull().getCoordinates
      val cb = rg(a(1)).convexHull().getCoordinates
      var mx = 0.0
      ca.foreach(p => cb.foreach(q => { val d = p.distance(q); if (d > mx) mx = d }))
      mx
    }
    // PostGIS ST_LongestLine: the st_shortestline dual — the 2-point line
    // realizing st_maxdistance, endpoints in (a, b) order, first maximal
    // pair in hull traversal order (strict > keeps the choice deterministic)
    fn("st_longestline", B, Seq(B, B)) { a =>
      val ga = rg(a(0)); val gb = rg(a(1))
      if (ga.isEmpty || gb.isEmpty) null
      else {
        val ca = ga.convexHull().getCoordinates
        val cb = gb.convexHull().getCoordinates
        var mx = -1.0
        var pa: Coordinate = null; var pb: Coordinate = null
        ca.foreach(p => cb.foreach(q => {
          val d = p.distance(q)
          if (d > mx) { mx = d; pa = p; pb = q }
        }))
        w(f.createLineString(Array(pa.copy(), pb.copy())))
      }
    }
    gG("st_centroid")(_.getCentroid)
    fn("st_haversine", D, Seq(D, D, D, D), Seq(B, B)) { a =>
      if (a.length == 4) haversine(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)))
      else {
        val p1 = rg(a(0)).asInstanceOf[Point]; val p2 = rg(a(1)).asInstanceOf[Point]
        haversine(p1.getX, p1.getY, p2.getX, p2.getY)
      }
    }
    fn("st_distance_sphere", D, Seq(B, B)) { a =>
      val p1 = rg(a(0)).asInstanceOf[Point]; val p2 = rg(a(1)).asInstanceOf[Point]
      haversine(p1.getX, p1.getY, p2.getX, p2.getY)
    }
    gD("st_area_spheroid")(sphereArea)
    gD("st_length_spheroid")(geodesicLength)
    gD("st_perimeter_spheroid")(geodesicPerimeter)
    fn("st_distance_spheroid", D, Seq(B, B)) { a =>
      val p1 = rg(a(0)).asInstanceOf[Point]; val p2 = rg(a(1)).asInstanceOf[Point]
      vincenty(p1.getX, p1.getY, p2.getX, p2.getY)
    }
    fn("st_dwithin_spheroid", BO, Seq(B, B, D)) { a =>
      val p1 = rg(a(0)).asInstanceOf[Point]; val p2 = rg(a(1)).asInstanceOf[Point]
      vincenty(p1.getX, p1.getY, p2.getX, p2.getY) <= dbl(a(2))
    }
    // geodesic point projection (PostGIS geography ST_Project): travel
    // `distance` meters from the point along the WGS84 geodesic at
    // `azimuth` (radians clockwise from north, matching planar st_project).
    // Axis order matches the rest of the *_spheroid family — x is LATITUDE
    // (the reference feeds x straight into GeographicLib's lat slot,
    // st_distance_spheroid.cpp:30) — so the result is POINT(lat2 lon2).
    fn("st_project_spheroid", B, Seq(B, D, D)) { a =>
      val p = rg(a(0)) match {
        case pt: Point => pt
        case g => throw new IllegalArgumentException(
          s"ST_Project_Spheroid expects a POINT, got ${g.getGeometryType}")
      }
      val (lat2, lon2, _) =
        graft.geom.Geodesic.Wgs84.direct(p.getX, p.getY, math.toDegrees(dbl(a(2))), dbl(a(1)))
      w(Geo.point(lat2, lon2))
    }

    // ---- predicates
    predicate("st_intersects", "intersects")
    predicate("st_contains", "contains")
    predicate("st_containsproperly", "containsproperly")
    predicate("st_within", "within")
    predicate("st_covers", "covers")
    predicate("st_coveredby", "coveredby")
    predicate("st_crosses", "crosses")
    predicate("st_disjoint", "disjoint")
    predicate("st_touches", "touches")
    predicate("st_overlaps", "overlaps")
    predicate("st_equals", "equals")
    fn("st_intersects_extent", BO, Seq(B, B)) { a =>
      def env(v: Any): Array[Double] = {
        val b = v.asInstanceOf[Array[Byte]]
        try Wkb.envelope(b) catch { case _: Exception =>
          val g = rg(b)
          if (g.isEmpty) null
          else {
            val e = g.getEnvelopeInternal
            Array(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
          }
        }
      }
      val ea = env(a(0)); val eb = env(a(1))
      ea != null && eb != null &&
        ea(0) <= eb(2) && ea(2) >= eb(0) && ea(1) <= eb(3) && ea(3) >= eb(1)
    }

    // ---- transforms / overlays (JTS-backed; reference module: geos)
    gG("st_boundary")(g => g match { case _: GeometryCollection if g.getGeometryType == "GeometryCollection" => null; case _ => g.getBoundary })
    // Arities mirror st_buffer.cpp:122-134: (g,d), (g,d,segs),
    // (g,d,segs,cap_style,join_style,mitre_limit). Point buffers take the
    // closed-form n-gon path — a circle approximation is pure cos/sin, no
    // need for the full buffer topology machinery.
    fn("st_buffer", B, Seq(B, D), Seq(B, D, I), Seq(B, D, I, S, S, D)) { a =>
      val g = rg(a(0)); val dist = dbl(a(1))
      if (a.length <= 3) {
        val segs = if (a.length > 2) int(a(2)) else 8
        g match {
          case p: Point if dist > 0 && segs >= 1 && !p.isEmpty => w(pointCircle(p, dist, segs))
          case _ =>
            memo(Op.Buffer, a(0), dist, n = bufferStyle(segs, -1, -1))(w(BufferOp.bufferOp(g, dist, segs)))
        }
      } else {
        val cap = bufferEnum("cap style", str(a(3)), bufferCapStyles)
        val join = bufferEnum("join style", str(a(4)), bufferJoinStyles)
        val segs = int(a(2)); val mitre = dbl(a(5))
        g match {
          // Styled caps on a point are closed forms (BufferFastPathSpec pins
          // byte-parity with BufferOp): round cap ignores join style entirely,
          // flat cap of a point is empty, square cap is ±d arithmetic.
          case p: Point if dist > 0 && segs >= 1 && !p.isEmpty =>
            cap match {
              case BufferParameters.CAP_ROUND => w(pointCircle(p, dist, segs))
              case BufferParameters.CAP_FLAT => w(f.createPolygon())
              case _ => w(pointSquare(p, dist))
            }
          case _ =>
            memo(Op.Buffer, a(0), dist, mitre, bufferStyle(segs, cap, join)) {
              val bp = new BufferParameters(segs, cap, join, mitre)
              w(new BufferOp(g, bp).getResultGeometry(dist))
            }
        }
      }
    }
    // Fused buffer measure — MeasureFusionRule rewrites st_area(st_buffer(…))
    // here: the buffered polygon is never serialized or re-parsed, and the
    // per-(input, params) area double is memoized with a probe that precedes
    // the input parse (memo hit = one hash lookup). Dispatch mirrors
    // st_buffer exactly (point closed forms included) so fused == unfused
    // bit-for-bit — BufferFastPathSpec sweeps the parity.
    fn("st_buffer_area", D, Seq(B, D), Seq(B, D, I), Seq(B, D, I, S, S, D)) { a =>
      val dist = dbl(a(1))
      if (a.length <= 3) {
        val segs = if (a.length > 2) int(a(2)) else 8
        memo(Op.BufferArea, a(0), dist, n = bufferStyle(segs, -1, -1)) {
          java.lang.Double.valueOf(rg(a(0)) match {
            case p: Point if dist > 0 && segs >= 1 && !p.isEmpty => pointCircle(p, dist, segs).getArea
            case g => BufferOp.bufferOp(g, dist, segs).getArea
          })
        }
      } else {
        val cap = bufferEnum("cap style", str(a(3)), bufferCapStyles)
        val join = bufferEnum("join style", str(a(4)), bufferJoinStyles)
        val segs = int(a(2)); val mitre = dbl(a(5))
        memo(Op.BufferArea, a(0), dist, mitre, bufferStyle(segs, cap, join)) {
          java.lang.Double.valueOf(rg(a(0)) match {
            case p: Point if dist > 0 && segs >= 1 && !p.isEmpty =>
              cap match {
                case BufferParameters.CAP_ROUND => pointCircle(p, dist, segs).getArea
                case BufferParameters.CAP_FLAT => 0.0
                case _ => pointSquare(p, dist).getArea
              }
            case g =>
              val bp = new BufferParameters(segs, cap, join, mitre)
              new BufferOp(g, bp).getResultGeometry(dist).getArea
          })
        }
      }
    }
    fn("st_convexhull", B, Seq(B))(a => memo(Op.ConvexHull, a(0)) {
      val r = rg(a(0)).convexHull()
      if (r == null) null else w(r) // gG's null-result guard: SQL NULL, not NPE
    })
    // Fused overlay measures — MeasureFusionRule rewrites
    // st_area(st_intersection/union/difference(a, b)) to these, skipping the
    // overlay-geometry construction + serialization entirely. Rect×rect
    // intersections are pure arithmetic; union/difference areas follow by
    // inclusion-exclusion (exact in real arithmetic; equal on the
    // integer-valued coordinates the closed forms target).
    fn("st_intersection_area", D, Seq(B, B))(a => fusedInterArea(rg(a(0)), rg(a(1))))
    fn("st_union_area", D, Seq(B, B)) { a =>
      val ga = rg(a(0)); val gb = rg(a(1))
      ga.getArea + gb.getArea - fusedInterArea(ga, gb)
    }
    fn("st_difference_area", D, Seq(B, B)) { a =>
      val ga = rg(a(0)); val gb = rg(a(1))
      ga.getArea - fusedInterArea(ga, gb)
    }
    // XOR by inclusion-exclusion: |A Δ B| = |A| + |B| - 2|A ∩ B|
    fn("st_symdifference_area", D, Seq(B, B)) { a =>
      val ga = rg(a(0)); val gb = rg(a(1))
      ga.getArea + gb.getArea - 2.0 * fusedInterArea(ga, gb)
    }
    // Overlay ops with bbox short-circuits (the reference's cached-bbox checks,
    // geometry_type.hpp:100-146, applied at the function level): rectangle ∩
    // rectangle clips directly; envelope-disjoint polygons skip OverlayNG.
    ggG("st_difference") { (a, b) =>
      if (!a.getEnvelopeInternal.intersects(b.getEnvelopeInternal)) a
      else if (properOverlap(a, b))
        rectilinearOverlay(a.getEnvelopeInternal, b.getEnvelopeInternal, (ia, ib) => ia && !ib)
      else a.difference(b)
    }
    // PostGIS ST_SymDifference (absent from the reference's overlay set):
    // the same rect×rect closed form applies (XOR of membership)
    ggG("st_symdifference") { (a, b) =>
      if (!a.getEnvelopeInternal.intersects(b.getEnvelopeInternal)) a.union(b)
      else if (properOverlap(a, b))
        rectilinearOverlay(a.getEnvelopeInternal, b.getEnvelopeInternal, (ia, ib) => ia != ib)
      else a.symDifference(b)
    }
    ggG("st_intersection") { (a, b) =>
      if (a.isRectangle && b.isRectangle) {
        val ea = a.getEnvelopeInternal
        val eb = b.getEnvelopeInternal
        val ix0 = math.max(ea.getMinX, eb.getMinX); val ix1 = math.min(ea.getMaxX, eb.getMaxX)
        val iy0 = math.max(ea.getMinY, eb.getMinY); val iy1 = math.min(ea.getMaxY, eb.getMaxY)
        if (ix1 < ix0 || iy1 < iy0) f.createPolygon()
        else if (ix1 > ix0 && iy1 > iy0)
          // the grid path reproduces OverlayNG's ring start exactly (a plain
          // min-corner box diverges when both inputs contribute edges)
          rectilinearOverlay(ea, eb, (ia, ib) => ia && ib)
        else a.intersection(b) // boundary contact → line/point result: exact path
      } else a.intersection(b)
    }
    ggG("st_union") { (a, b) =>
      if (a.isInstanceOf[Polygon] && b.isInstanceOf[Polygon] && !a.isEmpty && !b.isEmpty &&
        !a.getEnvelopeInternal.intersects(b.getEnvelopeInternal)) {
        f.createMultiPolygon(Array(a.asInstanceOf[Polygon], b.asInstanceOf[Polygon]))
      } else if (properOverlap(a, b))
        rectilinearOverlay(a.getEnvelopeInternal, b.getEnvelopeInternal, (ia, ib) => ia || ib)
      else a.union(b)
    }
    ggG("st_shortestline")((g1, g2) => f.createLineString(DistanceOp.nearestPoints(g1, g2)))
    gG("st_flipcoordinates") {
      // Point fast path: swap two ordinates, skip the editor
      case p: Point if !p.isEmpty =>
        val c: Coordinate = p.getCoordinate match {
          case zm: CoordinateXYZM => new CoordinateXYZM(zm.y, zm.x, zm.getZ, zm.getM)
          case xm: CoordinateXYM => new CoordinateXYM(xm.y, xm.x, xm.getM)
          case c0 if !c0.getZ.isNaN => new Coordinate(c0.y, c0.x, c0.getZ)
          case c0 => new Coordinate(c0.y, c0.x)
        }
        f.createPoint(c)
      case g =>
        val ed = new GeometryEditor(f)
        ed.edit(g, new GeometryEditor.CoordinateSequenceOperation {
          override def edit(cs: CoordinateSequence, geom: Geometry): CoordinateSequence = {
            val out = f.getCoordinateSequenceFactory.create(cs.size, cs.getDimension, cs.getMeasures)
            var i = 0
            while (i < cs.size) {
              out.setOrdinate(i, 0, cs.getY(i)); out.setOrdinate(i, 1, cs.getX(i))
              var d = 2
              while (d < cs.getDimension) { out.setOrdinate(i, d, cs.getOrdinate(i, d)); d += 1 }
              i += 1
            }
            out
          }
        })
    }
    gG("st_force2d")(g => forceDims(g, wantZ = false, wantM = false, 0, 0))
    fn("st_force3dz", B, Seq(B, D))(a => w(forceDims(rg(a(0)), wantZ = true, wantM = false, dbl(a(1)), 0)))
    fn("st_force3dm", B, Seq(B, D))(a => w(forceDims(rg(a(0)), wantZ = false, wantM = true, 0, dbl(a(1)))))
    fn("st_force4d", B, Seq(B, D, D))(a => w(forceDims(rg(a(0)), wantZ = true, wantM = true, dbl(a(1)), dbl(a(2)))))
    gG("st_multi") {
      case p: Point => f.createMultiPoint(Array(p))
      case l: LineString => f.createMultiLineString(Array(l))
      case p: Polygon => f.createMultiPolygon(Array(p))
      case g => g
    }
    gG("st_normalize")(g => { val c = g.copy(); c.normalize(); c })
    gG("st_reverse")(_.reverse())

    // ---- vertex editors (PostGIS ST_AddPoint/ST_SetPoint/ST_RemovePoint).
    // LINESTRING only, like PostGIS; ST_SetPoint accepts negative indexes
    // counted from the end; all out-of-range indexes fail loudly.
    def lineCoords(g: Geometry, who: String): Array[Coordinate] = g match {
      case l: LineString => l.getCoordinates
      case other => throw new IllegalArgumentException(
        s"$who expects a LINESTRING, got ${other.getGeometryType}")
    }
    def pointCoord(g: Geometry, who: String): Coordinate = g match {
      case p: Point => p.getCoordinate
      case other => throw new IllegalArgumentException(
        s"$who expects a POINT, got ${other.getGeometryType}")
    }
    fn("st_addpoint", B, Seq(B, B), Seq(B, B, I)) { a =>
      val cs = lineCoords(rg(a(0)), "ST_AddPoint")
      val pt = pointCoord(rg(a(1)), "ST_AddPoint")
      val pos = if (a.length > 2) int(a(2)) else -1
      val at = if (pos == -1) cs.length else pos
      if (at < 0 || at > cs.length)
        throw new IllegalArgumentException(s"ST_AddPoint: index $pos outside [0, ${cs.length}] (-1 appends)")
      w(f.createLineString(cs.take(at) ++ Array(pt) ++ cs.drop(at)))
    }
    fn("st_setpoint", B, Seq(B, I, B)) { a =>
      val cs = lineCoords(rg(a(0)), "ST_SetPoint")
      val pt = pointCoord(rg(a(2)), "ST_SetPoint")
      val pos0 = int(a(1))
      val pos = if (pos0 < 0) cs.length + pos0 else pos0
      if (pos < 0 || pos >= cs.length)
        throw new IllegalArgumentException(s"ST_SetPoint: index $pos0 outside the line's ${cs.length} points")
      w(f.createLineString(cs.updated(pos, pt)))
    }
    fn("st_removepoint", B, Seq(B, I)) { a =>
      val cs = lineCoords(rg(a(0)), "ST_RemovePoint")
      val pos = int(a(1))
      if (pos < 0 || pos >= cs.length)
        throw new IllegalArgumentException(s"ST_RemovePoint: index $pos outside the line's ${cs.length} points")
      if (cs.length <= 2)
        throw new IllegalArgumentException("ST_RemovePoint: cannot remove a point from a 2-point line")
      w(f.createLineString(cs.take(pos) ++ cs.drop(pos + 1)))
    }
    // envelope grown by dx/dy (PostGIS ST_Expand — the cheap radius-join
    // prefilter: expand one side's box instead of buffering the geometry)
    fn("st_expand", B, Seq(B, D), Seq(B, D, D)) { a =>
      val g = rg(a(0))
      if (g.isEmpty) w(g)
      else {
        val e = g.getEnvelopeInternal
        val dx = dbl(a(1))
        val dy = if (a.length > 2) dbl(a(2)) else dbl(a(1))
        w(Geo.box(e.getMinX - dx, e.getMinY - dy, e.getMaxX + dx, e.getMaxY + dy))
      }
    }
    fn("st_reduceprecision", B, Seq(B, D)) { a =>
      val grid = dbl(a(1))
      require(grid > 0, "ST_ReducePrecision: grid size must be > 0")
      memo(Op.ReducePrecision, a(0), grid)(
        w(GeometryPrecisionReducer.reduce(rg(a(0)), new PrecisionModel(1.0 / grid))))
    }
    fn("st_removerepeatedpoints", B, Seq(B), Seq(B, D)) { a =>
      val hasTol = a.length > 1
      val tol = if (hasTol) dbl(a(1)) else 0.0
      val ed = new GeometryEditor(f)
      w(ed.edit(rg(a(0)), new GeometryEditor.CoordinateSequenceOperation {
        override def edit(cs: CoordinateSequence, geom: Geometry): CoordinateSequence = {
          val isRing = geom.isInstanceOf[LinearRing]
          if (hasTol && !isRing && cs.size >= 3) {
            // reference tolerance semantics (st_removerepeatedpoints.cpp
            // second pass): first point always kept, interior points kept at
            // > tolerance from the last kept, and the final input point takes
            // the last output slot (possibly replacing a kept interior point
            // so the output length equals the first-pass count)
            val n = cs.size
            var count = 1
            var last = cs.getCoordinate(0)
            var i = 1
            while (i < n) {
              val c = cs.getCoordinate(i)
              if (last.distance(c) > tol) { count += 1; last = c }
              i += 1
            }
            val lastPt = cs.getCoordinate(n - 1).copy()
            if (count == 1) {
              // everything within tolerance of the start: keep start and end
              f.getCoordinateSequenceFactory.create(Array(cs.getCoordinate(0).copy(), lastPt))
            } else {
              val out = new scala.collection.mutable.ArrayBuffer[Coordinate](count)
              out += cs.getCoordinate(0).copy()
              last = cs.getCoordinate(0)
              i = 1
              while (i < n - 1) {
                val c = cs.getCoordinate(i)
                if (last.distance(c) > tol) { out += c.copy(); last = c }
                i += 1
              }
              if (out.length >= count) out(count - 1) = lastPt else out += lastPt
              f.getCoordinateSequenceFactory.create(out.toArray)
            }
          } else {
            val keep = new scala.collection.mutable.ArrayBuffer[Coordinate](cs.size)
            var i = 0
            while (i < cs.size) {
              val c = cs.getCoordinate(i).copy()
              if (keep.isEmpty || keep.last.distance(c) > tol) keep += c
              i += 1
            }
            if (isRing) {
              // keep rings closed and >= 4 points
              if (keep.length > 1 && keep.head.distance(keep.last) <= tol) keep.remove(keep.length - 1)
              keep += keep.head.copy()
              while (keep.length < 4) keep.insert(keep.length - 1, keep.head.copy())
            } else if (keep.length == 1 && cs.size > 1) keep += keep.head.copy()
            f.getCoordinateSequenceFactory.create(keep.toArray)
          }
        }
      }))
    }
    fn("st_simplify", B, Seq(B, D))(a => memo(Op.Simplify, a(0), dbl(a(1)))(
      w(DouglasPeuckerSimplifier.simplify(rg(a(0)), dbl(a(1))))))
    fn("st_simplifypreservetopology", B, Seq(B, D))(a => memo(Op.SimplifyPreserveTopology, a(0), dbl(a(1)))(
      w(TopologyPreservingSimplifier.simplify(rg(a(0)), dbl(a(1))))))
    fn("st_makevalid", B, Seq(B))(a => memo(Op.MakeValid, a(0)) {
      val g = rg(a(0))
      val r = if (g.isValid) g else GeometryFixer.fix(g)
      if (r == null) null else w(r) // gG's null-result guard: SQL NULL, not NPE
    })
    fn("st_linemerge", B, Seq(B), Seq(B, BO)) { a =>
      val g = rg(a(0))
      val directed = a.length > 1 && a(1).asInstanceOf[Boolean]
      val merged =
        if (directed) lineMergeDirected(g)
        else {
          val m = new LineMerger()
          m.add(g)
          import scala.jdk.CollectionConverters._
          m.getMergedLineStrings.asScala.toArray.map(_.asInstanceOf[LineString])
        }
      w(if (merged.length == 1) merged(0) else f.createMultiLineString(merged))
    }
    gG("st_pointonsurface")(_.getInteriorPoint)

    // ---- CRS
    // Memoized like the other kernels: grid-snapped and dimension-joined
    // corpora repeat coordinates heavily, and a projection kernel (trig +
    // iteration + possibly a grid shift) costs far more than a probe.
    fn("st_transform", B, Seq(B, S, S), Seq(B, S, S, BO)) { a =>
      val alwaysXy = a.length > 3 && a(3).asInstanceOf[Boolean]
      val from = a(1).asInstanceOf[UTF8String]; val to = a(2).asInstanceOf[UTF8String]
      a(0) match {
        case in: Array[Byte] =>
          memo(Op.Transform, in, n = if (alwaysXy) 1 else 0, s = from, t = to) {
            val p = xprep(from.toString, to.toString, alwaysXy)
            val fast = transformPointWkb(in, p)
            if (fast != null) fast else w(transformGeomPrepped(rg(in), p))
          }
        case other => w(transformGeom(rg(other), from.toString, to.toString, alwaysXy))
      }
    }

    // ---- spatial keys (clustering / tiling — the R-tree replacement, SURVEY §4.3)
    fn("st_hilbert", L, Seq(D, D, D, D, D, D), Seq(B, D, D, D, D)) { a =>
      if (a.length == 6) Curves.hilbert(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), dbl(a(5)))
      else {
        val e = rg(a(0)).getEnvelopeInternal
        Curves.hilbert((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2,
          dbl(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)))
      }
    }
    fn("st_quadkey", S, Seq(D, D, I), Seq(B, I)) { a =>
      if (a.length == 3) utf(Curves.quadKey(dbl(a(0)), dbl(a(1)), int(a(2))))
      else {
        val e = rg(a(0)).getEnvelopeInternal
        utf(Curves.quadKey((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2, int(a(1))))
      }
    }

    // Geohash family (PostGIS ST_GeoHash surface; geom/GeoHash.scala).
    // A geohash prefix doubles as a spatial bucket key — GROUP BY
    // st_geohash(geom, k) is a shuffle-friendly coarse spatial partitioner.
    fn("st_geohash", S, Seq(B), Seq(B, I), Seq(D, D, I)) { a =>
      if (a.length == 3) utf(GeoHash.encode(dbl(a(0)), dbl(a(1)), int(a(2))))
      else {
        val g = rg(a(0))
        if (g.isEmpty) null
        else {
          val e = g.getEnvelopeInternal
          val n = if (a.length > 1) int(a(1)) else 0
          utf(GeoHash.encodeEnvelope(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, n))
        }
      }
    }
    fn("st_geomfromgeohash", B, Seq(S), Seq(S, I)) { a =>
      val h0 = str(a(0))
      val h = if (a.length > 1 && int(a(1)) > 0 && int(a(1)) < h0.length) h0.substring(0, int(a(1))) else h0
      val (x0, y0, x1, y1) = GeoHash.bbox(h)
      w(Geo.box(x0, y0, x1, y1))
    }
    fn("st_pointfromgeohash", B, Seq(S), Seq(S, I)) { a =>
      val h0 = str(a(0))
      val h = if (a.length > 1 && int(a(1)) > 0 && int(a(1)) < h0.length) h0.substring(0, int(a(1))) else h0
      val (cx, cy) = GeoHash.center(h)
      w(Geo.point(cx, cy))
    }
    fn("st_box2dfromgeohash",
      StructType(Seq(StructField("min_x", D), StructField("min_y", D),
        StructField("max_x", D), StructField("max_y", D))), Seq(S), Seq(S, I)) { a =>
      val h0 = str(a(0))
      val h = if (a.length > 1 && int(a(1)) > 0 && int(a(1)) < h0.length) h0.substring(0, int(a(1))) else h0
      val (x0, y0, x1, y1) = GeoHash.bbox(h)
      new GenericInternalRow(Array[Any](x0, y0, x1, y1))
    }

    // Grid tiling for the distributed spatial join (graft.plans.SpatialJoinRule):
    // tile id = (floor(x/cell) << 32) ^ (floor(y/cell) & 0xffffffff).
    fn("st_tile_id", L, Seq(D, D, D))(a => tileId(math.floor(dbl(a(0)) / dbl(a(2))).toLong, math.floor(dbl(a(1)) / dbl(a(2))).toLong))

    // Hexagonal binning (the aggregation primitive PostGIS exposes as
    // ST_HexagonGrid): pointy-top axial coordinates with cube rounding
    // (Red Blob Games' published formulation), size = circumradius.
    // round(v) is written floor(v + 0.5) so an independent SQL engine
    // reproduces every cell id bit for bit.
    fn("st_hexbin",
      StructType(Seq(StructField("q", L), StructField("r", L),
        StructField("cx", D), StructField("cy", D))), Seq(D, D, D)) { a =>
      val x = dbl(a(0)); val y = dbl(a(1)); val size = dbl(a(2))
      val qf = (math.sqrt(3.0) / 3.0 * x - y / 3.0) / size
      val rf = (2.0 / 3.0 * y) / size
      val xf = qf; val zf = rf; val yf = -xf - zf
      var rx = math.floor(xf + 0.5); var ry = math.floor(yf + 0.5); var rz = math.floor(zf + 0.5)
      val dx = math.abs(rx - xf); val dy = math.abs(ry - yf); val dz = math.abs(rz - zf)
      if (dx > dy && dx > dz) rx = -ry - rz
      else if (dy > dz) ry = -rx - rz
      else rz = -rx - ry
      val q = rx.toLong; val r = rz.toLong
      val cx = size * math.sqrt(3.0) * (q + r / 2.0)
      val cy = size * 1.5 * r
      new GenericInternalRow(Array[Any](q, r, cx, cy))
    }
    // Grid-cell constructors (PostGIS ST_Square / ST_Hexagon): the render
    // half of the binning pair — GROUP BY st_tile_id / st_hexbin assigns,
    // st_square / st_hexagon reconstruct the cell polygon from the id.
    // Grids are origin-aligned (cell i spans [i*size, (i+1)*size)).
    fn("st_square", B, Seq(D, L, L)) { a =>
      val size = dbl(a(0)); val i = a(1).asInstanceOf[Long]; val j = a(2).asInstanceOf[Long]
      require(size > 0, s"st_square: size must be > 0, got $size")
      w(Geo.box(i * size, j * size, (i + 1) * size, (j + 1) * size))
    }
    // pointy-top axial hexagon matching st_hexbin's (q, r) addressing, so
    // st_hexagon(size, q, r) is the polygon of st_hexbin's cell
    fn("st_hexagon", B, Seq(D, L, L)) { a =>
      val size = dbl(a(0)); val q = a(1).asInstanceOf[Long]; val r = a(2).asInstanceOf[Long]
      require(size > 0, s"st_hexagon: size must be > 0, got $size")
      val cx = size * math.sqrt(3.0) * (q + r / 2.0)
      val cy = size * 1.5 * r
      val pts = (0 until 6).map { k =>
        val th = math.Pi / 6 + k * math.Pi / 3 // pointy-top: first vertex at 30°
        new Coordinate(cx + size * math.cos(th), cy + size * math.sin(th))
      }
      w(f.createPolygon((pts :+ pts.head.copy()).toArray))
    }
    // per-index cell of an origin-aligned square grid covering a bbox
    // (the st_squaregrid TVF's row kernel; iMin/nx/jMin precomputed at plan
    // time from the foldable bounds)
    fn("st_square_cell",
      StructType(Seq(StructField("i", L), StructField("j", L), StructField("geom", B))),
      Seq(L, D, L, L, L)) { a =>
      val idx = a(0).asInstanceOf[Long]
      val size = dbl(a(1))
      val iMin = a(2).asInstanceOf[Long]; val nx = a(3).asInstanceOf[Long]
      val jMin = a(4).asInstanceOf[Long]
      val i = iMin + idx % nx
      val j = jMin + idx / nx
      new GenericInternalRow(Array[Any](i, j,
        w(Geo.box(i * size, j * size, (i + 1) * size, (j + 1) * size))))
    }

    // per-index cell of the rectangular offset layout behind st_hexagongrid:
    // row r, column n; axial q = n - floor(r/2) so centers land at
    // cx = size*sqrt(3)*(n + 0.5*odd(r)), cy = 1.5*size*r — identical to
    // st_hexbin's addressing
    fn("st_hexagon_cell",
      StructType(Seq(StructField("q", L), StructField("r", L), StructField("geom", B))),
      Seq(L, D, L, L, L)) { a =>
      val idx = a(0).asInstanceOf[Long]
      val size = dbl(a(1))
      val rMin = a(2).asInstanceOf[Long]; val nCols = a(3).asInstanceOf[Long]
      val nMin = a(4).asInstanceOf[Long]
      val r = rMin + idx / nCols
      val n = nMin + idx % nCols
      val q = n - Math.floorDiv(r, 2L)
      val cx = size * math.sqrt(3.0) * (q + r / 2.0)
      val cy = size * 1.5 * r
      val pts = (0 until 6).map { k =>
        val th = math.Pi / 6 + k * math.Pi / 3
        new Coordinate(cx + size * math.cos(th), cy + size * math.sin(th))
      }
      new GenericInternalRow(Array[Any](q, r,
        w(f.createPolygon((pts :+ pts.head.copy()).toArray))))
    }

    // optional 3rd arg: expand the envelope by a distance before tiling —
    // the st_dwithin tile-join shape (one side's tiles grow by d, the other
    // side's stay exact, so bbox-within-d pairs always share a tile)
    fn("st_tile_ids", ArrayType(L), Seq(B, D), Seq(B, D, D)) { a =>
      val b = a(0).asInstanceOf[Array[Byte]]
      // envelope off the bytes (no JTS parse); fall back for odd encodings
      val e = try Wkb.envelope(b) catch { case _: Exception =>
        val g = rg(b)
        if (g.isEmpty) null
        else { val je = g.getEnvelopeInternal; Array(je.getMinX, je.getMinY, je.getMaxX, je.getMaxY) }
      }
      if (e == null) new GenericArrayData(Array.empty[Any])
      else tilesOf(e(0), e(1), e(2), e(3), dbl(a(1)), if (a.length > 2) dbl(a(2)) else 0.0)
    }
    // sidecar-envelope variant consumed by the spatial-join rewrite: the env
    // struct (st_extent) is computed ONCE per input row and reused by both
    // tiling and the dedupe condition — no per-pair WKB rescans (SURVEY §1.3,
    // reference geometry_type.hpp:100-146 cached-bbox header analogue)
    val envT = StructType(Seq(
      StructField("min_x", D), StructField("min_y", D),
      StructField("max_x", D), StructField("max_y", D)))
    fn("st_tile_ids_env", ArrayType(L), Seq(envT, D), Seq(envT, D, D)) { a =>
      val r = a(0).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      tilesOf(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        dbl(a(1)), if (a.length > 2) dbl(a(2)) else 0.0)
    }
  }

  private def tileId(ix: Long, iy: Long): Long = (ix << 32) ^ (iy & 0xffffffffL)

  private def tilesOf(minX: Double, minY: Double, maxX: Double, maxY: Double,
                      cell: Double, ex: Double): GenericArrayData = {
    val x0 = math.floor((minX - ex) / cell).toLong; val x1 = math.floor((maxX + ex) / cell).toLong
    val y0 = math.floor((minY - ex) / cell).toLong; val y1 = math.floor((maxY + ex) / cell).toLong
    val n = (x1 - x0 + 1) * (y1 - y0 + 1)
    require(n <= (1 << 16),
      s"st_tile_ids: geometry envelope covers $n tiles at cell size $cell; raise spark.graft.spatialJoin.cellSize")
    val out = new Array[Any](n.toInt)
    var i = 0; var x = x0
    while (x <= x1) {
      var y = y0
      while (y <= y1) { out(i) = tileId(x, y); i += 1; y += 1 }
      x += 1
    }
    new GenericArrayData(out)
  }
}

/** SVG path renderer (reference: st_assvg.cpp — PostGIS-compatible output). */
private[functions] object Svg {
  def render(g: Geometry, rel: Boolean, prec: Int): String = {
    val sb = new java.lang.StringBuilder(64)
    def fmt(d: Double): String = {
      val r = BigDecimal(d).setScale(prec, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      graft.geom.Geo.fmt(r)
    }
    // `limit` < size drops a ring's duplicate closing vertex (replaced by Z/z)
    def path(cs: CoordinateSequence, limit: Int): Unit = {
      if (rel) {
        var px = 0.0; var py = 0.0
        var i = 0
        while (i < limit) {
          if (i == 0) { sb.append("M ").append(fmt(cs.getX(0))).append(' ').append(fmt(-cs.getY(0))) }
          else {
            if (i == 1) sb.append(" l ") else sb.append(' ')
            sb.append(fmt(cs.getX(i) - px)).append(' ').append(fmt(-(cs.getY(i) - py)))
          }
          px = cs.getX(i); py = cs.getY(i)
          i += 1
        }
      } else {
        var i = 0
        while (i < limit) {
          if (i == 0) sb.append("M ") else if (i == 1) sb.append(" L ") else sb.append(' ')
          sb.append(fmt(cs.getX(i))).append(' ').append(fmt(-cs.getY(i)))
          i += 1
        }
      }
    }
    def ringPath(cs: CoordinateSequence): Unit = {
      path(cs, math.max(cs.size - 1, 0))
      sb.append(if (rel) " z" else " Z") // postgis: lowercase close in relative mode
    }
    def walk(geom: Geometry): Unit = geom match {
      case p: Point if !p.isEmpty =>
        if (rel) sb.append("x=\"").append(fmt(p.getX)).append("\" y=\"").append(fmt(-p.getY)).append('"')
        else sb.append("cx=\"").append(fmt(p.getX)).append("\" cy=\"").append(fmt(-p.getY)).append('"')
      case l: LineString if !l.isEmpty =>
        path(l.getCoordinateSequence, l.getCoordinateSequence.size)
      case p: Polygon if !p.isEmpty =>
        ringPath(p.getExteriorRing.getCoordinateSequence)
        var i = 0
        while (i < p.getNumInteriorRing) { sb.append(' '); ringPath(p.getInteriorRingN(i).getCoordinateSequence); i += 1 }
      case c: GeometryCollection =>
        // postgis separators: ',' between multipoint members, ';' between
        // heterogeneous collection members, ' ' between multiline/multipoly parts
        val sep = c match {
          case _: MultiPoint => ","
          case _: MultiLineString | _: MultiPolygon => " "
          case _ => ";"
        }
        var i = 0
        var emitted = false
        while (i < c.getNumGeometries) {
          val before = sb.length()
          if (emitted) sb.append(sep)
          walk(c.getGeometryN(i))
          if (sb.length() == before + (if (emitted) sep.length else 0)) sb.setLength(before) // empty member: roll back
          else emitted = true
          i += 1
        }
      case _ =>
    }
    walk(g)
    sb.toString
  }
}

package graft.functions

import graft.KernelMemo
import graft.KernelMemo.Op
import graft.geom.{Geo, Wkb}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, StructField, StructType}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom._
import org.locationtech.jts.geom.util.GeometryEditor
import org.locationtech.jts.algorithm.{MinimumBoundingCircle, MinimumDiameter, Orientation}
import org.locationtech.jts.algorithm.hull.ConcaveHull
import org.locationtech.jts.operation.overlay.snap.GeometrySnapper
import org.locationtech.jts.triangulate.{DelaunayTriangulationBuilder, VoronoiDiagramBuilder}

/**
 * Computational-geometry extensions (PostGIS-standard surface beyond the
 * reference's docs/functions.md): segmentize, oriented envelope, minimum
 * bounding circle, snapping, Delaunay / Voronoi, concave hull. Row-local
 * kernels — no shuffle implications; the heavyweight ones (triangulations)
 * cost what the geometry costs, independent of corpus size.
 */
object CompGeomFns {

  private val B = BinaryType
  private val D = DoubleType

  private def fn(name: String, out: DataType, in: Seq[DataType]*)(eval: Array[Any] => Any): Unit =
    FnRegistry.add(FnSpec(name, in.map(s => s.length -> s).toMap, out, _ => eval))

  private def rg(a: Any): Geometry = a match {
    case b: Array[Byte] => Geo.read(b)
    case s: UTF8String => Geo.fromWkt(s.toString)
    case other => throw new IllegalArgumentException(s"not a geometry: ${other.getClass}")
  }
  private def w(g: Geometry): Array[Byte] = Wkb.write(g)

  private val memo = KernelMemo.shared
  private def dbl(a: Any): Double = a.asInstanceOf[Double]
  private val f: GeometryFactory = Geo.factory

  /** ST_Segmentize: split every segment longer than maxLen into equal parts.
   *  Interpolates as x0 + (i*dx)/n — the operand order a plain-SQL oracle can
   *  replay — and carries Z/M ordinates through the same interpolation. */
  def segmentize(g: Geometry, maxLen: Double): Geometry = {
    require(maxLen > 0, s"ST_Segmentize: max segment length must be > 0, got $maxLen")
    val ed = new GeometryEditor(f)
    ed.edit(g, new GeometryEditor.CoordinateSequenceOperation {
      override def edit(cs: CoordinateSequence, geom: Geometry): CoordinateSequence = {
        if (cs.size < 2) return cs
        val dim = cs.getDimension
        val out = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
        def row(i: Int): Array[Double] = Array.tabulate(dim)(d => cs.getOrdinate(i, d))
        out += row(0)
        var i = 0
        while (i < cs.size - 1) {
          val dx = cs.getX(i + 1) - cs.getX(i)
          val dy = cs.getY(i + 1) - cs.getY(i)
          val len = math.sqrt(dx * dx + dy * dy)
          val n = math.max(math.ceil(len / maxLen).toInt, 1)
          var k = 1
          while (k < n) {
            out += Array.tabulate(dim)(d =>
              cs.getOrdinate(i, d) + (k * (cs.getOrdinate(i + 1, d) - cs.getOrdinate(i, d))) / n)
            k += 1
          }
          out += row(i + 1)
          i += 1
        }
        val seq = f.getCoordinateSequenceFactory.create(out.size, dim, cs.getMeasures)
        var r = 0
        while (r < out.size) {
          var d = 0
          while (d < dim) { seq.setOrdinate(r, d, out(r)(d)); d += 1 }
          r += 1
        }
        seq
      }
    })
  }

  /** Ring-orientation rewrite: exterior rings wound exteriorCW, holes the
   *  opposite way (PostGIS ST_ForcePolygonCW/CCW). Non-polygonal members of
   *  collections pass through untouched. */
  private def forceOrient(g: Geometry, exteriorCW: Boolean): Geometry = {
    def orientRing(r: LinearRing, wantCW: Boolean): LinearRing = {
      val isCCW = Orientation.isCCW(r.getCoordinateSequence)
      if (isCCW == wantCW) r.reverse().asInstanceOf[LinearRing] else r
    }
    def fix(geom: Geometry): Geometry = geom match {
      case p: Polygon if !p.isEmpty =>
        f.createPolygon(
          orientRing(p.getExteriorRing, exteriorCW),
          Array.tabulate(p.getNumInteriorRing)(i => orientRing(p.getInteriorRingN(i), !exteriorCW)))
      case mp: MultiPolygon =>
        f.createMultiPolygon(Array.tabulate(mp.getNumGeometries)(i =>
          fix(mp.getGeometryN(i)).asInstanceOf[Polygon]))
      case gc: GeometryCollection =>
        f.createGeometryCollection(Array.tabulate(gc.getNumGeometries)(i => fix(gc.getGeometryN(i))))
      case other => other
    }
    fix(g)
  }

  /** True iff every polygon is wound exterior-CW / holes-CCW (vacuously true
   *  when no polygonal component exists, matching PostGIS). */
  private def isOriented(g: Geometry, exteriorCW: Boolean): Boolean = {
    def ok(geom: Geometry): Boolean = geom match {
      case p: Polygon if !p.isEmpty =>
        Orientation.isCCW(p.getExteriorRing.getCoordinateSequence) != exteriorCW &&
          (0 until p.getNumInteriorRing).forall(i =>
            Orientation.isCCW(p.getInteriorRingN(i).getCoordinateSequence) == exteriorCW)
      case gc: GeometryCollection =>
        (0 until gc.getNumGeometries).forall(i => ok(gc.getGeometryN(i)))
      case _ => true
    }
    ok(g)
  }

  /** ST_Subdivide (PostGIS semantics, beyond the reference's surface): split
   *  a geometry into pieces of at most `maxVertices` vertices by recursively
   *  halving the envelope on its longer axis and clipping. THE pre-split
   *  tool for planet-scale joins: a 100 k-vertex coastline polygon meeting
   *  millions of points costs a 100 k-vertex point-in-polygon per row until
   *  subdivided — afterwards each tile-local piece is small and the tile
   *  join's per-row work is bounded. Returns a collection (pair with
   *  st_dump to explode into rows, like PostGIS's set-returning form). */
  def subdivide(g: Geometry, maxVertices: Int): Geometry = {
    require(maxVertices >= 5, s"ST_Subdivide: max_vertices must be >= 5, got $maxVertices")
    val parts = scala.collection.mutable.ArrayBuffer.empty[Geometry]
    def rect(x0: Double, y0: Double, x1: Double, y1: Double): Geometry =
      f.createPolygon(Array(
        new Coordinate(x0, y0), new Coordinate(x1, y0),
        new Coordinate(x1, y1), new Coordinate(x0, y1), new Coordinate(x0, y0)))
    // Clip hygiene (PostGIS parity): a closed-rect clip of a line/polygon
    // whose boundary touches the split line emits lower-dimension artifacts
    // (boundary points/lines) on the far side — PostGIS drops them, and
    // keeping them both pollutes the output and duplicates split-line
    // geometry into both halves. Keep only components of the INPUT's
    // dimension. (Puntal geometry never reaches the clip: multis flatten
    // member-by-member above and a single point is always <= maxVertices.)
    def sameDim(geom: Geometry, dim: Int): Geometry = {
      val keep = scala.collection.mutable.ArrayBuffer.empty[Geometry]
      def walk(x: Geometry): Unit = x match {
        case gc: GeometryCollection =>
          (0 until gc.getNumGeometries).foreach(i => walk(gc.getGeometryN(i)))
        case s if !s.isEmpty && s.getDimension == dim => keep += s
        case _ =>
      }
      walk(geom)
      if (keep.isEmpty) f.createGeometryCollection()
      else if (keep.length == 1) keep(0)
      else f.createGeometryCollection(keep.toArray)
    }
    def rec(geom: Geometry, depth: Int): Unit = {
      if (geom == null || geom.isEmpty) return
      geom match {
        case gc: GeometryCollection =>
          // members divide independently (PostGIS flattens multi inputs)
          (0 until gc.getNumGeometries).foreach(i => rec(gc.getGeometryN(i), depth))
        case _ if geom.getNumPoints <= maxVertices || depth >= 24 =>
          parts += geom
        case _ =>
          // outer edges padded by 1: only the split line matters, and the
          // padding keeps the clip rect non-degenerate for flat inputs
          // (a horizontal line's envelope has zero height)
          val e = geom.getEnvelopeInternal
          val (a, b) =
            if (e.getWidth >= e.getHeight) {
              val mx = (e.getMinX + e.getMaxX) / 2
              (rect(e.getMinX - 1, e.getMinY - 1, mx, e.getMaxY + 1),
                rect(mx, e.getMinY - 1, e.getMaxX + 1, e.getMaxY + 1))
            } else {
              val my = (e.getMinY + e.getMaxY) / 2
              (rect(e.getMinX - 1, e.getMinY - 1, e.getMaxX + 1, my),
                rect(e.getMinX - 1, my, e.getMaxX + 1, e.getMaxY + 1))
            }
          val dim = geom.getDimension
          rec(sameDim(geom.intersection(a), dim), depth + 1)
          rec(sameDim(geom.intersection(b), dim), depth + 1)
      }
    }
    rec(g, 0)
    val ps = parts.toArray
    if (ps.isEmpty) f.createGeometryCollection()
    else if (ps.forall(_.isInstanceOf[Polygon]))
      f.createMultiPolygon(ps.map(_.asInstanceOf[Polygon]))
    else if (ps.forall(_.isInstanceOf[LineString]))
      f.createMultiLineString(ps.map(_.asInstanceOf[LineString]))
    else if (ps.forall(_.isInstanceOf[Point]))
      f.createMultiPoint(ps.map(_.asInstanceOf[Point]))
    else f.createGeometryCollection(ps)
  }

  def load(): Unit = {
    // orientation family through the content memo: ring rewinds rebuild the
    // whole geometry per call, and corpora repeat polygons heavily (the
    // bench's 400-distinct-polygon column pays 400 rebuilds, not millions)
    fn("st_forcepolygoncw", B, Seq(B))(a =>
      memo(Op.ForcePolygonCw, a(0))(w(forceOrient(rg(a(0)), exteriorCW = true))))
    fn("st_forcepolygonccw", B, Seq(B))(a =>
      memo(Op.ForcePolygonCcw, a(0))(w(forceOrient(rg(a(0)), exteriorCW = false))))
    fn("st_ispolygoncw", org.apache.spark.sql.types.BooleanType, Seq(B))(a =>
      memo(Op.IsPolygonCw, a(0))(java.lang.Boolean.valueOf(isOriented(rg(a(0)), exteriorCW = true))))
    fn("st_ispolygonccw", org.apache.spark.sql.types.BooleanType, Seq(B))(a =>
      memo(Op.IsPolygonCcw, a(0))(java.lang.Boolean.valueOf(isOriented(rg(a(0)), exteriorCW = false))))
    // angle P1-P2-P3 at the P2 vertex, measured clockwise from P2->P1 to
    // P2->P3 (PostGIS ST_Angle 3-point form); null on degenerate rays
    fn("st_angle", D, Seq(B, B, B)) { a =>
      (rg(a(0)), rg(a(1)), rg(a(2))) match {
        case (p1: Point, p2: Point, p3: Point) =>
          (LinearFns.azimuth(p2, p1), LinearFns.azimuth(p2, p3)) match {
            case (a1: java.lang.Double, a2: java.lang.Double) =>
              val d = a1 - a2
              if (d < 0) d + 2 * math.Pi else d
            case _ => null
          }
        case _ => throw new IllegalArgumentException("ST_Angle expects three POINTs")
      }
    }
    fn("st_segmentize", B, Seq(B, D))(a =>
      memo(Op.Segmentize, a(0), dbl(a(1)))(w(segmentize(rg(a(0)), dbl(a(1))))))
    fn("st_orientedenvelope", B, Seq(B))(a =>
      memo(Op.OrientedEnvelope, a(0))(w(MinimumDiameter.getMinimumRectangle(rg(a(0))))))
    fn("st_minimumrotatedrectangle", B, Seq(B))(a =>
      memo(Op.OrientedEnvelope, a(0))(w(MinimumDiameter.getMinimumRectangle(rg(a(0))))))
    fn("st_minimumboundingcircle", B, Seq(B))(a =>
      memo(Op.MinimumBoundingCircle, a(0))(w(new MinimumBoundingCircle(rg(a(0))).getCircle)))
    fn("st_minimumboundingradius",
      StructType(Seq(StructField("center", B), StructField("radius", D))), Seq(B)) { a =>
      memo(Op.MinimumBoundingRadius, a(0)) {
        val mbc = new MinimumBoundingCircle(rg(a(0)))
        val c = mbc.getCentre
        new GenericInternalRow(Array[Any](
          if (c == null) null else w(f.createPoint(c)), mbc.getRadius))
      }
    }
    // PostGIS ST_MaximumInscribedCircle: largest circle contained in a
    // polygon (JTS iterative construction to the given tolerance; PostGIS
    // defaults the tolerance from the extent — we take it explicitly)
    fn("st_maximuminscribedcircle",
      StructType(Seq(StructField("center", B), StructField("nearest", B),
        StructField("radius", D))), Seq(B, D)) { a =>
      memo(Op.MaximumInscribedCircle, a(0), dbl(a(1))) {
        val mic = new org.locationtech.jts.algorithm.construct.MaximumInscribedCircle(
          rg(a(0)), dbl(a(1)))
        new GenericInternalRow(Array[Any](
          w(mic.getCenter), w(mic.getRadiusPoint), mic.getRadiusLine.getLength))
      }
    }
    // PostGIS ST_LargestEmptyCircle: largest circle whose interior misses
    // every input obstacle, centered within their convex hull
    fn("st_largestemptycircle",
      StructType(Seq(StructField("center", B), StructField("nearest", B),
        StructField("radius", D))), Seq(B, D)) { a =>
      memo(Op.LargestEmptyCircle, a(0), dbl(a(1))) {
        // null boundary = obstacles' convex hull (the PostGIS default)
        val lec = new org.locationtech.jts.algorithm.construct.LargestEmptyCircle(
          rg(a(0)), null, dbl(a(1)))
        new GenericInternalRow(Array[Any](
          w(lec.getCenter), w(lec.getRadiusPoint), lec.getRadiusLine.getLength))
      }
    }
    fn("st_snap", B, Seq(B, B, D))(a =>
      w(new GeometrySnapper(rg(a(0))).snapTo(rg(a(1)), dbl(a(2)))))
    fn("st_delaunaytriangles", B, Seq(B)) { a =>
      memo(Op.DelaunayTriangles, a(0)) {
        val b = new DelaunayTriangulationBuilder
        b.setSites(rg(a(0)))
        w(b.getTriangles(f))
      }
    }
    fn("st_voronoipolygons", B, Seq(B)) { a =>
      memo(Op.VoronoiPolygons, a(0)) {
        val b = new VoronoiDiagramBuilder
        b.setSites(rg(a(0)))
        w(b.getDiagram(f))
      }
    }
    // PostGIS ST_Node: fully node (and dissolve) a set of linestrings —
    // crossings become endpoints. JTS's unary union over linework performs
    // exactly this noding.
    fn("st_node", B, Seq(B)) { a =>
      memo(Op.Node, a(0)) {
        val g = rg(a(0))
        val lines = scala.collection.mutable.ArrayBuffer.empty[Geometry]
        g.apply(new GeometryComponentFilter {
          override def filter(c: Geometry): Unit = c match {
            case l: LineString if !l.isEmpty => lines += l
            case _ =>
          }
        })
        if (lines.isEmpty) w(f.createMultiLineString(Array.empty))
        else w(org.locationtech.jts.operation.union.UnaryUnionOp.union(
          java.util.Arrays.asList(lines.toSeq: _*)))
      }
    }
    // PostGIS ST_VoronoiLines: the diagram's cell boundaries as linework
    fn("st_voronoilines", B, Seq(B)) { a =>
      memo(Op.VoronoiLines, a(0)) {
        val b = new VoronoiDiagramBuilder
        b.setSites(rg(a(0)))
        val d = b.getDiagram(f)
        val lines = scala.collection.mutable.ArrayBuffer.empty[LineString]
        (0 until d.getNumGeometries).foreach { i =>
          d.getGeometryN(i) match {
            case p: Polygon => lines += f.createLineString(p.getExteriorRing.getCoordinates)
            case _ =>
          }
        }
        w(f.createMultiLineString(lines.toArray))
      }
    }
    // JTS edge-length-threshold variant (ConcaveHull.concaveHullByLength):
    // maxLen >= the diameter degrades to the convex hull
    fn("st_concavehull", B, Seq(B, D))(a =>
      memo(Op.ConcaveHull, a(0), dbl(a(1)))(w(ConcaveHull.concaveHullByLength(rg(a(0)), dbl(a(1))))))
    fn("st_subdivide", B, Seq(B, org.apache.spark.sql.types.IntegerType))(a =>
      memo(Op.Subdivide, a(0), n = a(1).asInstanceOf[Int])(
        w(subdivide(rg(a(0)), a(1).asInstanceOf[Int]))))
    // 1-indexed member accessor (PostGIS ST_GeometryN); null out of range
    fn("st_geometryn", B, Seq(B, org.apache.spark.sql.types.IntegerType)) { a =>
      val g = rg(a(0)); val n = a(1).asInstanceOf[Int]
      if (n < 1 || n > g.getNumGeometries) null else w(g.getGeometryN(n - 1))
    }
    // DE-9IM intersection matrix (PostGIS ST_Relate) + the matrix-vs-pattern
    // test (PostGIS ST_RelateMatch; one FnSpec per name, so the 3-arg
    // ST_Relate overload is spelled st_relatematch(st_relate(a,b), pattern))
    // DE-9IM matrix computation is among the costliest JTS ops per call;
    // dimension-table patterns relate the same geometry pair across millions
    // of rows, so the pair memo collapses them to one topology build each
    fn("st_relate", org.apache.spark.sql.types.StringType, Seq(B, B)) { a =>
      memo.pair(Op.Relate, a(0), a(1))(
        UTF8String.fromString(rg(a(0)).relate(rg(a(1))).toString))
    }
    fn("st_relatematch",
      org.apache.spark.sql.types.BooleanType,
      Seq(org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)) { a =>
      org.locationtech.jts.geom.IntersectionMatrix.matches(
        a(0).asInstanceOf[UTF8String].toString, a(1).asInstanceOf[UTF8String].toString)
    }
  }
}

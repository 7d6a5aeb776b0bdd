package graft.functions

import graft.KernelMemo
import graft.KernelMemo.Op
import graft.geom.{Geo, Wkb}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DoubleType, IntegerType}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom._
import org.locationtech.jts.algorithm.distance.{DiscreteFrechetDistance, DiscreteHausdorffDistance}
import org.locationtech.jts.densify.Densifier
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.linearref.{LengthIndexedLine, LocationIndexedLine}
import org.locationtech.jts.operation.buffer.OffsetCurve
import org.locationtech.jts.operation.polygonize.Polygonizer
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.locationtech.jts.precision.MinimumClearance
import org.locationtech.jts.triangulate.polygon.ConstrainedDelaunayTriangulator

/**
 * Topology-construction and shape-measure long tail (PostGIS-standard surface
 * beyond the reference's docs/functions.md): polygonize / build-area / unary
 * union / split / shared paths / offset curve / polygon triangulation, the
 * discrete Hausdorff and Fréchet distances, minimum clearance, geometric
 * median, bounding diagonal, repeated line interpolation, and collection-level
 * intersect/within clustering. All row-local kernels — no shuffle
 * implications; the collection-level ones (st_polygonize,
 * st_clusterintersecting/within) pair with st_collect_agg the way PostGIS's
 * aggregate forms pair with its set-returning surface, and cost what the
 * collected geometry costs, independent of corpus size.
 */
object TopoFns {

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
  private def dbl(a: Any): Double = a.asInstanceOf[Double]
  private val f: GeometryFactory = Geo.factory

  private val memo = KernelMemo.shared

  /** Every LineString component of a geometry (polygon rings included). */
  private def linework(g: Geometry): Seq[LineString] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[LineString]
    g.apply(new GeometryComponentFilter {
      override def filter(c: Geometry): Unit = c match {
        case l: LineString if !l.isEmpty => out += l
        case _ =>
      }
    })
    out.toSeq
  }

  private def members(g: Geometry): Seq[Geometry] =
    (0 until g.getNumGeometries).map(g.getGeometryN)

  /** Noded faces of a set of lines (polygonizer over their unary union,
   *  which performs full noding — crossings become endpoints), normalized
   *  and sorted: the polygonizer walks a hash set, so its ring start points
   *  and face order would otherwise change from call to call. */
  private def faces(lines: Seq[LineString]): Seq[Polygon] = {
    if (lines.isEmpty) return Nil
    val noded = UnaryUnionOp.union(java.util.Arrays.asList(lines: _*))
    val pz = new Polygonizer()
    pz.add(noded)
    import scala.jdk.CollectionConverters._
    val fs = pz.getPolygons.asScala.toSeq.asInstanceOf[Seq[Polygon]]
    fs.foreach(_.normalize())
    fs.sortWith(_.compareTo(_) < 0)
  }

  /** ST_Polygonize over a collected set of lines: the faces formed by fully
   *  noded linework, as a GeometryCollection (PostGIS's aggregate form is
   *  spelled st_polygonize(st_collect_agg(g))). */
  def polygonize(g: Geometry): Geometry =
    f.createGeometryCollection(faces(linework(g)).toArray)

  /** ST_BuildArea: areal geometry from constituent linework — rings at odd
   *  nesting depth become holes, even depth becomes land again
   *  (PostGIS/GEOSBuildArea even-odd semantics). The polygonizer already
   *  assigns immediate holes to each face, so depth is counted against the
   *  other faces' SHELLS (a face one level down lies in its parent's hole,
   *  not its parent) and the result is simply the union of even-depth
   *  faces. */
  def buildArea(g: Geometry): Geometry = {
    val fs = faces(linework(g))
    if (fs.isEmpty) return f.createGeometryCollection()
    val shells = fs.map(p => f.createPolygon(p.getExteriorRing.getCoordinateSequence))
    val pts = fs.map(_.getInteriorPoint)
    val even = fs.indices.filter { i =>
      fs.indices.count(j => j != i && shells(j).contains(pts(i))) % 2 == 0
    }.map(fs(_))
    UnaryUnionOp.union(java.util.Arrays.asList(even: _*))
  }

  /** ST_Split: line by point(s)/line(s), polygon by line(s). Returns a
   *  GeometryCollection of pieces; a blade that misses yields the input as
   *  the single piece (PostGIS semantics). */
  def split(g: Geometry, blade: Geometry): Geometry = {
    val pieces: Seq[Geometry] = (g.getDimension, blade.getDimension) match {
      case (1, 0) =>
        // split each line component at every blade point lying on it
        linework(g).flatMap { line =>
          val lil = new LengthIndexedLine(line)
          val cuts = members(blade).collect {
            case p: Point if p.distance(line) < 1e-9 => lil.indexOf(p.getCoordinate)
          }.filter(ix => ix > 1e-12 && ix < line.getLength - 1e-12).distinct.sorted
          if (cuts.isEmpty) Seq(line)
          else {
            val bounds = 0.0 +: cuts :+ line.getLength
            bounds.sliding(2).map(b => lil.extractLine(b(0), b(1))).toSeq
          }
        }
      case (1, 1) =>
        // overlay noding splits at crossings. PostGIS raises when the blade
        // has a linear (collinear) intersection with the input — difference()
        // would silently delete the shared portion, so match the error.
        if (g.intersection(blade).getDimension == 1)
          throw new IllegalArgumentException(
            "ST_Split: splitter has a linear intersection with the input " +
              "(collinear overlap) — cannot split a line by an overlapping line")
        val d = g.difference(blade)
        val comps = members(d).filter(!_.isEmpty)
        if (comps.isEmpty) Seq(g) else comps
      case (2, 1) =>
        // faces of (boundary ∪ blade) that lie inside the input polygon
        val inside = faces(linework(g) ++ linework(blade))
          .filter(face => g.contains(face.getInteriorPoint))
        if (inside.isEmpty) Seq(g) else inside
      case (dg, db) =>
        throw new IllegalArgumentException(
          s"ST_Split supports line-by-point, line-by-line, polygon-by-line; got dim $dg by dim $db")
    }
    f.createGeometryCollection(pieces.toArray)
  }

  /** Tangent direction of a lineal geometry at (the segment containing) a
   *  coordinate on it. */
  private def tangentAt(g: Geometry, c: Coordinate): Coordinate = {
    val lil = new LocationIndexedLine(g)
    val loc = lil.indexOf(c)
    val seg = loc.getSegment(g)
    new Coordinate(seg.p1.x - seg.p0.x, seg.p1.y - seg.p0.y)
  }

  /** ST_SharedPaths: GEOMETRYCOLLECTION(MULTILINESTRING same-direction,
   *  MULTILINESTRING opposite-direction) of the paths shared by two lineal
   *  inputs, each piece oriented along the FIRST input (PostGIS/GEOS
   *  semantics). Direction agreement is judged per segment of each shared
   *  piece (an input that doubles back over the shared path can flip
   *  direction mid-piece); consistent pieces stay whole, mixed pieces split
   *  into maximal same-class runs. */
  def sharedPaths(g1: Geometry, g2: Geometry): Geometry = {
    require(g1.getDimension == 1 && g2.getDimension == 1,
      "ST_SharedPaths expects two lineal geometries")
    val shared = members(g1.intersection(g2)).collect {
      case l: LineString if !l.isEmpty => l
    }
    val same = scala.collection.mutable.ArrayBuffer.empty[LineString]
    val opp = scala.collection.mutable.ArrayBuffer.empty[LineString]
    shared.foreach { piece =>
      // classify every segment of the piece (an input that doubles back over
      // the path can flip direction mid-piece); the common all-agree case
      // keeps the piece whole, a mixed piece splits into maximal runs
      val n = piece.getNumPoints - 1
      val cls: IndexedSeq[(Boolean, Boolean)] = (0 until n).map { i =>
        val c0 = piece.getCoordinateN(i)
        val c1 = piece.getCoordinateN(i + 1)
        val mid = new Coordinate((c0.x + c1.x) / 2, (c0.y + c1.y) / 2)
        val seg = new Coordinate(c1.x - c0.x, c1.y - c0.y)
        val t1 = tangentAt(g1, mid)
        val t2 = tangentAt(g2, mid)
        val d1 = seg.x * t1.x + seg.y * t1.y
        val d2 = seg.x * t2.x + seg.y * t2.y
        (d1 < 0, d1 * d2 > 0) // (reverse-to-follow-g1, same-direction)
      }
      def emit(from: Int, to: Int): Unit = { // segments [from, to)
        val (rev, sm) = cls(from)
        val sub =
          if (from == 0 && to == n) piece
          else f.createLineString((from to to).map(piece.getCoordinateN).toArray)
        val alongG1 = if (rev) sub.reverse().asInstanceOf[LineString] else sub
        if (sm) same += alongG1 else opp += alongG1
      }
      var start = 0
      var i = 1
      while (i < n) { if (cls(i) != cls(start)) { emit(start, i); start = i }; i += 1 }
      emit(start, n)
    }
    f.createGeometryCollection(Array(
      f.createMultiLineString(same.toArray),
      f.createMultiLineString(opp.toArray)))
  }

  /** ST_GeometricMedian over [Multi]Point: Weiszfeld iteration from the
   *  centroid; an iterate that lands on an input point is returned directly
   *  (it is a local fixed point and PostGIS stops there too). */
  def geometricMedian(g: Geometry, tol: Double): Point = {
    val pts = members(g).collect { case p: Point if !p.isEmpty => p.getCoordinate }
    require(pts.nonEmpty, "ST_GeometricMedian expects a non-empty [Multi]Point")
    var x = pts.map(_.x).sum / pts.length
    var y = pts.map(_.y).sum / pts.length
    var it = 0
    var moved = Double.MaxValue
    while (it < 1000 && moved > tol) {
      var sw = 0.0; var sx = 0.0; var sy = 0.0; var onPoint = false
      pts.foreach { p =>
        val d = math.hypot(p.x - x, p.y - y)
        if (d < 1e-30) onPoint = true
        else { val inv = 1.0 / d; sw += inv; sx += p.x * inv; sy += p.y * inv }
      }
      if (onPoint || sw == 0.0) { moved = 0.0 }
      else {
        val nx = sx / sw; val ny = sy / sw
        moved = math.hypot(nx - x, ny - y)
        x = nx; y = ny
      }
      it += 1
    }
    f.createPoint(new Coordinate(x, y))
  }

  /** ST_LineInterpolatePoints: points at fraction, 2·fraction, … ≤ 1 when
   *  `repeat`, else the single st_lineinterpolatepoint (PostGIS). */
  def lineInterpolatePoints(g: Geometry, frac: Double, repeat: Boolean): Geometry = {
    require(frac > 0 && frac <= 1, s"fraction must be in (0, 1], got $frac")
    val lil = new LengthIndexedLine(g)
    val len = g.getLength
    val n = if (repeat) math.floor(1.0 / frac + 1e-9).toInt else 1
    val pts = (1 to n).map(i => f.createPoint(lil.extractPoint(math.min(i * frac, 1.0) * len)))
    if (pts.length == 1) pts.head else f.createMultiPoint(pts.toArray)
  }

  /** Union-find clustering of a collection's members: edges are
   *  intersects (d = 0) or distance ≤ d, candidate pairs from an STRtree so
   *  the work is near-linear for sparse layouts. Returns a
   *  GeometryCollection of GeometryCollections (PostGIS's cluster arrays). */
  /** Union-find transitive-closure cluster ids over an ordered member array:
   *  edges are intersects (d = 0) or distance ≤ d, candidate pairs from an
   *  STRtree. Returns one dense id per member, numbered by first appearance
   *  in member order. Shared by the collection functions and the
   *  st_cluster*_agg aggregates (which call it on DISTINCT members only). */
  def clusterIds(ms: Array[Geometry], d: Double): Array[Int] = {
    if (ms.isEmpty) return Array.empty
    val parent = Array.tabulate(ms.length)(identity)
    def find(i: Int): Int = { var r = i; while (parent(r) != r) r = parent(r); parent(i) = r; r }
    def unite(i: Int, j: Int): Unit = { val a = find(i); val b = find(j); if (a != b) parent(a) = b }
    val tree = new STRtree()
    ms.zipWithIndex.foreach { case (m, i) =>
      val e = new Envelope(m.getEnvelopeInternal); e.expandBy(d)
      tree.insert(e, Integer.valueOf(i))
    }
    import scala.jdk.CollectionConverters._
    ms.zipWithIndex.foreach { case (m, i) =>
      val e = new Envelope(m.getEnvelopeInternal); e.expandBy(d)
      tree.query(e).asScala.foreach { o =>
        val j = o.asInstanceOf[Integer].intValue()
        if (j > i && find(i) != find(j)) {
          val hit = if (d == 0.0) ms(i).intersects(ms(j)) else ms(i).isWithinDistance(ms(j), d)
          if (hit) unite(i, j)
        }
      }
    }
    val idOf = scala.collection.mutable.Map.empty[Int, Int]
    ms.indices.map(i => idOf.getOrElseUpdate(find(i), idOf.size)).toArray
  }

  def cluster(g: Geometry, d: Double): Geometry = {
    val ms = members(g).filter(!_.isEmpty).toArray
    if (ms.isEmpty) return f.createGeometryCollection()
    val ids = clusterIds(ms, d)
    val groups = ms.indices.groupBy(ids(_)).values.toSeq
      .map(ix => ix.map(ms(_)))
      .sortBy(c => { val e = c.map(_.getEnvelopeInternal.getMinX).min; e })
    f.createGeometryCollection(groups.map(c => f.createGeometryCollection(c.toArray): Geometry).toArray)
  }

  /** DBSCAN over a collection's members (the collection-level analogue of
   *  PostGIS's ST_ClusterDBSCAN window function): returns one cluster id
   *  per member IN MEMBER ORDER, null for noise. A member is core when at
   *  least `minPts` members (itself included, PostGIS convention) lie
   *  within `eps` (geometry distance); border members join their
   *  lowest-index core neighbor; ids number clusters by first appearance.
   *  Candidate pairs come from an STRtree, so sparse layouts stay
   *  near-linear; the collected input is the scale bound, exactly as for
   *  st_clusterwithin. */
  def clusterDbscan(g: Geometry, eps: Double, minPts: Int): Array[Integer] = {
    require(eps >= 0, s"ST_ClusterDBSCAN: eps must be >= 0, got $eps")
    require(minPts >= 1, s"ST_ClusterDBSCAN: minpoints must be >= 1, got $minPts")
    val ms = members(g)
    val n = ms.length
    val neigh = Array.fill(n)(List.empty[Int])
    val tree = new STRtree()
    ms.zipWithIndex.foreach { case (m, i) =>
      if (!m.isEmpty) {
        val e = new Envelope(m.getEnvelopeInternal); e.expandBy(eps)
        tree.insert(e, Integer.valueOf(i))
      }
    }
    import scala.jdk.CollectionConverters._
    ms.zipWithIndex.foreach { case (m, i) =>
      if (!m.isEmpty) {
        val e = new Envelope(m.getEnvelopeInternal); e.expandBy(eps)
        tree.query(e).asScala.foreach { o =>
          val j = o.asInstanceOf[Integer].intValue()
          if (j > i && m.isWithinDistance(ms(j), eps)) {
            neigh(i) ::= j; neigh(j) ::= i
          }
        }
      }
    }
    val core = Array.tabulate(n)(i => !ms(i).isEmpty && neigh(i).length + 1 >= minPts)
    // union cores that are neighbors; border members attach afterwards
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = { var r = i; while (parent(r) != r) r = parent(r); parent(i) = r; r }
    def unite(i: Int, j: Int): Unit = { val a = find(i); val b = find(j); if (a != b) parent(math.max(a, b)) = math.min(a, b) }
    for (i <- 0 until n if core(i); j <- neigh(i) if j > i && core(j)) unite(i, j)
    val attach = Array.fill(n)(-1)
    for (i <- 0 until n if !core(i)) {
      val c = neigh(i).filter(core).sorted
      if (c.nonEmpty) attach(i) = c.head
    }
    val idOf = scala.collection.mutable.Map.empty[Int, Int]
    val out = new Array[Integer](n)
    for (i <- 0 until n) {
      val root = if (core(i)) find(i) else if (attach(i) >= 0) find(attach(i)) else -1
      out(i) = if (root < 0) null else Integer.valueOf(idOf.getOrElseUpdate(root, idOf.size))
    }
    out
  }

  /** K-means over a collection's members (the collection-level analogue of
   *  PostGIS's ST_ClusterKMeans window function; like lwkmeans, each member
   *  is represented by its 2D centroid). Deterministic where PostGIS's is
   *  ordering-dependent: seeding is farthest-first traversal (first seed =
   *  member closest to the collection's mean, then repeatedly the member
   *  farthest from its nearest seed, lowest index on ties), Lloyd iterates
   *  to an assignment fixpoint, and ids number clusters by first appearance
   *  in member order. Empty members get null (they carry no location). */
  def clusterKMeans(g: Geometry, k: Int): Array[Integer] = {
    require(k >= 1, s"ST_ClusterKMeans: k must be >= 1, got $k")
    val ms = members(g)
    val n = ms.length
    val pts = ms.map(m => if (m.isEmpty) null else {
      val c = org.locationtech.jts.algorithm.Centroid.getCentroid(m)
      Array(c.x, c.y)
    })
    val live = pts.indices.filter(pts(_) != null)
    val out = new Array[Integer](n)
    if (live.isEmpty) return out
    val kk = math.min(k, live.length)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      val dx = a(0) - b(0); val dy = a(1) - b(1); dx * dx + dy * dy
    }
    // farthest-first seeding from the member nearest the mean
    val mx = live.map(pts(_)(0)).sum / live.length
    val my = live.map(pts(_)(1)).sum / live.length
    var seeds = List(live.minBy(i => d2(pts(i), Array(mx, my))))
    while (seeds.length < kk) {
      // exclude already-chosen indexes: when several members share a
      // location and k approaches the distinct-location count, maxBy over
      // ALL live members can re-pick a seed (every remaining min-distance
      // is 0) and silently produce duplicate centers
      val chosen = seeds.toSet
      val next = live.filterNot(chosen).maxBy { i =>
        // negative index as secondary key => lowest index wins ties
        (seeds.map(s => d2(pts(i), pts(s))).min, -i)
      }
      seeds ::= next
    }
    var centers = seeds.reverse.map(pts(_)).toArray
    val assign = Array.fill(n)(-1)
    var changed = true
    var iter = 0
    while (changed && iter < 100) {
      changed = false
      val cs = new VecFns.Centroids(centers)
      live.foreach { i =>
        val best = cs.top(pts(i), 1, cosine = false)(0)
        if (assign(i) != best) { assign(i) = best; changed = true }
      }
      val sx = new Array[Double](kk); val sy = new Array[Double](kk); val cnt = new Array[Int](kk)
      live.foreach { i => sx(assign(i)) += pts(i)(0); sy(assign(i)) += pts(i)(1); cnt(assign(i)) += 1 }
      centers = Array.tabulate(kk)(c => if (cnt(c) == 0) centers(c) else Array(sx(c) / cnt(c), sy(c) / cnt(c)))
      iter += 1
    }
    val idOf = scala.collection.mutable.Map.empty[Int, Int]
    for (i <- 0 until n)
      out(i) = if (pts(i) == null) null else Integer.valueOf(idOf.getOrElseUpdate(assign(i), idOf.size))
    out
  }

  def load(): Unit = {
    fn("st_unaryunion", B, Seq(B))(a => memo(Op.UnaryUnion, a(0))(w(UnaryUnionOp.union(rg(a(0))))))
    fn("st_polygonize", B, Seq(B))(a => memo(Op.Polygonize, a(0))(w(polygonize(rg(a(0))))))
    fn("st_buildarea", B, Seq(B))(a => memo(Op.BuildArea, a(0))(w(buildArea(rg(a(0))))))
    fn("st_split", B, Seq(B, B))(a => memo.pair(Op.Split, a(0), a(1))(w(split(rg(a(0)), rg(a(1))))))
    fn("st_sharedpaths", B, Seq(B, B))(a => memo.pair(Op.SharedPaths, a(0), a(1))(w(sharedPaths(rg(a(0)), rg(a(1))))))
    // positive distance offsets left of the line direction (PostGIS/GEOS)
    fn("st_offsetcurve", B, Seq(B, D))(a =>
      memo(Op.OffsetCurve, a(0), dbl(a(1)))(w(OffsetCurve.getCurve(rg(a(0)), dbl(a(1))))))
    fn("st_triangulatepolygon", B, Seq(B))(a =>
      memo(Op.TriangulatePolygon, a(0))(w(ConstrainedDelaunayTriangulator.triangulate(rg(a(0))))))
    fn("st_minimumclearance", D, Seq(B))(a =>
      memo(Op.MinimumClearance, a(0))(java.lang.Double.valueOf(MinimumClearance.getDistance(rg(a(0))))))
    fn("st_minimumclearanceline", B, Seq(B))(a =>
      memo(Op.MinimumClearanceLine, a(0))(w(MinimumClearance.getLine(rg(a(0))))))
    // the discrete measure kernels are O(n·m) over the densified vertex sets
    // — memoized two-sided like st_split/st_sharedpaths (the optional
    // densify fraction is a key dimension so variants never collide)
    fn("st_hausdorffdistance", D, Seq(B, B), Seq(B, B, D)) { a =>
      if (a.length == 3) memo.pair(Op.HausdorffDensify, a(0), a(1), dbl(a(2)))(java.lang.Double.valueOf(
        DiscreteHausdorffDistance.distance(rg(a(0)), rg(a(1)), dbl(a(2)))))
      else memo.pair(Op.Hausdorff, a(0), a(1))(java.lang.Double.valueOf(
        DiscreteHausdorffDistance.distance(rg(a(0)), rg(a(1)))))
    }
    // JTS's discrete Fréchet has no densify knob — densify the inputs to the
    // requested fraction of the diagonal instead (same discretization intent)
    fn("st_frechetdistance", D, Seq(B, B), Seq(B, B, D)) { a =>
      if (a.length == 3) {
        val frac = dbl(a(2))
        require(frac > 0 && frac <= 1, s"densify fraction must be in (0, 1], got $frac")
        memo.pair(Op.FrechetDensify, a(0), a(1), frac) {
          def dens(g: Geometry): Geometry = {
            val e = g.getEnvelopeInternal
            val diag = math.hypot(e.getWidth, e.getHeight)
            if (diag == 0) g else Densifier.densify(g, diag * frac)
          }
          java.lang.Double.valueOf(
            DiscreteFrechetDistance.distance(dens(rg(a(0))), dens(rg(a(1)))))
        }
      } else memo.pair(Op.Frechet, a(0), a(1))(java.lang.Double.valueOf(
        DiscreteFrechetDistance.distance(rg(a(0)), rg(a(1)))))
    }
    fn("st_geometricmedian", B, Seq(B), Seq(B, D)) { a =>
      val tol = if (a.length == 2) dbl(a(1)) else 1e-8
      memo(Op.GeometricMedian, a(0), tol)(w(geometricMedian(rg(a(0)), tol)))
    }
    fn("st_boundingdiagonal", B, Seq(B)) { a =>
      val g = rg(a(0))
      if (g.isEmpty) w(f.createLineString(Array.empty[Coordinate]))
      else {
        val e = g.getEnvelopeInternal
        w(f.createLineString(Array(
          new Coordinate(e.getMinX, e.getMinY), new Coordinate(e.getMaxX, e.getMaxY))))
      }
    }
    fn("st_lineinterpolatepoints", B, Seq(B, D, BooleanType))(a =>
      memo(Op.LineInterpolatePoints, a(0), dbl(a(1)), n = if (a(2).asInstanceOf[Boolean]) 1 else 0)(
        w(lineInterpolatePoints(rg(a(0)), dbl(a(1)), a(2).asInstanceOf[Boolean]))))
    // collection-level clustering: pairs with st_collect_agg the way the
    // PostGIS aggregates pair with array_agg — the collected input is the
    // scale bound, exactly as for st_collect_agg itself
    fn("st_clusterintersecting", B, Seq(B))(a => memo(Op.ClusterIntersecting, a(0))(w(cluster(rg(a(0)), 0.0))))
    fn("st_clusterwithin", B, Seq(B, D))(a =>
      memo(Op.ClusterWithin, a(0), dbl(a(1)))(w(cluster(rg(a(0)), dbl(a(1))))))
    fn("st_clusterkmeans", ArrayType(IntegerType), Seq(B, IntegerType)) { a =>
      memo(Op.ClusterKMeans, a(0), n = a(1).asInstanceOf[Int]) {
        new GenericArrayData(clusterKMeans(rg(a(0)),
          a(1).asInstanceOf[Int]).asInstanceOf[Array[AnyRef]])
      }
    }
    fn("st_clusterdbscan", ArrayType(IntegerType), Seq(B, D, IntegerType)) { a =>
      // content memo like the other collection kernels; eps and minpoints
      // each get their own key dimension so distinct parameter pairs never
      // collide
      memo(Op.ClusterDbscan, a(0), dbl(a(1)), n = a(2).asInstanceOf[Int]) {
        new GenericArrayData(clusterDbscan(rg(a(0)), dbl(a(1)),
          a(2).asInstanceOf[Int]).asInstanceOf[Array[AnyRef]])
      }
    }
  }
}

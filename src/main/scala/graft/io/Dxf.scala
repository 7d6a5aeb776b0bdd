package graft.io

import graft.geom.Geo
import graft.io.GeoJsonFile.Feature
import org.locationtech.jts.geom._

/**
 * AutoCAD DXF (ASCII) entity reader — the published drawing-interchange text
 * format (Autodesk DXF reference; the reference reads it through GDAL's DXF
 * driver, st_read.cpp). A DXF is a stream of (group code, value) line pairs;
 * features come from the ENTITIES section.
 *
 * Entities covered: POINT, LINE, LWPOLYLINE (closed flag honored),
 * POLYLINE/VERTEX/SEQEND (closed flag honored), CIRCLE and ARC (72-segment
 * approximations, same stance as the MIF ellipse), SOLID and 3DFACE (ring in
 * the spec's 0-1-3-2 vertex order), TEXT/MTEXT (insertion point, text as a
 * property). Each feature carries `layer` and `entity` properties.
 *
 * The pair stream is pulled lazily — one entity in executor memory at a time.
 */
object Dxf {

  /** The entities of the file at `path` (of `layer` only, when given), as a
    * stream that closes the file when it drains or closes. */
  def features(path: String, layer: Option[String] = None): GeoJsonFile.FeatureStream = {
    val br = GeoFiles.textReader(path)
    val fac = Geo.factory

    // (code, value) pair puller; null at EOF
    def pair(): (Int, String) = {
      val c = br.readLine()
      if (c == null) return null
      val v = br.readLine()
      if (v == null) return null
      val code = try c.trim.toInt catch { case _: NumberFormatException => return pair() }
      (code, v.trim)
    }

    val entities = new Iterator[Feature] {
      private var pendingF: Feature = null
      private var done = false
      private var inEntities = false
      private var n = 0
      // lookahead pair when an entity parser reads one (code 0) too far
      private var pushed: (Int, String) = null
      private def nextPair(): (Int, String) = {
        if (pushed != null) { val p = pushed; pushed = null; p } else pair()
      }

      private def circleRing(cx: Double, cy: Double, r: Double): Array[Coordinate] = {
        val k = 72
        Array.tabulate(k + 1) { i =>
          val a = 2 * math.Pi * (i % k) / k
          new Coordinate(cx + r * math.cos(a), cy + r * math.sin(a))
        }
      }

      /** parse one entity; cursor just past its (0, NAME) pair. Returns null
       *  for entities without geometry. Leaves the NEXT (0, …) pair pushed. */
      private def entity(name: String): (Geometry, Map[String, String]) = {
        var layer = "0"
        var text: String = null
        // coordinate group accumulators: 10/20 series and 11/21, 12/22, 13/23
        val xs = Array.fill(4)(scala.collection.mutable.ArrayBuffer.empty[Double])
        val ys = Array.fill(4)(scala.collection.mutable.ArrayBuffer.empty[Double])
        var radius = 0.0; var a0 = 0.0; var a1 = 360.0
        var flags = 0
        var p = nextPair()
        while (p != null && p._1 != 0) {
          p._1 match {
            case 8 => layer = p._2
            case 1 => text = p._2
            case 10 => xs(0) += p._2.toDouble
            case 20 => ys(0) += p._2.toDouble
            case 11 => xs(1) += p._2.toDouble
            case 21 => ys(1) += p._2.toDouble
            case 12 => xs(2) += p._2.toDouble
            case 22 => ys(2) += p._2.toDouble
            case 13 => xs(3) += p._2.toDouble
            case 23 => ys(3) += p._2.toDouble
            case 40 => radius = p._2.toDouble
            case 50 => a0 = p._2.toDouble
            case 51 => a1 = p._2.toDouble
            case 70 => flags = try p._2.toInt catch { case _: NumberFormatException => 0 }
            case _ =>
          }
          p = nextPair()
        }
        pushed = p

        def pts(i: Int): Array[Coordinate] =
          xs(i).zip(ys(i)).map { case (x, y) => new Coordinate(x, y) }.toArray

        val geom: Geometry = name match {
          case "POINT" | "TEXT" | "MTEXT" =>
            val c = pts(0); if (c.nonEmpty) fac.createPoint(c(0)) else null
          case "LINE" =>
            val s = pts(0); val e = pts(1)
            if (s.nonEmpty && e.nonEmpty) fac.createLineString(Array(s(0), e(0))) else null
          case "LWPOLYLINE" =>
            val c = pts(0)
            if (c.length < 2) null
            else if ((flags & 1) != 0) { // closed
              val ring = if (c.head.equals2D(c.last)) c else c :+ c.head
              if (ring.length >= 4) fac.createPolygon(fac.createLinearRing(ring))
              else fac.createLineString(c)
            } else fac.createLineString(c)
          case "POLYLINE" =>
            // vertices arrive as VERTEX entities until SEQEND
            val vs = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
            var q = nextPair()
            var stop = false
            while (q != null && !stop) {
              if (q._1 == 0 && q._2 == "VERTEX") {
                var x = Double.NaN; var y = Double.NaN
                q = nextPair()
                while (q != null && q._1 != 0) {
                  if (q._1 == 10) x = q._2.toDouble
                  if (q._1 == 20) y = q._2.toDouble
                  q = nextPair()
                }
                if (!x.isNaN && !y.isNaN) vs += new Coordinate(x, y)
              } else if (q._1 == 0 && q._2 == "SEQEND") {
                // drain SEQEND's own groups through the next (0, …)
                q = nextPair()
                while (q != null && q._1 != 0) q = nextPair()
                stop = true
              } else {
                q = nextPair()
                while (q != null && q._1 != 0) q = nextPair()
              }
            }
            pushed = q
            if (vs.length < 2) null
            else if ((flags & 1) != 0) {
              val ring = if (vs.head.equals2D(vs.last)) vs.toArray else (vs :+ vs.head).toArray
              if (ring.length >= 4) fac.createPolygon(fac.createLinearRing(ring))
              else fac.createLineString(vs.toArray)
            } else fac.createLineString(vs.toArray)
          case "CIRCLE" =>
            val c = pts(0)
            if (c.isEmpty) null else fac.createPolygon(fac.createLinearRing(circleRing(c(0).x, c(0).y, radius)))
          case "ARC" =>
            val c = pts(0)
            if (c.isEmpty) null
            else {
              val r0 = math.toRadians(a0)
              val r1raw = math.toRadians(a1)
              val r1 = if (r1raw <= r0) r1raw + 2 * math.Pi else r1raw
              val k = math.max(2, (72 * (r1 - r0) / (2 * math.Pi)).toInt)
              fac.createLineString(Array.tabulate(k + 1) { i =>
                val a = r0 + (r1 - r0) * i / k
                new Coordinate(c(0).x + radius * math.cos(a), c(0).y + radius * math.sin(a))
              })
            }
          case "SOLID" | "3DFACE" =>
            // corner order 0,1,3,2 closes correctly per the DXF spec
            val cs = Array(pts(0), pts(1), pts(3), pts(2)).flatMap(_.headOption)
            val distinct = cs.distinct
            if (distinct.length >= 3) fac.createPolygon(fac.createLinearRing(distinct :+ distinct.head))
            else null
          case _ => null
        }
        val props = Map("layer" -> layer, "entity" -> name) ++
          (if (text != null) Map("text" -> text) else Map.empty)
        (geom, props)
      }

      private def advance(): Unit = {
        if (pendingF != null || done) return
        var p = nextPair()
        while (p != null && pendingF == null) {
          if (p._1 == 0 && p._2 == "SECTION") {
            val s = nextPair()
            inEntities = s != null && s._1 == 2 && s._2 == "ENTITIES"
            p = nextPair()
          } else if (p._1 == 0 && (p._2 == "ENDSEC" || p._2 == "EOF")) {
            inEntities = false
            p = nextPair()
          } else if (inEntities && p._1 == 0) {
            val (g, props) = entity(p._2)
            if (g != null) { n += 1; pendingF = Feature(n.toString, g, props) }
            else p = nextPair()
          } else p = nextPair()
        }
        if (pendingF == null) done = true
      }
      def hasNext: Boolean = { advance(); pendingF != null }
      def next(): Feature = {
        if (!hasNext) throw new NoSuchElementException
        val f = pendingF; pendingF = null; f
      }
    }
    new GeoJsonFile.FeatureStream(() => br.close())(() =>
      entities.find(f => layer.forall(f.properties.get("layer").contains)).orNull)
  }
}

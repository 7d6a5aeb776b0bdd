package graft.io

import graft.geom.Geo
import graft.io.GeoJsonFile.{Feature, FeatureStream}
import org.locationtech.jts.geom._
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

/**
 * KML and GPX readers on the JDK's StAX parser (both are public OGC/Topografix
 * XML formats; the reference reads them through GDAL's 50-format surface,
 * st_read.cpp). Streaming event parse — no DOM, so multi-GB files hold one
 * element's text at a time. Features surface in the same (id, geom,
 * properties) shape as GeoJSON.
 */
object XmlGeo {

  /** A StAX cursor over `in`, which the caller closes (closing the cursor
   *  does not close `in`); `in` is closed here if the cursor cannot start. */
  private def readerOf(in: java.io.Reader): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false) // no external entities
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    try f.createXMLStreamReader(in)
    catch { case e: Throwable => in.close(); throw e }
  }

  /** Lazy pull-stream over a StAX cursor: `step()` parses and returns the
   *  NEXT feature (or null at end of document). Features never buffer — a
   *  multi-GB file holds one feature in memory at a time, which is what
   *  makes these readers safe inside an executor task at scale. The cursor
   *  and `in`, the file under it, close when the stream drains or closes. */
  private def lazily(r: XMLStreamReader, in: java.io.Closeable)(step: () => Feature): FeatureStream =
    new FeatureStream(() => try r.close() finally in.close())(step)

  // ------------------------------------------------------------------- KML
  /** Placemarks → features: name/description as properties, geometry from
   *  Point/LineString/Polygon/MultiGeometry (KML coordinates are
   *  "lon,lat[,alt]" whitespace-separated tuples). */
  def kmlFeatures(path: String, layer: Option[String] = None): FeatureStream = {
    val in = GeoFiles.textReader(path)
    kmlFrom(readerOf(in), in, layer.orNull)
  }

  /** Distinct Folder names of a KML document, in first-seen order — the
   *  layer list st_read_meta reports (KML's layer concept is the Folder;
   *  GDAL's LIBKML driver surfaces folders as layers). */
  def kmlLayers(path: String): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val features = kmlFeatures(path)
    try features.foreach(_.properties.get("folder").foreach(seen += _)) finally features.close()
    seen.toSeq
  }

  /** KMZ: a zip archive whose main document is `doc.kml` (OGC KML 2.2 §10.2).
   *  The root doc.kml wins; otherwise the first .kml entry. The archive stays
   *  open until the feature stream drains or closes. */
  def kmzFeatures(path: String, layer: Option[String] = None): FeatureStream = {
    val zf = new java.util.zip.ZipFile(path.stripPrefix("file:"))
    import scala.jdk.CollectionConverters._
    val kmls = zf.entries().asScala
      .filter(e => !e.isDirectory && e.getName.toLowerCase.endsWith(".kml")).toSeq
    val entry = kmls.find(_.getName.equalsIgnoreCase("doc.kml")).orElse(kmls.headOption)
      .getOrElse { zf.close(); throw new IllegalArgumentException(s"no .kml entry inside $path") }
    val br = new java.io.BufferedReader(
      new java.io.InputStreamReader(zf.getInputStream(entry), "UTF-8"), 1 << 16)
    // closing the archive closes the entry's stream
    val r = try readerOf(br) catch { case e: Throwable => zf.close(); throw e }
    kmlFrom(r, zf, layer.orNull)
  }

  private def kmlFrom(r: XMLStreamReader, in: java.io.Closeable,
                      layerFilter: String): FeatureStream = {
    val fac = Geo.factory
    var n = 0

    def text(): String = { // collect text until the current element closes
      val sb = new java.lang.StringBuilder
      var depth = 1
      while (depth > 0 && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA => sb.append(r.getText)
          case XMLStreamConstants.START_ELEMENT => depth += 1
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ =>
        }
      }
      sb.toString.trim
    }
    def coords(s: String): Array[Coordinate] =
      s.split("\\s+").filter(_.nonEmpty).map { tup =>
        val p = tup.split(",")
        if (p.length >= 3) new Coordinate(p(0).toDouble, p(1).toDouble, p(2).toDouble)
        else new Coordinate(p(0).toDouble, p(1).toDouble)
      }

    /** parse one geometry element (cursor on its START_ELEMENT) */
    def geometry(name: String): Geometry = name match {
      case "Point" =>
        var g: Geometry = fac.createPoint()
        var depth = 1
        while (depth > 0 && r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            if (r.getLocalName == "coordinates") { val cs = coords(text()); if (cs.nonEmpty) g = fac.createPoint(cs(0)) }
            else depth += 1
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ =>
        }
        g
      case "LineString" =>
        var g: Geometry = fac.createLineString()
        var depth = 1
        while (depth > 0 && r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            if (r.getLocalName == "coordinates") g = fac.createLineString(coords(text()))
            else depth += 1
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ =>
        }
        g
      case "Polygon" =>
        var shell: LinearRing = null
        val holes = scala.collection.mutable.ArrayBuffer.empty[LinearRing]
        var inOuter = false; var inInner = false
        var depth = 1
        while (depth > 0 && r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "outerBoundaryIs" => inOuter = true; depth += 1
              case "innerBoundaryIs" => inInner = true; depth += 1
              case "coordinates" =>
                val ring = fac.createLinearRing(coords(text()))
                if (inOuter || shell == null) shell = ring else if (inInner) holes += ring
              case _ => depth += 1
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "outerBoundaryIs" => inOuter = false
              case "innerBoundaryIs" => inInner = false
              case _ =>
            }
            depth -= 1
          case _ =>
        }
        if (shell == null) fac.createPolygon() else fac.createPolygon(shell, holes.toArray)
      case "MultiGeometry" =>
        val parts = scala.collection.mutable.ArrayBuffer.empty[Geometry]
        var depth = 1
        while (depth > 0 && r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case g @ ("Point" | "LineString" | "Polygon" | "MultiGeometry") => parts += geometry(g)
              case _ => depth += 1
            }
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ =>
        }
        if (parts.isEmpty) fac.createGeometryCollection()
        else if (parts.forall(_.isInstanceOf[Point]))
          fac.createMultiPoint(parts.map(_.asInstanceOf[Point]).toArray)
        else if (parts.forall(_.isInstanceOf[LineString]))
          fac.createMultiLineString(parts.map(_.asInstanceOf[LineString]).toArray)
        else if (parts.forall(_.isInstanceOf[Polygon]))
          fac.createMultiPolygon(parts.map(_.asInstanceOf[Polygon]).toArray)
        else fac.createGeometryCollection(parts.toArray)
    }

    // Folder stack: a Folder START pushes a yet-unnamed slot; the next <name>
    // at container level names it; Folder END pops. The innermost named
    // Folder becomes the feature's `folder` property (= its KML layer).
    val folders = scala.collection.mutable.Stack.empty[Array[String]]
    def currentFolder: String =
      folders.collectFirst { case slot if slot(0) != null => slot(0) }.orNull

    lazily(r, in) { () =>
      var result: Feature = null
      while (result == null && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT if r.getLocalName == "Folder" =>
            folders.push(Array[String](null))
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "Folder" =>
            if (folders.nonEmpty) folders.pop()
          case XMLStreamConstants.START_ELEMENT
              if r.getLocalName == "name" && folders.nonEmpty && folders.top(0) == null =>
            folders.top(0) = text()
          case XMLStreamConstants.START_ELEMENT if r.getLocalName == "Placemark" =>
          var name: String = null; var desc: String = null
          var geom: Geometry = null
          var dataName: String = null
          val extData = scala.collection.mutable.LinkedHashMap.empty[String, String]
          var depth = 1
          while (depth > 0 && r.hasNext) r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "name" => name = text()
                case "description" => desc = text()
                // ExtendedData/Data name= / value → properties
                case "Data" => dataName = r.getAttributeValue(null, "name"); depth += 1
                case "value" => if (dataName != null) { extData(dataName) = text(); dataName = null }
                case g @ ("Point" | "LineString" | "Polygon" | "MultiGeometry") => geom = geometry(g)
                case _ => depth += 1
              }
            case XMLStreamConstants.END_ELEMENT => depth -= 1
            case _ =>
          }
          n += 1
          val folder = currentFolder
          if (layerFilter == null || layerFilter == folder) {
            val props = Seq("name" -> name, "description" -> desc, "folder" -> folder)
              .collect { case (k, v) if v != null => k -> v }
            result = Feature(n.toString, geom, props.toMap ++ extData)
          }
          case _ =>
        }
      }
      result
    }
  }

  // ------------------------------------------------------------------- GML
  /** OGC GML 2/3 feature reader (the most-hit format of GDAL's long tail the
   *  reference reaches through st_read.cpp). Streaming StAX walk over
   *  `featureMember`/`member(s)` elements: the wrapped element is the
   *  feature, its leaf text children become string properties, and the first
   *  gml geometry element becomes the geometry. Coordinate encodings:
   *  gml:pos, gml:posList (srsDimension 2/3 honored), GML2 gml:coordinates
   *  (cs/ts separators) and gml:coord X/Y/Z. Geometries: Point, LineString,
   *  Curve (LineStringSegment), Polygon (exterior/interior and GML2
   *  outer/innerBoundaryIs), MultiPoint/MultiCurve/MultiLineString/
   *  MultiSurface/MultiPolygon/MultiGeometry. Coordinates surface in
   *  document order (no srsName axis flip — same always_xy stance as the
   *  rest of the library). */
  private[io] val gmlGeomNames: Set[String] =
    Set("Point", "LineString", "Curve", "Polygon", "MultiPoint",
      "MultiCurve", "MultiLineString", "MultiSurface", "MultiPolygon", "MultiGeometry")

  /** Reusable streaming GML geometry parser over a shared StAX cursor — used
   *  by the GML feature reader and by GeoRSS `georss:where` elements. All
   *  methods assume the cursor sits ON the element's START_ELEMENT and
   *  consume exactly that element's subtree. */
  private[io] final class GmlGeom(r: XMLStreamReader) {
    private val fac = Geo.factory
    private val geomNames = gmlGeomNames

    def attr(name: String): String = {
      var i = 0
      while (i < r.getAttributeCount) {
        if (r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
        i += 1
      }
      null
    }
    def text(): String = {
      val sb = new java.lang.StringBuilder
      var depth = 1
      while (depth > 0 && r.hasNext) r.next() match {
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA => sb.append(r.getText)
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
      sb.toString.trim
    }
    def splitNums(s: String): Array[Double] =
      s.split("\\s+").filter(_.nonEmpty).map(_.toDouble)
    def posListCoords(dim: Int, s: String): Array[Coordinate] = {
      val nums = splitNums(s)
      val d = math.max(dim, 2)
      Array.tabulate(nums.length / d) { i =>
        if (d >= 3) new Coordinate(nums(i * d), nums(i * d + 1), nums(i * d + 2))
        else new Coordinate(nums(i * d), nums(i * d + 1))
      }
    }
    def gml2Coords(cs: String, ts: String, s: String): Array[Coordinate] =
      s.split(if (ts == " ") "\\s+" else java.util.regex.Pattern.quote(ts))
        .filter(_.nonEmpty).map { tup =>
        val p = tup.split(java.util.regex.Pattern.quote(cs))
        if (p.length >= 3) new Coordinate(p(0).toDouble, p(1).toDouble, p(2).toDouble)
        else new Coordinate(p(0).toDouble, p(1).toDouble)
      }

    /** scan the current element's subtree for the first coordinate carrier
     *  (pos / posList / coordinates / coord sequence) */
    def coordsInElement(): Array[Coordinate] = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
      var depth = 1
      while (depth > 0 && r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "posList" =>
              val dim = Option(attr("srsDimension")).map(_.trim.toInt).getOrElse(2)
              acc ++= posListCoords(dim, text())
            case "pos" => // ONE coordinate: dimension = token count, no attr needed
              val nums = splitNums(text())
              if (nums.length >= 3) acc += new Coordinate(nums(0), nums(1), nums(2))
              else if (nums.length == 2) acc += new Coordinate(nums(0), nums(1))
            case "coordinates" =>
              val cs = Option(attr("cs")).getOrElse(",")
              val ts = Option(attr("ts")).getOrElse(" ")
              acc ++= gml2Coords(cs, ts, text())
            case "coord" =>
              var x = Double.NaN; var y = Double.NaN; var z = Double.NaN
              var d2 = 1
              while (d2 > 0 && r.hasNext) r.next() match {
                case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
                  case "X" => x = text().toDouble
                  case "Y" => y = text().toDouble
                  case "Z" => z = text().toDouble
                  case _ => d2 += 1
                }
                case XMLStreamConstants.END_ELEMENT => d2 -= 1
                case _ =>
              }
              acc += (if (z.isNaN) new Coordinate(x, y) else new Coordinate(x, y, z))
            case _ => depth += 1
          }
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
      acc.toArray
    }

    /** parse one geometry element (cursor on its START_ELEMENT) */
    def geometry(name: String): Geometry = name match {
      case "Point" =>
        val cs = coordsInElement()
        if (cs.isEmpty) fac.createPoint() else fac.createPoint(cs(0))
      case "LineString" | "Curve" => // Curve: segments concatenate in order
        val cs = coordsInElement()
        if (cs.length < 2) fac.createLineString()
        else {
          // adjoining LineStringSegments repeat the joint vertex — drop dups
          val dedup = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
          cs.foreach(c => if (dedup.isEmpty || !dedup.last.equals3D(c)) dedup += c)
          fac.createLineString(dedup.toArray)
        }
      case "Polygon" =>
        var shell: LinearRing = null
        val holes = scala.collection.mutable.ArrayBuffer.empty[LinearRing]
        var interior = false
        var depth = 1
        while (depth > 0 && r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "exterior" | "outerBoundaryIs" => interior = false; depth += 1
              case "interior" | "innerBoundaryIs" => interior = true; depth += 1
              case "LinearRing" =>
                val ring = fac.createLinearRing(coordsInElement())
                if (interior) holes += ring else shell = ring
              case _ => depth += 1
            }
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ =>
        }
        if (shell == null) fac.createPolygon() else fac.createPolygon(shell, holes.toArray)
      case _ => // Multi*/MultiGeometry: recurse on nested geometry elements
        val parts = scala.collection.mutable.ArrayBuffer.empty[Geometry]
        var depth = 1
        while (depth > 0 && r.hasNext) r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            val nm = r.getLocalName
            if (geomNames(nm)) parts += geometry(nm) else depth += 1
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ =>
        }
        if (parts.isEmpty) fac.createGeometryCollection()
        else if (parts.forall(_.isInstanceOf[Point]))
          fac.createMultiPoint(parts.map(_.asInstanceOf[Point]).toArray)
        else if (parts.forall(_.isInstanceOf[LineString]))
          fac.createMultiLineString(parts.map(_.asInstanceOf[LineString]).toArray)
        else if (parts.forall(_.isInstanceOf[Polygon]))
          fac.createMultiPolygon(parts.map(_.asInstanceOf[Polygon]).toArray)
        else fac.createGeometryCollection(parts.toArray)
    }
  }

  def gmlFeatures(path: String): FeatureStream = {
    val in = GeoFiles.textReader(path)
    val r = readerOf(in)
    val G = new GmlGeom(r)
    val geomNames = gmlGeomNames
    var n = 0

    /** cursor on the feature element's START (the child of featureMember) */
    def feature(): Feature = {
      var geom: Geometry = null
      val props = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val fid = G.attr("id") // gml:id
      var depth = 1
      while (depth > 0 && r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          val nm = r.getLocalName
          if (geomNames(nm)) { if (geom == null) geom = G.geometry(nm) else { var d2 = 1
            while (d2 > 0 && r.hasNext) r.next() match {
              case XMLStreamConstants.START_ELEMENT => d2 += 1
              case XMLStreamConstants.END_ELEMENT => d2 -= 1
              case _ =>
            } } }
          else if (depth == 1) {
            // leaf text child → property; container child → descend
            val sb = new java.lang.StringBuilder
            var isLeaf = true
            var d2 = 1
            while (d2 > 0 && r.hasNext) r.next() match {
              case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
                if (d2 == 1) sb.append(r.getText)
              case XMLStreamConstants.START_ELEMENT =>
                val inner = r.getLocalName
                if (geomNames(inner) && geom == null) { geom = G.geometry(inner); isLeaf = false }
                else { d2 += 1; isLeaf = false }
              case XMLStreamConstants.END_ELEMENT => d2 -= 1
              case _ =>
            }
            val v = sb.toString.trim
            if (isLeaf && v.nonEmpty) props(nm) = v
          } else depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
      n += 1
      Feature(if (fid != null) fid else n.toString, geom, props.toMap)
    }

    // memberDepth persists across pulls so featureMembers batches (several
    // features inside one member element) stream one at a time
    var memberDepth = 0
    lazily(r, in) { () =>
      var result: Feature = null
      while (result == null && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            if (memberDepth > 0) result = feature() // consumes the subtree
            else if (Set("featureMember", "featureMembers", "member")(r.getLocalName))
              memberDepth = 1
          case XMLStreamConstants.END_ELEMENT =>
            if (memberDepth > 0) memberDepth -= 1
          case _ =>
        }
      }
      result
    }
  }

  // ---------------------------------------------------------------- GeoRSS
  /** GeoRSS-Simple + W3C-geo reader over RSS 2.0 `item`s and Atom `entry`s
   *  (the reference reaches GeoRSS through GDAL's driver, st_read.cpp).
   *  Geometry: `georss:point|line|polygon` ("lat lon ..." pairs — flipped to
   *  x=lon), `georss:box` (envelope polygon), `georss:where` (GML inside, the
   *  GeoRSS-GML profile's lat/lon axis order flipped to x=lon), or W3C
   *  `geo:lat`/`geo:long`. Properties: title, link (href attr or text),
   *  description/summary, pubDate/updated as `date`, category; guid/id is the
   *  feature id. */
  def georssFeatures(path: String): FeatureStream = {
    val in = GeoFiles.textReader(path)
    val r = readerOf(in)
    val fac = Geo.factory
    val G = new GmlGeom(r)
    var n = 0

    // "lat1 lon1 lat2 lon2 …" → x=lon, y=lat
    def pairs(s: String): Array[Coordinate] = {
      val nums = s.split("\\s+").filter(_.nonEmpty).map(_.toDouble)
      Array.tabulate(nums.length / 2)(i => new Coordinate(nums(2 * i + 1), nums(2 * i)))
    }
    val flipXY = new CoordinateFilter {
      def filter(c: Coordinate): Unit = { val t = c.x; c.x = c.y; c.y = t }
    }

    lazily(r, in) { () =>
      var result: Feature = null
      while (result == null && r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            (r.getLocalName == "item" || r.getLocalName == "entry")) {
          var geom: Geometry = null
          var lat = Double.NaN; var lon = Double.NaN
          var fid: String = null
          val props = scala.collection.mutable.LinkedHashMap.empty[String, String]
          var depth = 1
          while (depth > 0 && r.hasNext) r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "point" =>
                  val cs = pairs(G.text()); if (cs.nonEmpty) geom = fac.createPoint(cs(0))
                case "line" =>
                  val cs = pairs(G.text()); if (cs.length >= 2) geom = fac.createLineString(cs)
                case "polygon" =>
                  val cs0 = pairs(G.text())
                  val cs = if (cs0.length >= 3 && !cs0.head.equals2D(cs0.last)) cs0 :+ cs0.head else cs0
                  if (cs.length >= 4) geom = fac.createPolygon(fac.createLinearRing(cs))
                case "box" =>
                  val v = G.text().split("\\s+").filter(_.nonEmpty).map(_.toDouble)
                  if (v.length >= 4) {
                    val (y0, x0, y1, x1) = (v(0), v(1), v(2), v(3))
                    geom = fac.createPolygon(fac.createLinearRing(Array(
                      new Coordinate(x0, y0), new Coordinate(x1, y0),
                      new Coordinate(x1, y1), new Coordinate(x0, y1), new Coordinate(x0, y0))))
                  }
                case "lat" => lat = G.text().toDouble
                case "long" | "lon" => lon = G.text().toDouble
                case "where" =>
                  var d2 = 1
                  while (d2 > 0 && r.hasNext) r.next() match {
                    case XMLStreamConstants.START_ELEMENT =>
                      val nm = r.getLocalName
                      if (gmlGeomNames(nm) && geom == null) {
                        val g = G.geometry(nm) // consumes the subtree, depth unchanged
                        g.apply(flipXY); g.geometryChanged()
                        geom = g
                      } else d2 += 1
                    case XMLStreamConstants.END_ELEMENT => d2 -= 1
                    case _ =>
                  }
                case "link" =>
                  val href = G.attr("href")
                  val txt = G.text() // consumes the element either way
                  props("link") = if (href != null) href else txt
                case "guid" | "id" => fid = G.text()
                case t @ ("title" | "description" | "summary" | "category" | "author") =>
                  val v = G.text(); if (v.nonEmpty) props(t) = v
                case "pubDate" | "updated" =>
                  val v = G.text(); if (v.nonEmpty) props("date") = v
                case _ => depth += 1
              }
            case XMLStreamConstants.END_ELEMENT => depth -= 1
            case _ =>
          }
          if (geom == null && !lat.isNaN && !lon.isNaN)
            geom = fac.createPoint(new Coordinate(lon, lat))
          n += 1
          result = Feature(if (fid != null && fid.nonEmpty) fid else n.toString, geom, props.toMap)
        }
      }
      result
    }
  }

  // ------------------------------------------------------------------- GPX
  /** Waypoints → points; each trkseg → LineString; each rte → LineString.
   *  Properties: kind (wpt/trk/rte), name, ele (waypoints). */
  def gpxFeatures(path: String): FeatureStream = {
    val in = GeoFiles.textReader(path)
    val r = readerOf(in)
    val fac = Geo.factory
    var n = 0

    def attr(name: String): String = {
      var i = 0
      while (i < r.getAttributeCount) {
        if (r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
        i += 1
      }
      null
    }
    def text(): String = {
      val sb = new java.lang.StringBuilder
      var depth = 1
      while (depth > 0 && r.hasNext) r.next() match {
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA => sb.append(r.getText)
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
      sb.toString.trim
    }
    def mk(kind: String, name: String, g: Geometry, extra: Map[String, String] = Map.empty): Feature = {
      n += 1
      val props = Map("kind" -> kind) ++ (if (name != null) Map("name" -> name) else Map.empty) ++ extra
      Feature(n.toString, g, props)
    }

    lazily(r, in) { () =>
      var result: Feature = null
      while (result == null && r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT) r.getLocalName match {
          case "wpt" =>
            val lat = attr("lat").toDouble; val lon = attr("lon").toDouble
            var name: String = null; var ele: String = null
            var depth = 1
            while (depth > 0 && r.hasNext) r.next() match {
              case XMLStreamConstants.START_ELEMENT =>
                r.getLocalName match {
                  case "name" => name = text()
                  case "ele" => ele = text()
                  case _ => depth += 1
                }
              case XMLStreamConstants.END_ELEMENT => depth -= 1
              case _ =>
            }
            result = mk("wpt", name, fac.createPoint(new Coordinate(lon, lat)),
              if (ele != null) Map("ele" -> ele) else Map.empty)
          case tag @ ("trk" | "rte") =>
            var name: String = null
            val segs = scala.collection.mutable.ArrayBuffer.empty[Array[Coordinate]]
            var seg = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
            var depth = 1
            while (depth > 0 && r.hasNext) r.next() match {
              case XMLStreamConstants.START_ELEMENT =>
                r.getLocalName match {
                  case "name" if depth == 1 => name = text()
                  case "trkseg" => seg = scala.collection.mutable.ArrayBuffer.empty; depth += 1
                  case "trkpt" | "rtept" =>
                    seg += new Coordinate(attr("lon").toDouble, attr("lat").toDouble)
                    depth += 1
                  case _ => depth += 1
                }
              case XMLStreamConstants.END_ELEMENT =>
                if (r.getLocalName == "trkseg" && seg.nonEmpty) { segs += seg.toArray }
                depth -= 1
              case _ =>
            }
            if (tag == "rte" && seg.nonEmpty) segs += seg.toArray
            val lines = segs.filter(_.length >= 2).map(cs => fac.createLineString(cs))
            val g: Geometry =
              if (lines.isEmpty) fac.createLineString()
              else if (lines.length == 1) lines.head
              else fac.createMultiLineString(lines.toArray)
            result = mk(tag, name, g)
          case _ =>
        }
      }
      result
    }
  }
}

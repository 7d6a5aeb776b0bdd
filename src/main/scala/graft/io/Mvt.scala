package graft.io

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LinearRing, Polygon}

/** Mapbox Vector Tile reader/writer (the format the reference opens through
  * GDAL's MVT driver — internals.md driver table). Implements the public
  * Vector Tile Specification 2.1: protobuf wire decoding of
  * Tile{Layer{name, extent, keys, values, Feature{id, tags, type,
  * geometry}}}, with the command-integer geometry stream (MoveTo=1,
  * LineTo=2, ClosePath=7; zigzag-encoded deltas) and the winding-order
  * polygon assembly rule (in tile coordinates — Y down — an exterior ring
  * has positive shoelace area, interior rings negative, each interior ring
  * belongs to the preceding exterior).
  *
  * Georeferencing: a `{z}/{x}/{y}.mvt` path tail maps tile-local
  * coordinates onto EPSG:3857 web mercator (the spec's addressing scheme);
  * without it, coordinates stay tile-local (x right, y down, 0..extent) —
  * the same behavior GDAL has without tile metadata. */
object Mvt {

  private val f = new GeometryFactory()
  private val EarthRadius = 6378137.0

  // ------------------------------------------------------------ wire format

  private final class Reader(b: Array[Byte], var i: Int, val end: Int) {
    def hasMore: Boolean = i < end
    def varint(): Long = {
      var shift = 0; var v = 0L
      var done = false
      while (!done) {
        if (i >= end) throw new IllegalArgumentException("MVT: truncated varint")
        val x = b(i); i += 1
        v |= (x & 0x7FL) << shift
        shift += 7
        if ((x & 0x80) == 0) done = true
      }
      v
    }
    def key(): (Int, Int) = { val k = varint(); ((k >>> 3).toInt, (k & 7).toInt) }
    def bytes(): (Int, Int) = { val len = varint().toInt; val s = i; i += len; (s, s + len) }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => i += 8
      case 2 => val len = varint().toInt; i += len
      case 5 => i += 4
      case w => throw new IllegalArgumentException(s"MVT: unsupported wire type $w")
    }
    def fixed64(): Long = {
      var v = 0L; var s = 0
      while (s < 64) { v |= (b(i) & 0xFFL) << s; i += 1; s += 8 }
      v
    }
    def fixed32(): Int = {
      var v = 0; var s = 0
      while (s < 32) { v |= (b(i) & 0xFF) << s; i += 1; s += 8 }
      v
    }
  }

  private def zigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)
  private def zigzagEnc(v: Long): Long = (v << 1) ^ (v >> 63)

  // ------------------------------------------------------------------ model

  final case class Layer(name: String, extent: Int, features: Seq[RawFeature])
  final case class RawFeature(id: Long, geomType: Int, tags: Array[Int],
                              geometry: Array[Long])

  private def decodeValue(b: Array[Byte], s: Int, e: Int): String = {
    val r = new Reader(b, s, e)
    var out: String = null
    while (r.hasMore) {
      val (fld, wire) = r.key()
      (fld, wire) match {
        case (1, 2) => val (vs, ve) = r.bytes(); out = new String(b, vs, ve - vs, "UTF-8")
        case (2, 5) => out = JsonMini.scalarString(java.lang.Float.intBitsToFloat(r.fixed32()).toDouble)
        case (3, 1) => out = JsonMini.scalarString(java.lang.Double.longBitsToDouble(r.fixed64()))
        case (4, 0) => out = r.varint().toString
        case (5, 0) => out = r.varint().toString
        case (6, 0) => out = zigzag(r.varint()).toString
        case (7, 0) => out = (r.varint() != 0).toString
        case _ => r.skip(wire)
      }
    }
    out
  }

  def readTile(bytes0: Array[Byte]): Seq[(Layer, Array[String], Array[String])] = {
    // tiles are conventionally stored gzip-compressed regardless of extension
    val bytes =
      if (bytes0.length >= 2 && (bytes0(0) & 0xFF) == 0x1F && (bytes0(1) & 0xFF) == 0x8B) {
        val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes0))
        try in.readAllBytes() finally in.close()
      } else bytes0
    val r = new Reader(bytes, 0, bytes.length)
    val out = Seq.newBuilder[(Layer, Array[String], Array[String])]
    while (r.hasMore) {
      val (fld, wire) = r.key()
      if (fld == 3 && wire == 2) {
        val (s, e) = r.bytes()
        out += decodeLayer(bytes, s, e)
      } else r.skip(wire)
    }
    out.result()
  }

  private def decodeLayer(b: Array[Byte], s: Int, e: Int): (Layer, Array[String], Array[String]) = {
    val r = new Reader(b, s, e)
    var name = ""; var extent = 4096
    val keys = Array.newBuilder[String]
    val values = Array.newBuilder[String]
    val feats = Seq.newBuilder[RawFeature]
    while (r.hasMore) {
      val (fld, wire) = r.key()
      (fld, wire) match {
        case (1, 2) => val (vs, ve) = r.bytes(); name = new String(b, vs, ve - vs, "UTF-8")
        case (5, 0) => extent = r.varint().toInt
        case (3, 2) => val (vs, ve) = r.bytes(); keys += new String(b, vs, ve - vs, "UTF-8")
        case (4, 2) => val (vs, ve) = r.bytes(); values += decodeValue(b, vs, ve)
        case (2, 2) =>
          val (vs, ve) = r.bytes()
          feats += decodeFeature(b, vs, ve)
        case _ => r.skip(wire)
      }
    }
    (Layer(name, extent, feats.result()), keys.result(), values.result())
  }

  private def decodeFeature(b: Array[Byte], s: Int, e: Int): RawFeature = {
    val r = new Reader(b, s, e)
    var id = 0L; var gt = 0
    var tags = Array.empty[Int]
    var geom = Array.empty[Long]
    while (r.hasMore) {
      val (fld, wire) = r.key()
      (fld, wire) match {
        case (1, 0) => id = r.varint()
        case (3, 0) => gt = r.varint().toInt
        case (2, 2) =>
          val (vs, ve) = r.bytes()
          val rr = new Reader(b, vs, ve)
          val buf = Array.newBuilder[Int]
          while (rr.hasMore) buf += rr.varint().toInt
          tags = buf.result()
        case (4, 2) =>
          val (vs, ve) = r.bytes()
          val rr = new Reader(b, vs, ve)
          val buf = Array.newBuilder[Long]
          while (rr.hasMore) buf += rr.varint()
          geom = buf.result()
        case _ => r.skip(wire)
      }
    }
    RawFeature(id, gt, tags, geom)
  }

  // ------------------------------------------------- geometry command stream

  /** decode the command stream into per-part coordinate paths (tile-local) */
  private def paths(geom: Array[Long]): Seq[(Array[Coordinate], Boolean)] = {
    val out = Seq.newBuilder[(Array[Coordinate], Boolean)]
    var cx = 0L; var cy = 0L
    var i = 0
    var cur: scala.collection.mutable.ArrayBuffer[Coordinate] = null
    while (i < geom.length) {
      val cmd = (geom(i) & 7).toInt
      val count = (geom(i) >>> 3).toInt
      i += 1
      cmd match {
        case 1 => // MoveTo: starts a new part
          var c = 0
          while (c < count) {
            if (cur != null && cur.nonEmpty) out += ((cur.toArray, false))
            cur = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
            cx += zigzag(geom(i)); cy += zigzag(geom(i + 1)); i += 2
            cur += new Coordinate(cx.toDouble, cy.toDouble)
            c += 1
          }
        case 2 => // LineTo
          if (cur == null) throw new IllegalArgumentException(
            "MVT: LineTo before any MoveTo in geometry command stream")
          var c = 0
          while (c < count) {
            cx += zigzag(geom(i)); cy += zigzag(geom(i + 1)); i += 2
            cur += new Coordinate(cx.toDouble, cy.toDouble)
            c += 1
          }
        case 7 => // ClosePath (rings only; no params)
          if (cur == null) throw new IllegalArgumentException(
            "MVT: ClosePath before any MoveTo in geometry command stream")
          out += ((cur.toArray, true))
          cur = null
        case other => throw new IllegalArgumentException(s"MVT: unknown geometry command $other")
      }
    }
    if (cur != null && cur.nonEmpty) out += ((cur.toArray, false))
    out.result()
  }

  private def shoelace(cs: Array[Coordinate]): Double = {
    var a = 0.0
    var i = 0
    while (i < cs.length) {
      val j = (i + 1) % cs.length
      a += cs(i).x * cs(j).y - cs(j).x * cs(i).y
      i += 1
    }
    a / 2
  }

  /** assemble a feature's command stream into JTS geometry (tile-local
    * coords; the caller applies georeferencing) */
  def geometry(ft: RawFeature): Geometry = ft.geomType match {
    case 1 => // POINT
      val ps = paths(ft.geometry).flatMap(_._1)
      if (ps.length == 1) f.createPoint(ps.head)
      else f.createMultiPoint(ps.map(f.createPoint).toArray)
    case 2 => // LINESTRING
      val ls = paths(ft.geometry).map(p => f.createLineString(p._1))
      if (ls.length == 1) ls.head else f.createMultiLineString(ls.toArray)
    case 3 => // POLYGON: winding groups rings into polygons
      val rings = paths(ft.geometry).map { case (cs0, closed) =>
        val cs = if (cs0.head.equals2D(cs0.last)) cs0 else cs0 :+ cs0.head.copy()
        (f.createLinearRing(cs), shoelace(cs0))
      }
      val polys = Seq.newBuilder[Polygon]
      var shell: LinearRing = null
      var holes = Seq.newBuilder[LinearRing]
      // spec §4.3.3.3: exterior rings have positive surveyor's-formula area
      // in tile coordinates and precede their interior rings; keying on the
      // FIRST ring's sign accepts conforming tiles regardless of which
      // y-axis convention the encoder evaluated the formula in
      val extSign = math.signum(rings.head._2)
      rings.foreach { case (r, a) =>
        if (math.signum(a) == extSign || a == 0) {
          if (shell != null) polys += f.createPolygon(shell, holes.result().toArray)
          shell = r; holes = Seq.newBuilder[LinearRing]
        } else holes += r
      }
      if (shell != null) polys += f.createPolygon(shell, holes.result().toArray)
      val ps = polys.result()
      if (ps.length == 1) ps.head else f.createMultiPolygon(ps.toArray)
    case t => throw new IllegalArgumentException(s"MVT: unknown geometry type $t")
  }

  // ------------------------------------------------------------------ reader

  private val TileXyzRe = ".*?(\\d+)/(\\d+)/(\\d+)\\.(mvt|pbf)(\\.gz)?$".r

  /** z/x/y from a conventional tile path, if present — with the tile-scheme
    * sanity bounds (z <= 30, x/y inside the 2^z grid) so date-like paths
    * ("2024/07/15.mvt") stay tile-local instead of silently rescaling */
  def tileAddress(path: String): Option[(Int, Int, Int)] = path match {
    case TileXyzRe(zs, xs, ys, _, _) =>
      try {
        val z = zs.toInt; val x = xs.toInt; val y = ys.toInt
        if (z >= 0 && z <= 30 && x >= 0 && y >= 0 && x < (1 << z) && y < (1 << z))
          Some((z, x, y))
        else None
      } catch { case _: NumberFormatException => None }
    case _ => None
  }

  /** The features of the tile at `path` (as planned: local, zip entry or
    * URL), in EPSG:3857 when the path carries a z/x/y address
    * ([[tileAddress]]), else tile-local. */
  def features(path: String, layerSel: Option[String]): Iterator[GeoJsonFile.Feature] = {
    val bytes = GeoFiles.withLocal(path)(p =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p.stripPrefix("file:"))))
    val addr = tileAddress(GeoFiles.unpinned(path))
    val layers0 = readTile(bytes)
    val layers = layerSel match {
      case Some(l) =>
        val hit = layers0.filter(_._1.name == l)
        if (hit.isEmpty) throw new IllegalArgumentException(
          s"MVT layer '$l' not found in '$path' (layers: ${layers0.map(_._1.name).mkString(", ")})")
        hit
      case None => layers0
    }
    layers.iterator.flatMap { case (layer, keys, values) =>
      layer.features.iterator.map { ft =>
        val props = scala.collection.mutable.LinkedHashMap.empty[String, String]
        var t = 0
        while (t + 1 < ft.tags.length) {
          props += (keys(ft.tags(t)) -> values(ft.tags(t + 1)))
          t += 2
        }
        var g = geometry(ft)
        addr.foreach { case (z, x, y) => g = toMercator(g, z, x, y, layer.extent) }
        GeoJsonFile.Feature(if (ft.id != 0) ft.id.toString else null, g,
          props.toMap + ("layer" -> layer.name))
      }
    }
  }

  def layers(path: String): Seq[String] = {
    val bytes = GeoFiles.withLocal(path)(p =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p.stripPrefix("file:"))))
    readTile(bytes).map(_._1.name)
  }

  /** tile-local → EPSG:3857 (spec tile addressing: origin top-left of the
    * z/x/y tile, y down) */
  private def toMercator(g: Geometry, z: Int, x: Int, y: Int, extent: Int): Geometry = {
    val world = 2 * math.Pi * EarthRadius
    val tile = world / (1 << z)
    val x0 = -world / 2 + x * tile
    val y0 = world / 2 - y * tile
    val out = g.copy()
    out.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: Coordinate): Unit = {
        c.x = x0 + c.x / extent * tile
        c.y = y0 - c.y / extent * tile
      }
    })
    out.geometryChanged()
    out
  }

  // ------------------------------------------------------------------ writer

  private final class Writer {
    val buf = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { buf.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      buf.write(v.toInt)
    }
    def key(fld: Int, wire: Int): Unit = varint((fld.toLong << 3) | wire)
    def bytes(fld: Int, b: Array[Byte]): Unit = { key(fld, 2); varint(b.length); buf.write(b) }
    def toArray: Array[Byte] = buf.toByteArray
  }

  /** Encode one layer of (id, geometry tile-local, properties) into a tile.
    * Geometries must already be in tile coordinates (0..extent, y down);
    * polygon rings are rewound to the spec's winding (exterior positive
    * area in the y-down frame). */
  def writeTile(layerName: String, extent: Int,
                feats: Seq[(Long, Geometry, Seq[(String, String)])]): Array[Byte] = {
    val keys = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val values = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def keyIdx(k: String): Int = keys.getOrElseUpdate(k, keys.size)
    def valIdx(v: String): Int = values.getOrElseUpdate(v, values.size)

    def encodeGeom(g: Geometry): (Int, Array[Long]) = {
      val cmds = Array.newBuilder[Long]
      var cx = 0L; var cy = 0L
      def move(c: Coordinate): Unit = {
        cmds += (1L << 3) | 1
        val dx = math.round(c.x) - cx; val dy = math.round(c.y) - cy
        cmds += zigzagEnc(dx); cmds += zigzagEnc(dy)
        cx += dx; cy += dy
      }
      def lines(cs: Array[Coordinate], from: Int, to: Int): Unit = {
        cmds += (((to - from).toLong) << 3) | 2
        var i = from
        while (i < to) {
          val dx = math.round(cs(i).x) - cx; val dy = math.round(cs(i).y) - cy
          cmds += zigzagEnc(dx); cmds += zigzagEnc(dy)
          cx += dx; cy += dy
          i += 1
        }
      }
      def ring(r: org.locationtech.jts.geom.LineString, exterior: Boolean): Unit = {
        var cs = r.getCoordinates.dropRight(1) // ClosePath replaces the closing vertex
        // spec winding in y-down tile coords: exterior rings positive area
        val area = shoelace(cs)
        val wantPositive = exterior
        if ((area > 0) != wantPositive) cs = cs.reverse
        move(cs.head)
        lines(cs, 1, cs.length)
        cmds += 7L // ClosePath
      }
      g.getGeometryType match {
        case "Point" => move(g.getCoordinate); (1, cmds.result())
        case "MultiPoint" =>
          val cs = g.getCoordinates
          cmds += (cs.length.toLong << 3) | 1
          cs.foreach { c =>
            val dx = math.round(c.x) - cx; val dy = math.round(c.y) - cy
            cmds += zigzagEnc(dx); cmds += zigzagEnc(dy)
            cx += dx; cy += dy
          }
          (1, cmds.result())
        case "LineString" | "MultiLineString" =>
          (0 until g.getNumGeometries).foreach { i =>
            val cs = g.getGeometryN(i).getCoordinates
            move(cs.head); lines(cs, 1, cs.length)
          }
          (2, cmds.result())
        case "Polygon" | "MultiPolygon" =>
          (0 until g.getNumGeometries).foreach { i =>
            val p = g.getGeometryN(i).asInstanceOf[Polygon]
            ring(p.getExteriorRing, exterior = true)
            (0 until p.getNumInteriorRing).foreach(j =>
              ring(p.getInteriorRingN(j), exterior = false))
          }
          (3, cmds.result())
        case t => throw new IllegalArgumentException(s"MVT writer: unsupported geometry $t")
      }
    }

    val featBytes = feats.map { case (id, g, props) =>
      val (gt, cmds) = encodeGeom(g)
      val w = new Writer
      if (id != 0) { w.key(1, 0); w.varint(id) }
      if (props.nonEmpty) {
        val tw = new Writer
        props.foreach { case (k, v) => tw.varint(keyIdx(k)); tw.varint(valIdx(v)) }
        w.bytes(2, tw.toArray)
      }
      w.key(3, 0); w.varint(gt)
      val gw = new Writer
      cmds.foreach(gw.varint)
      w.bytes(4, gw.toArray)
      w.toArray
    }

    val lw = new Writer
    lw.key(15, 0); lw.varint(2) // version 2
    lw.bytes(1, layerName.getBytes("UTF-8"))
    featBytes.foreach(lw.bytes(2, _))
    keys.keys.foreach(k => lw.bytes(3, k.getBytes("UTF-8")))
    values.keys.foreach { v =>
      val vw = new Writer
      vw.bytes(1, v.getBytes("UTF-8")) // string values (schema is dynamic strings)
      lw.bytes(4, vw.toArray)
    }
    lw.key(5, 0); lw.varint(extent)

    val tile = new Writer
    tile.bytes(3, lw.toArray)
    tile.toArray
  }
}

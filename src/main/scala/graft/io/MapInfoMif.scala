package graft.io

import graft.geom.Geo
import graft.io.GeoJsonFile.Feature
import org.locationtech.jts.geom._

/**
 * MapInfo Interchange Format (MIF/MID) reader — the published text form of
 * MapInfo tables (MapInfo Professional Appendix J; the reference reads it
 * through GDAL's MITAB driver, st_read.cpp). A `.mif` carries the header
 * (columns, delimiter) and the geometry stream; the sibling `.mid` carries one
 * delimited attribute row per geometry object.
 *
 * Object keywords covered: NONE, POINT, LINE, PLINE [MULTIPLE], REGION, RECT,
 * ROUNDRECT (corner rounding ignored, like a bbox), ELLIPSE (72-segment
 * inscribed approximation), ARC (72-segment elliptical arc), MULTIPOINT,
 * COLLECTION. Style clauses (SYMBOL/PEN/BRUSH/FONT/CENTER/SMOOTH) are
 * consumed and dropped. Region rings nest by containment: each ring becomes a
 * hole of the first already-seen ring that contains it, else a new shell —
 * the even-odd interpretation MITAB applies.
 *
 * The token stream is pulled lazily off a buffered reader, so a multi-GB .mif
 * holds one object in memory at a time (same stance as the XML readers).
 */
object MapInfoMif {

  final case class Meta(delimiter: Char, columns: Vector[String])

  private def midPath(mif: String): String = {
    val base = mif.stripPrefix("file:")
    val i = base.lastIndexOf('.')
    val stem = if (i >= 0) base.substring(0, i) else base
    val cand = Seq(stem + ".mid", stem + ".MID", stem + ".Mid")
    cand.find(p => new java.io.File(p).exists()).getOrElse(cand.head)
  }

  /** Header scan: DELIMITER, COLUMNS n (+ n `name type` lines), until DATA. */
  def meta(path: String): Meta = {
    val br = GeoFiles.textReader(path)
    try {
      var delim = '\t' // MIF default when no DELIMITER clause
      val cols = Vector.newBuilder[String]
      var line = br.readLine()
      var done = false
      while (line != null && !done) {
        val t = line.trim
        val up = t.toUpperCase(java.util.Locale.ROOT)
        if (up.startsWith("DELIMITER")) {
          val q0 = t.indexOf('"')
          if (q0 >= 0 && q0 + 1 < t.length) delim = t.charAt(q0 + 1)
        } else if (up.startsWith("COLUMNS")) {
          val n = t.split("\\s+").lift(1).map(_.toInt).getOrElse(0)
          var i = 0
          while (i < n) {
            val cl = br.readLine()
            if (cl == null) i = n
            else {
              val ct = cl.trim
              if (ct.nonEmpty) { cols += ct.split("\\s+")(0); i += 1 }
            }
          }
        } else if (up.startsWith("DATA")) done = true
        line = if (done) line else br.readLine()
      }
      Meta(delim, cols.result())
    } finally br.close()
  }

  /** Whitespace tokenizer positioned after the DATA line. */
  private final class Tokens(br: java.io.BufferedReader) {
    private var line: String = null
    private var pos = 0
    private var pending: String = null
    // skip header through DATA
    locked()
    private def locked(): Unit = {
      var l = br.readLine()
      while (l != null && !l.trim.toUpperCase(java.util.Locale.ROOT).startsWith("DATA")) {
        // skip the COLUMNS block bodily so a column named "Data" can't truncate
        val t = l.trim.toUpperCase(java.util.Locale.ROOT)
        if (t.startsWith("COLUMNS")) {
          val n = l.trim.split("\\s+").lift(1).map(_.toInt).getOrElse(0)
          var i = 0
          while (i < n) { val cl = br.readLine(); if (cl == null) i = n else if (cl.trim.nonEmpty) i += 1 }
        }
        l = br.readLine()
      }
      line = br.readLine(); pos = 0
    }
    /** next whitespace-separated token, or null at EOF */
    def next(): String = {
      if (pending != null) { val t = pending; pending = null; return t }
      while (line != null) {
        while (pos < line.length && Character.isWhitespace(line.charAt(pos))) pos += 1
        if (pos >= line.length) { line = br.readLine(); pos = 0 }
        else {
          val start = pos
          while (pos < line.length && !Character.isWhitespace(line.charAt(pos))) pos += 1
          return line.substring(start, pos)
        }
      }
      null
    }
    def peek(): String = { if (pending == null) pending = next(); pending }
    def num(): Double = {
      val t = next()
      // style arg leftovers like "(1,2,0)" never reach here: parens are
      // consumed by skipParens before numeric reads
      t.toDouble
    }
    def int(): Int = next().toInt
    /** consume through the matching ')' (style clauses: PEN (1,2,0) / PEN(1,2,0)) */
    def skipParens(): Unit = {
      var t = next()
      while (t != null && !t.contains(")")) t = next()
    }
  }

  private val styleKeys = Set("SYMBOL", "PEN", "BRUSH", "FONT")

  /** The objects of the `.mif` at `path` with their `.mid` attributes, as a
    * stream that closes both files when it drains or closes. */
  def features(path: String): GeoJsonFile.FeatureStream = {
    val m = meta(path)
    val fac = Geo.factory
    // MID attribute rows (may be absent — geometry-only table)
    val midFile = new java.io.File(midPath(path))
    val in = GeoFiles.textReader(path)
    val mid = try { if (midFile.exists()) GeoFiles.textReader(midFile.getPath) else null }
      catch { case e: Throwable => in.close(); throw e }
    val release = () => try in.close() finally if (mid != null) mid.close()
    val toks = try new Tokens(in) catch { case e: Throwable => release(); throw e }
    val midLines: Iterator[Array[String]] =
      if (mid == null) Iterator.continually(Array.empty[String])
      else Iterator.continually(mid.readLine()).takeWhile(_ != null)
        .map(l => splitMid(l, m.delimiter)) ++ Iterator.continually(Array.empty[String])

    def readCoords(k: Int): Array[Coordinate] =
      Array.fill(k) { val x = toks.num(); val y = toks.num(); new Coordinate(x, y) }

    def ellipseRing(x0: Double, y0: Double, x1: Double, y1: Double): Array[Coordinate] = {
      val cx = (x0 + x1) / 2; val cy = (y0 + y1) / 2
      val rx = math.abs(x1 - x0) / 2; val ry = math.abs(y1 - y0) / 2
      val n = 72
      Array.tabulate(n + 1) { i =>
        val a = 2 * math.Pi * (i % n) / n
        new Coordinate(cx + rx * math.cos(a), cy + ry * math.sin(a))
      }
    }

    /** rings → polygons by containment (first containing earlier ring wins) */
    def assemble(rings: Seq[Array[Coordinate]]): Geometry = {
      val closed = rings.map { cs =>
        if (cs.length >= 3 && !cs.head.equals2D(cs.last)) cs :+ cs.head else cs
      }.filter(_.length >= 4).map(fac.createLinearRing(_))
      if (closed.isEmpty) return fac.createPolygon()
      val shells = scala.collection.mutable.ArrayBuffer.empty[(LinearRing, scala.collection.mutable.ArrayBuffer[LinearRing])]
      closed.foreach { ring =>
        shells.find { case (sh, _) =>
          org.locationtech.jts.algorithm.PointLocation.isInRing(ring.getCoordinateN(0), sh.getCoordinates)
        } match {
          case Some((_, holes)) => holes += ring
          case None => shells += ((ring, scala.collection.mutable.ArrayBuffer.empty[LinearRing]))
        }
      }
      val polys = shells.map { case (sh, holes) => fac.createPolygon(sh, holes.toArray) }
      if (polys.length == 1) polys.head else fac.createMultiPolygon(polys.toArray)
    }

    /** parse one object; cursor past its keyword token */
    def obj(kw: String): Geometry = kw match {
      case "NONE" => fac.createGeometryCollection()
      case "POINT" => fac.createPoint(new Coordinate(toks.num(), toks.num()))
      case "LINE" =>
        fac.createLineString(Array(
          new Coordinate(toks.num(), toks.num()), new Coordinate(toks.num(), toks.num())))
      case "PLINE" =>
        val p = Option(toks.peek()).map(_.toUpperCase(java.util.Locale.ROOT))
        if (p.contains("MULTIPLE")) {
          toks.next()
          val sections = toks.int()
          val lines = Array.fill(sections)(fac.createLineString(readCoords(toks.int())))
          if (lines.length == 1) lines.head else fac.createMultiLineString(lines)
        } else fac.createLineString(readCoords(toks.int()))
      case "REGION" =>
        val nRings = toks.int()
        assemble(Seq.fill(nRings)(readCoords(toks.int())))
      case "RECT" | "ROUNDRECT" =>
        val x0 = toks.num(); val y0 = toks.num(); val x1 = toks.num(); val y1 = toks.num()
        if (kw == "ROUNDRECT") toks.num() // corner radius — dropped
        fac.createPolygon(fac.createLinearRing(Array(
          new Coordinate(x0, y0), new Coordinate(x1, y0), new Coordinate(x1, y1),
          new Coordinate(x0, y1), new Coordinate(x0, y0))))
      case "ELLIPSE" =>
        val x0 = toks.num(); val y0 = toks.num(); val x1 = toks.num(); val y1 = toks.num()
        fac.createPolygon(fac.createLinearRing(ellipseRing(x0, y0, x1, y1)))
      case "ARC" =>
        val x0 = toks.num(); val y0 = toks.num(); val x1 = toks.num(); val y1 = toks.num()
        val a0 = math.toRadians(toks.num()); val a1raw = math.toRadians(toks.num())
        val a1 = if (a1raw <= a0) a1raw + 2 * math.Pi else a1raw
        val cx = (x0 + x1) / 2; val cy = (y0 + y1) / 2
        val rx = math.abs(x1 - x0) / 2; val ry = math.abs(y1 - y0) / 2
        val n = math.max(2, (72 * (a1 - a0) / (2 * math.Pi)).toInt)
        fac.createLineString(Array.tabulate(n + 1) { i =>
          val a = a0 + (a1 - a0) * i / n
          new Coordinate(cx + rx * math.cos(a), cy + ry * math.sin(a))
        })
      case "MULTIPOINT" =>
        val k = toks.int()
        fac.createMultiPoint(readCoords(k).map(fac.createPoint))
      case "COLLECTION" =>
        val k = toks.int()
        val parts = Array.fill(k) {
          var t = toks.next()
          // style clauses may precede nested objects too
          while (t != null && {
            val up = t.toUpperCase(java.util.Locale.ROOT)
            if (styleKeys(up) || up.startsWith("SYMBOL(") || up.startsWith("PEN(") || up.startsWith("BRUSH(")) {
              if (!t.contains(")")) toks.skipParens(); true
            } else false
          }) t = toks.next()
          obj(t.toUpperCase(java.util.Locale.ROOT))
        }
        fac.createGeometryCollection(parts)
      case other => throw new IllegalArgumentException(s"unsupported MIF object '$other' in $path")
    }

    var n = 0
    /** The next object with its attributes, or null at the end. */
    def nextObject(): Feature = {
      var t = toks.next()
      var geom: Geometry = null
      while (geom == null && t != null) {
        val up = t.toUpperCase(java.util.Locale.ROOT)
        if (styleKeys(up)) { toks.skipParens() }
        else if (styleKeys.exists(k => up.startsWith(k + "("))) { if (!t.contains(")")) toks.skipParens() }
        else if (up == "SMOOTH") ()
        else if (up == "CENTER") { toks.num(); toks.num() }
        else geom = obj(up)
        if (geom == null) t = toks.next()
      }
      if (geom == null) null
      else {
        n += 1
        val attrs = midLines.next()
        val props = m.columns.zipWithIndex.collect {
          case (c, i) if i < attrs.length => c -> attrs(i)
        }.toMap
        Feature(n.toString, geom, props)
      }
    }
    new GeoJsonFile.FeatureStream(release)(() => nextObject())
  }

  /** MID row split honoring double-quoted fields (quotes strip; delimiter
   *  inside quotes is literal). */
  private[io] def splitMid(line: String, delim: Char): Array[String] = {
    val out = Vector.newBuilder[String]
    val sb = new java.lang.StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') inQ = !inQ
      else if (c == delim && !inQ) { out += sb.toString; sb.setLength(0) }
      else sb.append(c)
      i += 1
    }
    out += sb.toString
    out.result().toArray
  }
}

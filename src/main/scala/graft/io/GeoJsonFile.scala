package graft.io

import graft.geom.GeoJson
import org.locationtech.jts.geom.Geometry

/**
 * GeoJSON file-level parsing: RFC 7946 FeatureCollection documents and
 * newline-delimited GeoJSON (one Feature or geometry per line). Geometry is
 * delegated to [[graft.geom.GeoJson]]; properties are captured as
 * string-valued map entries (JSON scalars rendered verbatim) — the dynamic-
 * schema analogue of the reference's GDAL-driven column typing
 * (/root/reference/spatial/src/spatial/gdal/functions/st_read.cpp:266-344).
 */
object GeoJsonFile {

  final case class Feature(id: String, geom: Geometry, properties: Map[String, String])

  /** A lazy stream of features over open files: `step` returns the next
    * feature, or null at the end. `release` runs once, when the stream
    * drains or at an earlier [[close]]: a partition reader registers the
    * stream with `GeoRead.closing`, so a read that stops early (a LIMIT)
    * closes its files too. */
  final class FeatureStream(release: () => Unit)(step: () => Feature)
      extends Iterator[Feature] with java.io.Closeable {
    private var pending: Feature = null
    private var closed = false
    def hasNext: Boolean = {
      if (pending == null && !closed) {
        pending = step()
        if (pending == null) close()
      }
      pending != null
    }
    def next(): Feature = {
      if (!hasNext) throw new NoSuchElementException("exhausted")
      val f = pending; pending = null; f
    }
    def close(): Unit = if (!closed) { closed = true; release() }
  }

  def parseDocument(text: String): Iterator[Feature] = {
    val t = text.trim
    if (t.isEmpty) Iterator.empty
    else if (t.linesIterator.take(2).size > 1 && !t.startsWith("{")) Iterator.empty
    else {
      val p = new P(t)
      p.document()
    }
  }

  /** Streaming FeatureCollection parse: scans for the top-level `"features"`
   *  array and yields one Feature per balanced object WITHOUT materializing
   *  the document (a multi-GB collection streams at feature granularity).
   *  Non-collection documents (single Feature / bare geometry) are buffered —
   *  they have no repeated structure to stream — up to a sanity cap. */
  def streamDocument(reader: java.io.Reader): Iterator[Feature] = {
    val in = new java.io.BufferedReader(reader, 1 << 16)
    val head = new java.lang.StringBuilder
    val cap = 256 << 20 // a single non-collection object larger than this is malformed use
    var depth = 0; var inStr = false; var esc = false
    var expectKey = false
    val str = new java.lang.StringBuilder
    var lastKeyAtDepth1: String = null
    var found = false
    var eof = false
    while (!found && !eof && head.length() < cap) {
      val ci = in.read()
      if (ci < 0) eof = true
      else {
        val c = ci.toChar
        head.append(c)
        if (inStr) {
          if (esc) { esc = false; str.append(c) }
          else if (c == '\\') esc = true
          else if (c == '"') inStr = false
          else str.append(c)
        } else c match {
          case '"' => inStr = true; str.setLength(0)
          case '{' => depth += 1; expectKey = true
          case '}' => depth -= 1
          case '[' => depth += 1
          case ']' => depth -= 1
          case ':' =>
            if (depth == 1 && expectKey) { lastKeyAtDepth1 = str.toString; expectKey = false }
            if (depth == 1 && lastKeyAtDepth1 == "features") {
              // consume whitespace up to the array opener
              var c2 = in.read()
              while (c2 >= 0 && Character.isWhitespace(c2)) c2 = in.read()
              if (c2 == '[') found = true
              else eof = c2 < 0 // "features" not an array: treat as non-collection
            }
          case ',' => if (depth == 1) expectKey = true
          case _ =>
        }
      }
    }
    if (!found) {
      in.close()
      return parseDocument(head.toString)
    }
    // stream balanced objects out of the features array
    new Iterator[Feature] {
      private var nextFeature: Feature = advance()
      private def advance(): Feature = {
        var ci = in.read()
        while (ci >= 0 && (Character.isWhitespace(ci) || ci == ',')) ci = in.read()
        if (ci < 0 || ci == ']') { in.close(); return null }
        require(ci == '{', s"expected feature object, got '${ci.toChar}'")
        val sb = new java.lang.StringBuilder(256)
        sb.append('{')
        var d = 1; var s = false; var e = false
        while (d > 0) {
          val x = in.read()
          require(x >= 0, "unterminated feature object")
          val ch = x.toChar
          sb.append(ch)
          if (s) {
            if (e) e = false
            else if (ch == '\\') e = true
            else if (ch == '"') s = false
          } else ch match {
            case '"' => s = true
            case '{' | '[' => d += 1
            case '}' | ']' => d -= 1
            case _ =>
          }
        }
        val p = new P(sb.toString)
        p.feature()
      }
      override def hasNext: Boolean = nextFeature != null
      override def next(): Feature = {
        val f = nextFeature
        nextFeature = advance()
        f
      }
    }
  }

  /** One line of NDJSON → Feature (accepts bare geometries too). */
  def parseLine(line: String): Option[Feature] = {
    val t = line.trim
    if (t.isEmpty) None
    else {
      val p = new P(t)
      Some(p.feature())
    }
  }

  private final class P(s: String) {
    var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def peek(): Char = { ws(); if (i < s.length) s.charAt(i) else '\u0000' }
    private def expect(c: Char): Unit = {
      ws()
      if (i >= s.length || s.charAt(i) != c)
        throw new IllegalArgumentException(s"Invalid GeoJSON at offset $i: expected '$c'")
      i += 1
    }

    private def string(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 'u' if i + 5 < s.length =>
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
            case o => sb.append(o); i += 2
          }
        } else { sb.append(c); i += 1 }
      }
      expect('"')
      sb.toString
    }

    /** Skip any JSON value, returning its raw text slice. */
    private def rawValue(): String = {
      ws()
      val start = i
      skipValue()
      s.substring(start, i)
    }

    private def skipValue(): Unit = {
      peek() match {
        case '{' =>
          expect('{')
          if (peek() != '}') {
            string(); expect(':'); skipValue()
            while (peek() == ',') { i += 1; string(); expect(':'); skipValue() }
          }
          expect('}')
        case '[' =>
          expect('[')
          if (peek() != ']') {
            skipValue()
            while (peek() == ',') { i += 1; skipValue() }
          }
          expect(']')
        case '"' => string()
        case _ =>
          val start = i
          while (i < s.length && ",]}".indexOf(s.charAt(i)) < 0 && !s.charAt(i).isWhitespace) i += 1
          if (i == start) throw new IllegalArgumentException(s"Invalid GeoJSON at offset $i")
      }
    }

    private def propsObject(): Map[String, String] = {
      expect('{')
      val m = Map.newBuilder[String, String]
      if (peek() != '}') {
        var done = false
        while (!done) {
          val k = string()
          expect(':')
          val v = if (peek() == '"') string() else rawValue()
          m += (k -> v)
          if (peek() == ',') i += 1 else done = true
        }
      }
      expect('}')
      m.result()
    }

    def feature(): Feature = {
      ws()
      val objStart = i
      expect('{')
      var typ: String = null
      var geom: Geometry = null
      var id: String = null
      var props: Map[String, String] = Map.empty
      var geomRaw: String = null
      if (peek() != '}') {
        var done = false
        while (!done) {
          val key = string()
          expect(':')
          key match {
            case "type" => typ = string()
            case "geometry" => if (peek() == 'n') { rawValue() } else geomRaw = rawValue()
            case "properties" => if (peek() == 'n') { rawValue() } else props = propsObject()
            case "id" => id = if (peek() == '"') string() else rawValue()
            case _ => skipValue()
          }
          if (peek() == ',') i += 1 else done = true
        }
      }
      expect('}')
      if (typ != null && typ != "Feature" && geomRaw == null) {
        // bare geometry object: reparse the whole object as geometry
        geom = GeoJson.parse(s.substring(objStart, i))
      } else if (geomRaw != null) geom = GeoJson.parse(geomRaw)
      Feature(id, geom, props)
    }

    def document(): Iterator[Feature] = {
      ws()
      // A FeatureCollection, a single Feature, or a bare geometry
      val save = i
      expect('{')
      var isCollection = false
      var featuresStart = -1
      if (peek() != '}') {
        var done = false
        while (!done && !isCollection) {
          val key = string()
          expect(':')
          key match {
            case "type" =>
              val t = string()
              if (t == "FeatureCollection") isCollection = true
            case "features" =>
              ws(); featuresStart = i; skipValue()
            case _ => skipValue()
          }
          if (peek() == ',') i += 1 else done = true
        }
      }
      if (!isCollection) {
        i = save
        return Iterator.single(feature())
      }
      // find the features array (may appear before or after "type")
      if (featuresStart < 0) {
        // continue scanning keys for "features"
        var done = false
        while (!done && featuresStart < 0) {
          if (peek() == ',') i += 1
          if (peek() == '}') done = true
          else {
            val key = string()
            expect(':')
            if (key == "features") { ws(); featuresStart = i; skipValue() }
            else skipValue()
            if (peek() != ',' && peek() != '"') done = true
          }
        }
      }
      if (featuresStart < 0) return Iterator.empty
      val fp = new P(s)
      fp.i = featuresStart
      fp.featuresArray()
    }

    def featuresArray(): Iterator[Feature] = {
      expect('[')
      val self = this
      new Iterator[Feature] {
        private var first = true
        private var finished = peek() == ']'
        if (finished) { i += 1 }
        override def hasNext: Boolean = !finished
        override def next(): Feature = {
          if (!first) expect(',')
          first = false
          val f = self.feature()
          if (peek() != ',') { expect(']'); finished = true }
          f
        }
      }
    }
  }
}

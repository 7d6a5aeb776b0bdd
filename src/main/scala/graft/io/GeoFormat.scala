package graft.io

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** What one partition reader asks of its format: the path as planned
  * (remote, zip-virtual or local), the table's data columns, the ones the
  * query reads, and the scan's layer, options and window. A format that
  * opens a stream its rows read lazily registers it with [[closing]]; the
  * partition reader closes it, whether or not the rows were read to the end. */
final case class GeoRead(path: String, fullSchema: StructType, required: StructType,
                         layer: Option[String], opts: GeoReadOptions,
                         bbox: Option[(Double, Double, Double, Double)]) {
  private val opened = scala.collection.mutable.ArrayBuffer.empty[java.io.Closeable]
  def closing[C <: java.io.Closeable](c: C): C = { opened += c; c }
  def close(): Unit = opened.foreach(c => try c.close() catch { case _: java.io.IOException => })
}

/**
 * One readable spatial format, with everything the reader, `st_read_meta`,
 * `st_drivers` and the planner rules know about it (reference: ST_Read and
 * ST_Drivers over GDAL's driver registry). [[GeoFormat.all]] lists them;
 * no reader code outside this file dispatches on a format's name.
 *
 * A split is one task's share of one file, as format-defined longs: a byte
 * range, a record range, B-tree subtree pages or PBF blob positions.
 * [[GeoFormat.Whole]] (no longs) reads the whole file.
 *
 * @param gz        also reads its files gzipped, under a trailing `.gz`
 * @param barePath  a bare `` FROM `x.ext` `` resolves to this format
 * @param layered   files hold named layers: option("layer") selects one,
 *                  and `st_read_meta` lists them ([[layers]])
 * @param bboxIndex a packed index prunes features to a pushed query window
 */
abstract class GeoFormat(val name: String, val extensions: Seq[String], val description: String,
                         val canWrite: Boolean = true, val gz: Boolean = false,
                         val barePath: Boolean = true, val layered: Boolean = false,
                         val bboxIndex: Boolean = false) extends Serializable {
  /** the data columns of the file at `local` */
  def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType

  /** The splits of the file at planned path `path`, planned on the driver;
    * a format that splits opens the local copy itself, so the others never
    * localize a file while planning. `maxBytes` is Spark's split size. */
  def splits(path: String, layer: Option[String], maxBytes: => Long): Seq[Array[Long]] =
    GeoFormat.Whole

  /** the rows of one split of the file at `local` */
  def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow]

  /** a bare `.json` whose head (whitespace removed) this accepts is this format */
  def sniffs(compactHead: String): Boolean = false

  /** bytes the scan reads, for statistics */
  def bytes(local: String): Long = new java.io.File(local.stripPrefix("file:")).length()
  /** the row count when a header carries it, for statistics */
  def rowCount(local: String): Option[Long] = None
  /** the CRS string and detail `st_read_meta` reports */
  def crs(local: String): (String, GeoMeta.CrsDetail) = (null, GeoMeta.CrsDetail())
  /** the layer names `st_read_meta` reports */
  def layers(local: String): Seq[String] = Nil
}

object GeoFormat {
  val Whole: Seq[Array[Long]] = Seq(Array.emptyLongArray)

  // ------------------------------------------------------------ registry

  object Shp extends GeoFormat("shapefile", Seq(".shp"),
      "ESRI Shapefile (.shp/.shx/.dbf/.cpg; per-partition writer)") {
    private def dbfFieldType(f: Shapefile.DbfField): DataType = f.typ match {
      case 'N' if f.decimals == 0 && f.width < 10 => IntegerType
      case 'N' if f.decimals == 0 && f.width < 19 => LongType
      case 'N' | 'F' => DoubleType
      case 'D' => DateType
      case 'L' => BooleanType
      case _ => StringType
    }
    def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType = {
      // dedupe names like the reference (read_shapefile.cpp:164-172)
      val seen = scala.collection.mutable.Map.empty[String, Int]
      val fields = Shapefile.readMeta(local).fields.map { f =>
        val n = seen.get(f.name) match {
          case None => seen(f.name) = 1; f.name
          case Some(c) => seen(f.name) = c + 1; s"${f.name}_$c"
        }
        StructField(n, dbfFieldType(f))
      }
      StructType(fields :+ StructField("geom", BinaryType))
    }
    // record ranges from the .shx index: one 20 GB .shp becomes many tasks
    override def splits(path: String, layer: Option[String], maxBytes: => Long): Seq[Array[Long]] =
      GeoFiles.withLocal(path) { local =>
        val n = Shapefile.readMeta(local).recordCount
        if (n == 0) Seq(Array(0L, 0L))
        else {
          val shpBytes = new java.io.File(Shapefile.basePath(local) + ".shp").length()
          val chunks = math.max(1, math.min(n.toLong, shpBytes / maxBytes + 1)).toInt
          val per = (n + chunks - 1) / chunks
          (0 until n by per).map(s => Array(s.toLong, math.min(n, s + per).toLong))
        }
      }
    def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow] =
      GeoRows.shapefileRows(local, split(0).toInt, split(1).toInt, read.fullSchema, read.required,
        read.opts.encoding)
    // the payload lives beside the .shp in .dbf: count the family
    override def bytes(local: String): Long = {
      val base = Shapefile.basePath(local)
      Seq(".shp", ".dbf", ".shx").map(e => new java.io.File(base + e).length()).sum
    }
    override def rowCount(local: String): Option[Long] =
      Some(Shapefile.readMeta(local).recordCount.toLong)
    override def crs(local: String): (String, GeoMeta.CrsDetail) = {
      val prj = Paths.get(Shapefile.basePath(local) + ".prj")
      if (!Files.exists(prj)) (null, GeoMeta.CrsDetail())
      else {
        val wkt = new String(Files.readAllBytes(prj), "UTF-8").trim
        (wkt, GeoMeta.fromWkt1(wkt))
      }
    }
  }

  object GeoJson extends GeoFormat("geojson", Seq(".geojson"),
      "GeoJSON FeatureCollection (RFC 7946; single-document writer)", gz = true) {
    def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType =
      promotedSchema(local)(GeoJsonFile.streamDocument)
    // stream the FeatureCollection: a multi-GB document must not be
    // materialized as one String/byte[]
    def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow] =
      GeoJsonFile.streamDocument(read.closing(GeoFiles.textReader(local)))
        .map(GeoRows.featureRow(_, read.required))
    override def crs(local: String): (String, GeoMeta.CrsDetail) = GeoMeta.Crs84
  }

  object GeoJsonl extends GeoFormat("geojsonl", Seq(".ndjson", ".geojsonl"),
      "Newline-delimited GeoJSON", gz = true) {
    private def lines(br: java.io.BufferedReader): Iterator[GeoJsonFile.Feature] =
      Iterator.continually(br.readLine()).takeWhile(_ != null).flatMap(GeoJsonFile.parseLine)
    def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType =
      promotedSchema(local)(lines)
    // newline-aligned byte ranges; a gzipped file is not seekable and stays
    // one task
    override def splits(path: String, layer: Option[String], maxBytes: => Long): Seq[Array[Long]] =
      if (GeoFiles.unpinned(path).toLowerCase.endsWith(".gz")) Whole
      else {
        val len = GeoFiles.withLocal(path)(new java.io.File(_).length())
        val step = maxBytes
        if (len == 0) Seq(Array(0L, 0L))
        else (0L until len by step).map(s => Array(s, math.min(len, s + step)))
      }
    def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow] =
      (if (split.isEmpty) lines(read.closing(GeoFiles.textReader(local)))
       else read.closing(GeoFiles.lineRange(local, split(0), split(1))).flatMap(GeoJsonFile.parseLine))
        .map(GeoRows.featureRow(_, read.required))
    override def crs(local: String): (String, GeoMeta.CrsDetail) = GeoMeta.Crs84
  }

  object Osm extends GeoFormat("osmpbf", Seq(".osm.pbf"), "OpenStreetMap PBF (block-parallel)",
      canWrite = false) {
    private val osmSchema = StructType(Seq(
      StructField("kind", StringType),
      StructField("id", LongType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("refs", ArrayType(LongType)),
      StructField("lat", DoubleType),
      StructField("lon", DoubleType),
      StructField("ref_roles", ArrayType(StringType)),
      StructField("ref_types", ArrayType(StringType))))
    def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType = osmSchema
    // runs of 16 blobs per task (st_read_osm.cpp parallel model), each blob
    // as (offset, header size, data size)
    override def splits(path: String, layer: Option[String], maxBytes: => Long): Seq[Array[Long]] =
      GeoFiles.withLocal(path)(OsmPbf.indexBlobs).grouped(16).map(_.flatMap(b =>
        Seq(b.offset, b.headerSize.toLong, b.dataSize.toLong)).toArray).toSeq
    def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow] =
      split.grouped(3).flatMap(b => OsmPbf.readBlob(local, OsmPbf.BlobRef(b(0), b(1).toInt, b(2).toInt)))
        .map(GeoRows.osmRow(_, read.required))
  }

  object Fgb extends GeoFormat("flatgeobuf", Seq(".fgb"),
      "FlatGeobuf (native flatbuffers decoder; writer emits the packed Hilbert R-tree)",
      bboxIndex = true) {
    // property values surface as strings (same dynamic-schema stance as geojson)
    def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType =
      StructType(FlatGeobuf.readHeader(local).columns.map(c => StructField(c.name, StringType)) :+
        StructField("geom", BinaryType))
    // byte ranges at the packed index's leaf offsets (an unindexed file stays
    // one range: length-prefixed features are not seekable blind)
    override def splits(path: String, layer: Option[String], maxBytes: => Long): Seq[Array[Long]] =
      GeoFiles.withLocal(path)(FlatGeobuf.splitOffsets(_, maxBytes)).map { case (a, b) => Array(a, b) }
    def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow] = {
      val (from, to) = (split(0), split(1))
      // packed-index pruning when a query window was pushed down; the exact
      // spatial predicate remains in the residual Filter above
      val feats = read.bbox match {
        case Some((x0, y0, x1, y1)) =>
          FlatGeobuf.searchIndex(local, x0, y0, x1, y1) match {
            case Some(offsets) =>
              FlatGeobuf.readFeaturesAt(local, offsets.filter(o => o >= from && (to < 0 || o < to)))
            case None => FlatGeobuf.readFeaturesRange(local, from, to)
          }
        case None => FlatGeobuf.readFeaturesRange(local, from, to)
      }
      feats.map(GeoRows.fgbRow(_, read.required))
    }
    override def rowCount(local: String): Option[Long] =
      Some(FlatGeobuf.readHeader(local).featuresCount).filter(_ > 0)
    override def crs(local: String): (String, GeoMeta.CrsDetail) = {
      val h = FlatGeobuf.readHeader(local)
      val base = GeoMeta.fromWkt1(h.crsWkt)
      val Array(org, code) = (Option(h.crs).getOrElse(":") + ":").split(":", -1).take(2)
      (h.crs, base.copy(
        name = Option(h.crsName).getOrElse(base.name),
        authName = if (org.nonEmpty) org else base.authName,
        authCode = if (code.nonEmpty) code else base.authCode))
    }
  }

  object Gpkg extends GeoFormat("geopackage", Seq(".gpkg"),
      "GeoPackage (mmap sqlite B-tree scan; sqlite-page writer)", layered = true) {
    private def sqliteToSpark(declared: String, isGeom: Boolean): DataType =
      if (isGeom) BinaryType
      else if (declared.startsWith("INT") || declared == "MEDIUMINT" || declared == "BOOLEAN") LongType
      else if (declared.startsWith("REAL") || declared.startsWith("DOUBLE") || declared.startsWith("FLOAT")) DoubleType
      else if (declared == "BLOB") BinaryType
      else StringType
    def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType = {
      val t = GeoFiles.geopackageTable(local, layer)
      StructType(t.columns.map { case (n, typ) => StructField(n, sqliteToSpark(typ, n == t.geomColumn)) })
    }
    // groups of the feature table's root-level B-tree subtrees (the
    // balanced tree makes equal child counts about equal bytes)
    override def splits(path: String, layer: Option[String], maxBytes: => Long): Seq[Array[Long]] =
      GeoFiles.withLocal(path) { local =>
        val roots = GeoPackage.subtreeRoots(local, GeoFiles.geopackageTable(local, layer))
        val bytes = new java.io.File(local.stripPrefix("file:")).length()
        val chunks = math.max(1, math.min(roots.size.toLong, bytes / maxBytes + 1)).toInt
        val per = (roots.size + chunks - 1) / chunks
        roots.grouped(per).map(_.toArray).toSeq
      }
    def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow] =
      GeoRows.gpkgRows(local, split, read.required, read.layer, keepWkb = read.opts.keepWkb)
    override def crs(local: String): (String, GeoMeta.CrsDetail) =
      GeoPackage.srsDetail(local) match {
        case Some((name, org, code, wkt)) =>
          (s"$org:$code", GeoMeta.fromWkt1(wkt).copy(name = name, authName = org, authCode = code))
        case None => (null, GeoMeta.CrsDetail())
      }
    override def layers(local: String): Seq[String] = GeoPackage.featureTables(local).map(_.name)
  }

  object Mif extends GeoFormat("mapinfo", Seq(".mif"),
      "MapInfo Interchange MIF/MID (points/plines/regions/rect/ellipse/arc/collection; MIF/MID writer)",
      gz = true) {
    // attribute values surface as strings (same dynamic-schema stance as fgb)
    def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType =
      StructType(MapInfoMif.meta(local).columns.map(StructField(_, StringType)) :+
        StructField("geom", BinaryType))
    def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow] =
      read.closing(MapInfoMif.features(local)).map(GeoRows.featureRow(_, read.required))
  }

  object Csv extends GeoFormat("csvwkt", Seq(".csv"),
      "CSV with a WKT geometry column (RFC-4180 reader/writer)", gz = true, barePath = false) {
    def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType = {
      val hdr = CsvWkt.header(local, opts.encoding)
      val gi = CsvWkt.geomColumn(hdr.toSeq, opts.geomColumn)
      StructType(hdr.zipWithIndex.collect {
        case (h, i) if i != gi => StructField(h.trim, StringType)
      } :+ StructField("geom", BinaryType))
    }
    def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow] =
      GeoRows.csvRows(local, read.fullSchema, read.required, read.opts)
  }

  /** A format whose rows are GeoJSON-shaped features (id, geom, properties);
    * `layerNames` makes it layered. A lazy reader returns a
    * [[GeoJsonFile.FeatureStream]], which the partition reader closes. */
  final class Features(name: String, extensions: Seq[String], description: String,
      features: (String, Option[String]) => Iterator[GeoJsonFile.Feature],
      layerNames: String => Seq[String] = null, crs84: Boolean = false,
      sniff: String => Boolean = _ => false, canWrite: Boolean = true, gz: Boolean = true)
      extends GeoFormat(name, extensions, description, canWrite, gz, layered = layerNames != null) {
    def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType =
      GeoFiles.geojsonSchema
    def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow] =
      (features(local, read.layer) match {
        case s: GeoJsonFile.FeatureStream => read.closing(s)
        case eager => eager
      }).map(GeoRows.featureRow(_, read.required))
    override def sniffs(compactHead: String): Boolean = sniff(compactHead)
    override def crs(local: String): (String, GeoMeta.CrsDetail) =
      if (crs84) GeoMeta.Crs84 else super.crs(local)
    override def layers(local: String): Seq[String] =
      if (layerNames == null) Nil else layerNames(local)
  }

  /** distinct values of one feature property, in first-seen order */
  private def distinct(property: String, features: String => Iterator[GeoJsonFile.Feature])(
      local: String): Seq[String] = {
    val fs = features(local)
    try fs.flatMap(_.properties.get(property)).distinct.toSeq
    finally fs match { case s: GeoJsonFile.FeatureStream => s.close(); case _ => }
  }

  val kml = new Features("kml", Seq(".kml"),
    "OGC KML Placemarks (StAX streaming parse; Placemark/ExtendedData writer)",
    XmlGeo.kmlFeatures, XmlGeo.kmlLayers, crs84 = true)
  val gpx = new Features("gpx", Seq(".gpx"),
    "GPX waypoints/tracks/routes (StAX streaming parse; wpt/trk writer)",
    (p, _) => XmlGeo.gpxFeatures(p), crs84 = true)
  val gml = new Features("gml", Seq(".gml"),
    "OGC GML 2/3 feature collections (StAX streaming parse; GML3 posList writer)",
    (p, _) => XmlGeo.gmlFeatures(p))
  // KMZ layers are the folders of its KML
  val kmz = new Features("kmz", Seq(".kmz"), "Zipped KML (doc.kml inside a .kmz archive; reader + writer)",
    XmlGeo.kmzFeatures, distinct("folder", XmlGeo.kmzFeatures(_)), crs84 = true, gz = false)
  val georss = new Features("georss", Seq(".rss", ".atom", ".georss"),
    "GeoRSS-Simple / W3C-geo over RSS 2.0 and Atom feeds; RSS item writer",
    (p, _) => XmlGeo.georssFeatures(p), crs84 = true)
  // DXF layers are entity layer codes; the `layer` property always carries one
  val dxf = new Features("dxf", Seq(".dxf"),
    "AutoCAD DXF ASCII entities (point/line/lwpolyline/polyline/circle/arc/solid/text; entity writer)",
    Dxf.features, distinct("layer", Dxf.features(_)))
  // TopoJSON layers are named topology objects
  val topojson = new Features("topojson", Seq(".topojson"),
    "TopoJSON 1.0 topologies (shared delta-encoded arc table; objects as layers)",
    TopoJson.features, TopoJson.layers, sniff = _.contains("\"type\":\"Topology\""), canWrite = false)
  val esrijson = new Features("esrijson", Seq(".esrijson"),
    "ESRIJSON / ArcGIS REST FeatureSet (point/multipoint/polyline/polygon ring conventions)",
    (p, _) => EsriJson.features(p),
    sniff = h => h.contains("\"geometryType\":\"esriGeometry") ||
      (h.contains("\"attributes\":") && !h.contains("\"properties\":")),
    canWrite = false)
  // MVT layers are tile layers. A z/x/y path georeferences to EPSG:3857, so
  // the rows read the planned path (whose local copy the partition reader
  // holds): a zip entry's or a URL's copy does not keep the z/x/y directories.
  object MvtTile extends GeoFormat("mvt", Seq(".mvt"),
      "Mapbox Vector Tiles 2.1 (protobuf command streams; z/x/y paths georeference to EPSG:3857; single-tile writer)",
      gz = true, layered = true) {
    def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType =
      GeoFiles.geojsonSchema
    def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow] =
      Mvt.features(read.path, read.layer).map(GeoRows.featureRow(_, read.required))
    override def layers(local: String): Seq[String] = Mvt.layers(local)
  }
  val gmt = new Features("gmt", Seq(".gmt"),
    "GMT ASCII vectors (@G/@N/@T headers, @D attribute rows, @P/@H polygon ring markers; reader + writer)",
    (p, _) => Gmt.features(p))

  /** An attribute-table spreadsheet: the first row names the columns. */
  final class Sheet(name: String, extension: String, description: String,
                    cells: String => Vector[Array[String]])
      extends GeoFormat(name, Seq(extension), description, barePath = false) {
    def schema(local: String, layer: Option[String], opts: GeoReadOptions): StructType = {
      val hdr = cells(local).headOption.getOrElse(Array.empty[String])
      StructType(hdr.zipWithIndex.map { case (h, i) =>
        StructField(if (h == null || h.isEmpty) s"col$i" else h.trim, StringType)
      }.toIndexedSeq)
    }
    def rows(local: String, split: Array[Long], read: GeoRead): Iterator[InternalRow] =
      GeoRows.sheetRows(cells(local), read.fullSchema, read.required)
  }

  val xlsx = new Sheet("xlsx", ".xlsx",
    "Office Open XML spreadsheet (attribute tables; pure-JVM zip+StAX)", Xlsx.rows)
  val ods = new Sheet("ods", ".ods",
    "OpenDocument spreadsheet (attribute tables; pure-JVM zip+StAX; reader + writer)", Ods.rows)

  /** Every readable format, in `st_drivers` order. A bare `.json` sniffs
    * the formats in this order, so TopoJSON is tried before ESRIJSON.
    * Lazy: a nested format object that is initialized first initializes
    * this object (for its constructor's defaults) before it is itself
    * complete, so a strict list would hold null for it. */
  lazy val all: Seq[GeoFormat] = Seq(Shp, GeoJson, GeoJsonl, Osm, Fgb, Gpkg, kml, gpx, gml, Csv, xlsx,
    kmz, georss, Mif, dxf, topojson, esrijson, MvtTile, gmt, ods)

  // ------------------------------------------------------------- lookup

  def named(name: String): GeoFormat = {
    val n = name.toLowerCase
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"unknown geo format $name"))
  }

  private def lowerName(path: String): String = GeoFiles.stripQuery(path).toLowerCase

  /** the format that declares `path`'s extension; a trailing `.gz` counts
    * only for a format that reads gzip */
  def byExtension(path: String): Option[GeoFormat] = {
    val l = lowerName(path)
    val gzipped = l.endsWith(".gz")
    val e = if (gzipped) l.dropRight(3) else l
    all.find(f => (f.gz || !gzipped) && f.extensions.exists(e.endsWith))
  }

  /** A bare `.json` may be GeoJSON, TopoJSON or ESRIJSON: no format
    * declares it, and [[of]] sniffs its content. */
  private def isJson(path: String): Boolean = lowerName(path).stripSuffix(".gz").endsWith(".json")

  /** a file the geo reader reads: a declared extension or a `.json` */
  def known(path: String): Boolean = byExtension(path).isDefined || isJson(path)

  /** The format of a source whose first file is `path`: forced by name, else
    * by extension. A `.json` is sniffed, as GDAL does, from the head of its
    * local copy: the first format that accepts the head, else GeoJSON. */
  def of(path: String, forced: Option[String]): GeoFormat =
    forced.map(named).orElse(byExtension(path)).getOrElse {
      if (!isJson(path)) throw new IllegalArgumentException(s"cannot infer geo format from $path")
      try {
        val head = GeoFiles.withLocal(path) { local =>
          val r = GeoFiles.textReader(local)
          try {
            val buf = new Array[Char](8192)
            val n = r.read(buf)
            if (n <= 0) "" else new String(buf, 0, n)
          } finally r.close()
        }
        val compact = head.replaceAll("\\s", "")
        all.find(_.sniffs(compact)).getOrElse(GeoJson)
      } catch { case scala.util.control.NonFatal(_) => GeoJson }
    }

  /** GeoJSON property promotion (reference: GDAL's OGRGeoJSON promotes every
    * property to a column): keys seen in a bounded head sample of the first
    * file become string columns after the stable fields, so `SELECT kind …`
    * works like the reference while `properties` map access stays intact. */
  private def promotedSchema(local: String)(
      features: java.io.BufferedReader => Iterator[GeoJsonFile.Feature]): StructType = {
    val keys = scala.collection.mutable.LinkedHashSet.empty[String]
    try {
      val r = GeoFiles.textReader(local)
      try features(r).take(200).foreach(f => keys ++= f.properties.keys) finally r.close()
    } catch { case scala.util.control.NonFatal(_) => }
    val reserved = Set("id", "geom", "properties")
    StructType(GeoFiles.geojsonSchema.fields ++
      keys.toSeq.filterNot(reserved).map(StructField(_, StringType)))
  }
}

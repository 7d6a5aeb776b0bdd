package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.file.Paths
import scala.jdk.CollectionConverters._

/**
 * Metadata table functions — the Spark equivalents of ST_Read_Meta,
 * ST_Drivers, Shapefile_Meta, and the R-tree introspection pragmas
 * (/root/reference/spatial/src/spatial/gdal/functions/st_read_meta.cpp,
 * st_drivers.cpp, read_shapefile_meta.cpp:166, rtree_index_pragmas.cpp:236).
 */
object GeoMeta {

  /** ST_Drivers equivalent: every readable format, then the write-only
    * PostgreSQL dump and GeoParquet (read through Spark's parquet source). */
  def drivers(spark: SparkSession): DataFrame = {
    val rows = GeoFormat.all.map(f => Row(f.name, f.description, true, f.canWrite)) ++ Seq(
      Row("pgdump", "PostgreSQL SQL dump (CREATE TABLE + COPY FROM STDIN with hex-WKB geometry; write-only, like GDAL)", false, true),
      Row("geoparquet", "Parquet + WKB geometry + bbox stats + GeoParquet 1.1 metadata (clustered writer)", true, true))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("short_name", StringType),
      StructField("description", StringType),
      StructField("can_read", BooleanType),
      StructField("can_write", BooleanType))))
  }

  /** Shapefile_Meta equivalent. */
  def shapefileMeta(spark: SparkSession, path: String): DataFrame = {
    val m = Shapefile.readMeta(path)
    val rows = Seq(Row(path, m.shapeType, m.recordCount,
      m.bbox._1, m.bbox._2, m.bbox._3, m.bbox._4, m.encoding,
      m.fields.map(f => Row(f.name, f.typ.toString, f.width, f.decimals))))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("path", StringType),
      StructField("shape_type", IntegerType),
      StructField("record_count", IntegerType),
      StructField("min_x", DoubleType), StructField("min_y", DoubleType),
      StructField("max_x", DoubleType), StructField("max_y", DoubleType),
      StructField("encoding", StringType),
      StructField("fields", ArrayType(StructType(Seq(
        StructField("name", StringType), StructField("type", StringType),
        StructField("width", IntegerType), StructField("decimals", IntegerType))))))))
  }

  /** CRS struct matching the reference's geometry-field CRS shape
    * (st_read_meta.cpp:29-37): name, auth_name, auth_code, wkt, proj4,
    * projjson — nulls where a source doesn't carry the representation. */
  private[io] case class CrsDetail(name: String = null, authName: String = null,
                                   authCode: String = null, wkt: String = null,
                                   proj4: String = null, projjson: String = null) {
    def row: Row = Row(name, authName, authCode, wkt, proj4, projjson)
  }

  private val Crs84Proj4 = "+proj=longlat +datum=WGS84 +no_defs"

  /** name + top-level AUTHORITY from a WKT1 CRS definition. */
  private[io] def fromWkt1(wkt: String): CrsDetail = {
    if (wkt == null || wkt.isEmpty) return CrsDetail()
    val name = "^\\s*\\w+\\[\"([^\"]+)\"".r.findFirstMatchIn(wkt).map(_.group(1)).orNull
    // the outermost authority is the LAST in WKT1 text
    val auth = "AUTHORITY\\[\"([^\"]+)\"\\s*,\\s*\"?([^\"\\]]+)\"?\\]".r
      .findAllMatchIn(wkt).toSeq.lastOption
    CrsDetail(name, auth.map(_.group(1)).orNull, auth.map(_.group(2)).orNull, wkt,
      proj4 = auth.collect { case m if m.group(1) == "EPSG" && m.group(2) == "4326" => Crs84Proj4 }.orNull)
  }

  /** Synthesize a `+proj=` string from WKT1 PROJCS parameters (ESRI .prj
   *  files usually carry no AUTHORITY node, so code lookup can't help). The
   *  result parses back through st_transform's PROJ-string path whenever the
   *  projection method is one of the implemented kernels; null otherwise.
   *  WKT1 false offsets are in CRS units — converted to meters per PROJ
   *  +x_0/+y_0 semantics. */
  private[graft] def proj4FromWkt1(wkt: String): String = {
    if (wkt == null || !wkt.contains("PROJCS")) {
      if (wkt != null && wkt.contains("GEOGCS")) {
        val el = ellpsFromWkt(wkt)
        val tow = "TOWGS84\\[([-0-9.eE,\\s]+)\\]".r.findFirstMatchIn(wkt)
          .map(m => s" +towgs84=${m.group(1).replaceAll("\\s", "")}").getOrElse("")
        return if (el == null) null else s"+proj=longlat $el$tow +no_defs"
      }
      return null
    }
    val projName = "PROJECTION\\[\"([^\"]+)\"\\]".r.findFirstMatchIn(wkt)
      .map(_.group(1).toLowerCase).getOrElse(return null)
    val params = "PARAMETER\\[\"([^\"]+)\"\\s*,\\s*([-0-9.eE]+)\\]".r.findAllMatchIn(wkt)
      .map(m => m.group(1).toLowerCase -> m.group(2).toDouble).toMap
    def p(keys: String*): Option[Double] = keys.collectFirst {
      case k if params.contains(k) => params(k)
    }
    // the PROJCS-level UNIT is the last in WKT1 text (GEOGCS degree UNIT comes first)
    val unit = "UNIT\\[\"[^\"]*\"\\s*,\\s*([-0-9.eE]+)".r.findAllMatchIn(wkt)
      .toSeq.lastOption.map(_.group(1).toDouble).getOrElse(1.0)
    val unitsTag =
      if (math.abs(unit - 1.0) < 1e-12) "+units=m"
      else if (math.abs(unit - 0.3048006096012192) < 1e-12) "+units=us-ft"
      else if (math.abs(unit - 0.3048) < 1e-12) "+units=ft"
      else s"+to_meter=$unit"
    val x0 = p("false_easting").getOrElse(0.0) * unit
    val y0 = p("false_northing").getOrElse(0.0) * unit
    val lon0 = p("central_meridian", "longitude_of_center").getOrElse(0.0)
    val lat0 = p("latitude_of_origin", "latitude_of_center").getOrElse(0.0)
    val el = ellpsFromWkt(wkt)
    if (el == null) return null
    val core =
      if (projName.contains("transverse_mercator"))
        Some(s"+proj=tmerc +lat_0=$lat0 +lon_0=$lon0 +k=${p("scale_factor").getOrElse(1.0)}")
      else if (projName.contains("lambert_conformal_conic"))
        (p("standard_parallel_1"), p("standard_parallel_2")) match {
          case (Some(sp1), Some(sp2)) => Some(s"+proj=lcc +lat_1=$sp1 +lat_2=$sp2 +lat_0=$lat0 +lon_0=$lon0")
          case _ => // 1SP (EPSG 9801): latitude_of_origin IS the standard parallel
            Some(s"+proj=lcc +lat_1=$lat0 +lat_0=$lat0 +k_0=${p("scale_factor").getOrElse(1.0)} +lon_0=$lon0")
        }
      else if (projName.contains("albers"))
        Some(s"+proj=aea +lat_1=${p("standard_parallel_1").getOrElse(29.5)} " +
          s"+lat_2=${p("standard_parallel_2").getOrElse(45.5)} +lat_0=$lat0 +lon_0=$lon0")
      else if (projName.contains("azimuthal_equal_area"))
        Some(s"+proj=laea +lat_0=$lat0 +lon_0=$lon0")
      else if (projName.contains("polar_stereographic")) {
        // variant B carries a standard parallel; GDAL's variant-A spelling is
        // latitude_of_origin=±90 + scale_factor (lat_ts=±90 would be 0/0)
        p("standard_parallel_1", "latitude_of_standard_parallel") match {
          case Some(ts) if math.abs(ts) < 90 - 1e-9 =>
            Some(s"+proj=stere +lat_0=${if (ts < 0) -90 else 90} +lat_ts=$ts +lon_0=$lon0")
          case _ =>
            Some(s"+proj=stere +lat_0=${if (lat0 < 0) -90 else 90} " +
              s"+k=${p("scale_factor").getOrElse(1.0)} +lon_0=$lon0")
        }
      } else if (projName.contains("new_zealand_map_grid"))
        Some(s"+proj=nzmg +lat_0=$lat0 +lon_0=$lon0")
      else if (projName.contains("cylindrical_equal_area"))
        Some(s"+proj=cea +lat_ts=${p("standard_parallel_1").getOrElse(0.0)} +lon_0=$lon0")
      else if (projName.contains("equal_earth"))
        Some(s"+proj=eqearth +lon_0=$lon0")
      else if (projName.contains("mercator_1sp"))
        Some(s"+proj=merc +k=${p("scale_factor").getOrElse(1.0)} +lon_0=$lon0")
      else if (projName.contains("mercator") && !projName.contains("oblique") &&
               !projName.contains("hotine")) // omerc/somerc spellings are NOT plain merc
        Some(s"+proj=merc +lat_ts=${p("standard_parallel_1").getOrElse(0.0)} +lon_0=$lon0")
      else None
    // TOWGS84 is the only datum-shift node WKT1 carries — thread it through
    // so a synthesized/.prj CRS keeps its Helmert (position-vector) transform
    val tow = "TOWGS84\\[([-0-9.eE,\\s]+)\\]".r.findFirstMatchIn(wkt)
      .map(m => s" +towgs84=${m.group(1).replaceAll("\\s", "")}").getOrElse("")
    core.map(c => s"$c +x_0=$x0 +y_0=$y0 $el$tow $unitsTag +no_defs").orNull
  }

  /** Synthesize a `+proj=` string from WKT2 (ISO 19162) PROJCRS/GEOGCRS text.
   *  EPSG method/parameter names map onto the implemented kernels; parameter
   *  values honor their ANGLEUNIT/LENGTHUNIT factors; null for methods
   *  outside the kernel set (callers reject loudly). */
  private[graft] def proj4FromWkt2(wkt: String): String = {
    if (wkt == null) return null
    if (!wkt.contains("PROJCRS")) {
      if (wkt.contains("GEOGCRS")) {
        val el = ellpsFromWkt(wkt)
        return if (el == null) null else s"+proj=longlat $el +no_defs"
      }
      return null
    }
    val method = "METHOD\\[\"([^\"]+)\"".r.findFirstMatchIn(wkt)
      .map(_.group(1).toLowerCase).getOrElse(return null)
    val ParamRe = ("PARAMETER\\[\"([^\"]+)\"\\s*,\\s*([-0-9.eE]+)" +
      "(?:\\s*,\\s*(?:ANGLEUNIT|LENGTHUNIT|SCALEUNIT)\\[\"[^\"]*\"\\s*,\\s*([-0-9.eE]+))?").r
    val deg = math.Pi / 180
    val params: Map[String, Double] = ParamRe.findAllMatchIn(wkt).map { m =>
      val name = m.group(1).toLowerCase
      val v = m.group(2).toDouble
      val u = Option(m.group(3)).map(_.toDouble)
      val value =
        if (name.contains("latitude") || name.contains("longitude"))
          u match { case Some(f) if math.abs(f - deg) > 1e-12 => v * f / deg; case _ => v }
        else if (name.contains("easting") || name.contains("northing"))
          u.map(v * _).getOrElse(v)
        else v
      name -> value
    }.toMap
    def p(sub: String*): Option[Double] =
      params.collectFirst { case (k, v) if sub.exists(k.contains) => v }
    val lat0 = p("latitude of natural origin", "latitude of false origin").getOrElse(0.0)
    val lon0 = p("longitude of natural origin", "longitude of false origin", "longitude of origin").getOrElse(0.0)
    val k0 = p("scale factor").getOrElse(1.0)
    val x0 = p("false easting", "easting at false origin").getOrElse(0.0)
    val y0 = p("false northing", "northing at false origin").getOrElse(0.0)
    val sp1 = p("1st standard parallel"); val sp2 = p("2nd standard parallel")
    val ts = p("latitude of standard parallel")
    val el = ellpsFromWkt(wkt)
    if (el == null) return null
    // the coordinate-system LENGTHUNIT is the last in WKT2 text (parameter
    // units precede the CS/AXIS section)
    val unit = "LENGTHUNIT\\[\"[^\"]*\"\\s*,\\s*([-0-9.eE]+)".r.findAllMatchIn(wkt)
      .toSeq.lastOption.map(_.group(1).toDouble).getOrElse(1.0)
    val unitsTag =
      if (math.abs(unit - 1.0) < 1e-12) "+units=m"
      else if (math.abs(unit - 0.3048006096012192) < 1e-12) "+units=us-ft"
      else if (math.abs(unit - 0.3048) < 1e-12) "+units=ft"
      else s"+to_meter=$unit"
    val core =
      if (method.contains("transverse mercator"))
        Some(s"+proj=tmerc +lat_0=$lat0 +lon_0=$lon0 +k=$k0")
      else if (method.contains("lambert conic conformal"))
        (sp1, sp2) match {
          case (Some(a), Some(b)) => Some(s"+proj=lcc +lat_1=$a +lat_2=$b +lat_0=$lat0 +lon_0=$lon0")
          case _ => // 1SP (EPSG 9801): natural origin IS the standard parallel
            Some(s"+proj=lcc +lat_1=$lat0 +lat_0=$lat0 +k_0=$k0 +lon_0=$lon0")
        }
      else if (method.contains("albers"))
        Some(s"+proj=aea +lat_1=${sp1.getOrElse(29.5)} +lat_2=${sp2.getOrElse(45.5)} +lat_0=$lat0 +lon_0=$lon0")
      else if (method.contains("new zealand map grid"))
        Some(s"+proj=nzmg +lat_0=$lat0 +lon_0=$lon0")
      else if (method.contains("azimuthal equal area"))
        Some(s"+proj=laea +lat_0=$lat0 +lon_0=$lon0")
      else if (method.contains("polar stereographic")) {
        // variant B carries a standard parallel; variant A carries the
        // pole scale factor (lat_ts=±90 would be 0/0 in the B kernel)
        ts match {
          case Some(t) if math.abs(t) < 90 - 1e-9 =>
            Some(s"+proj=stere +lat_0=${if (t < 0) -90 else 90} +lat_ts=$t +lon_0=$lon0")
          case _ =>
            Some(s"+proj=stere +lat_0=${if (lat0 < 0) -90 else 90} +k=$k0 +lon_0=$lon0")
        }
      } else if (method.contains("cylindrical equal area"))
        Some(s"+proj=cea +lat_ts=${ts.orElse(sp1).getOrElse(0.0)} +lon_0=$lon0")
      else if (method.contains("equal earth"))
        Some(s"+proj=eqearth +lon_0=$lon0")
      else if (method.contains("mercator") && !method.contains("oblique") &&
               !method.contains("hotine")) { // omerc spellings are NOT plain merc
        // +lat_ts wins over +k in the kernel — emit exactly one (variant B vs A)
        val t = ts.orElse(sp1)
        Some(t.map(v => s"+proj=merc +lat_ts=$v +lon_0=$lon0")
          .getOrElse(s"+proj=merc +k=$k0 +lon_0=$lon0"))
      } else None
    core.map(c => s"$c +x_0=$x0 +y_0=$y0 $el $unitsTag +no_defs").orNull
  }

  /** Synthesize a `+proj=` string from PROJJSON (the PROJ project's published
   *  JSON CRS encoding). Same method/parameter mapping as WKT2 — PROJJSON
   *  carries the identical EPSG names — extracted with targeted regexes (the
   *  grammar is flat enough that full JSON parsing buys nothing here). */
  private[graft] def proj4FromProjjson(json: String): String = {
    if (json == null || !json.contains("\"type\"")) return null
    def fm(re: String): Option[String] = re.r.findFirstMatchIn(json).map(_.group(1))
    val isProjected = json.contains("\"ProjectedCRS\"")
    val ell = {
      val a = fm("\"semi_major_axis\"\\s*:\\s*([-0-9.eE]+)").map(_.toDouble)
      val rf = fm("\"inverse_flattening\"\\s*:\\s*([-0-9.eE]+)").map(_.toDouble)
      val radius = fm("\"radius\"\\s*:\\s*([-0-9.eE]+)").map(_.toDouble)
      (a, rf) match {
        case (Some(av), Some(rfv)) =>
          def near(x: Double, y: Double) = math.abs(x - y) < 1e-6
          if (rfv == 0.0) s"+R=$av" // inverse flattening 0 = sphere
          else if (near(av, 6378137.0) && near(rfv, 298.257223563)) "+ellps=WGS84"
          else if (near(av, 6378137.0) && near(rfv, 298.257222101)) "+ellps=GRS80"
          else if (near(av, 6378388.0) && near(rfv, 297.0)) "+ellps=intl"
          else s"+a=$av +rf=$rfv"
        case _ if radius.isDefined => s"+R=${radius.get}" // PROJJSON sphere
        case _ if json.contains("World Geodetic System 1984") => "+ellps=WGS84"
        case _ => null
      }
    }
    if (ell == null) return null
    // parameters: {"name": "...", "value": N, ...} pairs inside the conversion
    // (and, for BoundCRS, the 9606 transformation — distinct EPSG names)
    val params = ("\\{\\s*\"name\"\\s*:\\s*\"([^\"]+)\"\\s*,\\s*\"value\"\\s*:\\s*([-0-9.eE]+)").r
      .findAllMatchIn(json).map(m => m.group(1).toLowerCase -> m.group(2).toDouble).toMap
    def p(sub: String*): Option[Double] =
      params.collectFirst { case (k, v) if sub.exists(k.contains) => v }
    // BoundCRS transformation (EPSG 9606 position vector) → +towgs84
    val tow = p("x-axis translation").map { tx =>
      val ty = p("y-axis translation").getOrElse(0.0)
      val tz = p("z-axis translation").getOrElse(0.0)
      val rx = p("x-axis rotation").getOrElse(0.0)
      val ry = p("y-axis rotation").getOrElse(0.0)
      val rz = p("z-axis rotation").getOrElse(0.0)
      val ds = p("scale difference").getOrElse(0.0)
      s" +towgs84=$tx,$ty,$tz,$rx,$ry,$rz,$ds"
    }.getOrElse("")
    if (!isProjected) {
      // a BoundCRS-wrapped GeographicCRS keeps its datum shift on read-back
      return if (json.contains("\"GeographicCRS\"")) s"+proj=longlat $ell$tow +no_defs" else null
    }
    val method = "\"method\"\\s*:\\s*\\{\\s*\"name\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(json).map(_.group(1).toLowerCase).getOrElse(return null)
    val lat0 = p("latitude of natural origin", "latitude of false origin").getOrElse(0.0)
    val lon0 = p("longitude of natural origin", "longitude of false origin", "longitude of origin").getOrElse(0.0)
    val k0 = p("scale factor").getOrElse(1.0)
    val x0 = p("false easting", "easting at false origin").getOrElse(0.0)
    val y0 = p("false northing", "northing at false origin").getOrElse(0.0)
    val sp1 = p("1st standard parallel"); val sp2 = p("2nd standard parallel")
    val ts = p("latitude of standard parallel")
    val core =
      if (method.contains("transverse mercator"))
        Some(s"+proj=tmerc +lat_0=$lat0 +lon_0=$lon0 +k=$k0")
      else if (method.contains("lambert conic conformal"))
        (sp1, sp2) match {
          case (Some(a), Some(b)) => Some(s"+proj=lcc +lat_1=$a +lat_2=$b +lat_0=$lat0 +lon_0=$lon0")
          case _ => // 1SP (EPSG 9801): natural origin IS the standard parallel
            Some(s"+proj=lcc +lat_1=$lat0 +lat_0=$lat0 +k_0=$k0 +lon_0=$lon0")
        }
      else if (method.contains("albers"))
        Some(s"+proj=aea +lat_1=${sp1.getOrElse(29.5)} +lat_2=${sp2.getOrElse(45.5)} +lat_0=$lat0 +lon_0=$lon0")
      else if (method.contains("new zealand map grid"))
        Some(s"+proj=nzmg +lat_0=$lat0 +lon_0=$lon0")
      else if (method.contains("azimuthal equal area"))
        Some(s"+proj=laea +lat_0=$lat0 +lon_0=$lon0")
      else if (method.contains("polar stereographic")) {
        val tsv = ts.orElse(if (math.abs(k0 - 1.0) < 1e-12) Some(lat0) else None)
        tsv match {
          case Some(t) if math.abs(t) < 90 - 1e-9 =>
            Some(s"+proj=stere +lat_0=${if (t < 0) -90 else 90} +lat_ts=$t +lon_0=$lon0")
          case _ => // variant A: pole-scale k (lat_ts=±90 would be 0/0)
            Some(s"+proj=stere +lat_0=${if (lat0 < 0) -90 else 90} +k=$k0 +lon_0=$lon0")
        }
      } else if (method.contains("cylindrical equal area"))
        Some(s"+proj=cea +lat_ts=${ts.orElse(sp1).getOrElse(0.0)} +lon_0=$lon0")
      else if (method.contains("equal earth"))
        Some(s"+proj=eqearth +lon_0=$lon0")
      else if (method.contains("mercator") && !method.contains("oblique") &&
               !method.contains("hotine")) { // omerc spellings are NOT plain merc
        val t = ts.orElse(sp1)
        Some(t.map(v => s"+proj=merc +lat_ts=$v +lon_0=$lon0")
          .getOrElse(s"+proj=merc +k=$k0 +lon_0=$lon0"))
      } else None
    core.map(c => s"$c +x_0=$x0 +y_0=$y0 $ell$tow +units=m +no_defs").orNull
  }

  private def ellpsFromWkt(wkt: String): String = {
    val sp = "(?:SPHEROID|ELLIPSOID)\\[\"[^\"]*\"\\s*,\\s*([-0-9.eE]+)\\s*,\\s*([-0-9.eE]+)".r
      .findFirstMatchIn(wkt).getOrElse(return null)
    val a = sp.group(1).toDouble; val rf = sp.group(2).toDouble
    def near(x: Double, y: Double) = math.abs(x - y) < 1e-6
    if (rf == 0.0) s"+R=$a" // WKT1 convention: inverse flattening 0 = sphere
    else if (near(a, 6378137.0) && near(rf, 298.257223563)) "+ellps=WGS84"
    else if (near(a, 6378137.0) && near(rf, 298.257222101)) "+ellps=GRS80"
    else if (near(a, 6377563.396) && near(rf, 299.3249646)) "+ellps=airy"
    else if (near(a, 6377340.189) && near(rf, 299.3249646)) "+ellps=mod_airy"
    else if (near(a, 6378388.0) && near(rf, 297.0)) "+ellps=intl"
    else s"+a=$a +rf=$rf"
  }

  private def fromProjjson(json: String): CrsDetail = {
    if (json == null) return CrsDetail()
    def f(re: String) = re.r.findFirstMatchIn(json)
    // the CRS's own id is the LAST one in PROJJSON text — conversion-method
    // and transformation ids come earlier inside their sub-objects
    def last(re: String) = re.r.findAllMatchIn(json).toSeq.lastOption
    CrsDetail(
      name = f("\"name\"\\s*:\\s*\"([^\"]+)\"").map(_.group(1)).orNull,
      authName = last("\"authority\"\\s*:\\s*\"([^\"]+)\"").map(_.group(1)).orNull,
      authCode = last("\"code\"\\s*:\\s*\"?(\\d+)\"?").map(_.group(1)).orNull,
      projjson = json)
  }

  private val Crs84Detail = CrsDetail("WGS 84 longitude-latitude", "OGC", "CRS84",
    proj4 = Crs84Proj4)
  /** the CRS of the formats whose specification fixes WGS 84 */
  private[io] val Crs84 = ("OGC:CRS84", Crs84Detail)

  /** ST_Read_Meta equivalent: schema + counts for any geo path. For parquet
   *  inputs the GeoParquet `geo` footer metadata is surfaced (reference:
   *  st_read_meta.cpp reports layer/CRS detail through GDAL). */
  def readMeta(spark: SparkSession, path: String): DataFrame = {
    val isParquet = path.toLowerCase.stripSuffix("/").endsWith(".parquet") || {
      val p = Paths.get(path.stripPrefix("file:"))
      java.nio.file.Files.isDirectory(p) &&
        java.nio.file.Files.list(p).iterator().asScala.exists(_.toString.endsWith(".parquet"))
    }
    val (fmt, fields, fileCount, geo, crs, detail, layers) =
      if (isParquet) {
        val df = spark.read.parquet(path)
        val n = GeoFiles.expand0(path).count(_.endsWith(".parquet")) max 1
        val g = GeoParquet.readGeo(spark.sessionState.newHadoopConf(), path.stripPrefix("file:"))
        val projjson = g.flatMap { j =>
          "\"crs\"\\s*:\\s*(\\{.*)".r.findFirstMatchIn(j).map(m => balanced(m.group(1)))
        }
        // GeoParquet 1.1: absent "crs" member means OGC:CRS84
        ("geoparquet", df.schema.fields, n, g.orNull,
          g.map(j => if (j.contains("\"crs\"")) null else "OGC:CRS84").orNull,
          projjson.map(fromProjjson).getOrElse(if (g.isDefined) Crs84Detail else CrsDetail()),
          Seq.empty[String])
      } else {
        val src = GeoSource(Seq(path))
        // the first file's local copy (a zip entry or remote object is
        // extracted or fetched) answers the header, sidecar and layer probes
        GeoFiles.withLocal(src.paths.head) { local =>
          val (crs, detail) = src.format.crs(local)
          // layer inventory (st_read_meta.cpp:26-65 reports a GDAL layer
          // array); a layerless format reports an empty list
          val layers =
            try src.format.layers(local) catch { case scala.util.control.NonFatal(_) => Seq.empty }
          (src.format.name, src.schema.fields, src.paths.length, null, crs, detail, layers)
        }
      }
    // Registry enrichment (st_read_meta.cpp:26-65 shape): a recognized
    // authority code fills the human name and an equivalent +proj= string —
    // the latter parses straight back through st_transform's PROJ-string path.
    val enriched = {
      val code = for (a <- Option(detail.authName); c <- Option(detail.authCode)) yield s"$a:$c"
      val byCode = code.flatMap(graft.geom.Proj.describe).map { case (nm, p4) =>
        detail.copy(
          name = if (detail.name != null) detail.name else nm,
          proj4 = if (detail.proj4 != null) detail.proj4 else p4,
          wkt = if (detail.wkt != null) detail.wkt
                else code.flatMap(graft.geom.Proj.toWkt1).orNull)
      }.getOrElse(detail)
      // no authority (typical ESRI .prj): synthesize the proj4 from the WKT1
      // parameters directly
      if (byCode.proj4 == null && byCode.wkt != null)
        byCode.copy(proj4 = proj4FromWkt1(byCode.wkt))
      else byCode
    }
    val rows = Seq(Row(path, fmt, fileCount,
      fields.map(f => Row(f.name, f.dataType.simpleString)), layers, geo, crs, enriched.row))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("path", StringType),
      StructField("driver", StringType),
      StructField("file_count", IntegerType),
      StructField("fields", ArrayType(StructType(Seq(
        StructField("name", StringType), StructField("type", StringType))))),
      StructField("layers", ArrayType(StringType)),
      StructField("geo_metadata", StringType),
      StructField("crs", StringType),
      StructField("crs_detail", StructType(Seq(
        StructField("name", StringType), StructField("auth_name", StringType),
        StructField("auth_code", StringType), StructField("wkt", StringType),
        StructField("proj4", StringType), StructField("projjson", StringType)))))))
  }

  /** first balanced {...} prefix of s */
  private def balanced(s: String): String = {
    var depth = 0
    var i = 0
    var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '"' && s.charAt(i - 1) != '\\') inStr = false }
      else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) return s.substring(0, i + 1)
        case _ =>
      }
      i += 1
    }
    s
  }

  /** Introspection of a clustered-parquet layout (rtree pragma equivalent):
   *  per-file bbox ranges straight from the Parquet footers — the stats that
   *  drive row-group skipping. */
  def clusterInfo(spark: SparkSession, path: String, geomCol: String = "geom"): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val files = fs.listStatus(new Path(path)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    val rows = files.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        blocks.zipWithIndex.map { case (b, i) =>
          def stat(col: String): (Double, Double) =
            b.getColumns.asScala
              .find(_.getPath.toDotString == s"${geomCol}_bbox.$col")
              .map { c =>
                val st = c.getStatistics
                (st.genericGetMin.asInstanceOf[Double], st.genericGetMax.asInstanceOf[Double])
              }.getOrElse((Double.NaN, Double.NaN))
          val (minxLo, _) = stat("min_x")
          val (_, maxxHi) = stat("max_x")
          val (minyLo, _) = stat("min_y")
          val (_, maxyHi) = stat("max_y")
          Row(f.getName, i, b.getRowCount, minxLo, minyLo, maxxHi, maxyHi)
        }.toSeq
      } finally reader.close()
    }
    spark.createDataFrame(rows.toSeq.asJava, StructType(Seq(
      StructField("file", StringType),
      StructField("row_group", IntegerType),
      StructField("rows", LongType),
      StructField("min_x", DoubleType), StructField("min_y", DoubleType),
      StructField("max_x", DoubleType), StructField("max_y", DoubleType))))
  }
}

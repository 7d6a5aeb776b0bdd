package graft

import graft.geom.Proj
import graft.io.{GeoMeta, GeoWriter}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The COPY-TO dispatcher (reference option surface: st_write.cpp Bind,
  * DRIVER / LAYER_NAME / GEOMETRY_TYPE / SRS) and the write-side CRS stamp:
  * Proj.toWkt1 synthesis, shapefile `.prj` sidecars, GeoPackage srs rows.
  * The WKT1 synthesis is validated by a full registry sweep — every emitted
  * WKT1 our own reader can parse must reproduce the registry kernel AND
  * datum, so the two public spellings cannot drift. */
class CopySpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val dir = suiteTempDir("graft_copy").toString

  private def pts = {
    spark.sql(
      """SELECT id, CONCAT('n', id) AS name,
        |       st_point(CAST(id AS DOUBLE), CAST(id AS DOUBLE) + 0.5) AS geom
        |FROM range(5)""".stripMargin)
  }

  test("toWkt1: registry-wide round trip through our own WKT1 reader") {
    var checked = 0
    Proj.allCodes.foreach { case (code, _) =>
      Proj.lookup(code).foreach { crs =>
        // orientation AXIS nodes are dropped by the WKT1 reader — the two
        // paths legitimately disagree there (Lo zones); skip those
        if (crs.proj4 != null && !crs.proj4.contains("+axis=")) {
          Proj.toWkt1(code).foreach { wkt =>
            val p4 = GeoMeta.proj4FromWkt1(wkt)
            if (p4 != null) {
              val parsed = Proj.fromProjString(p4).get
              val (lon, lat) = crs.probe
              val (x1, y1) = crs.proj.forward(lon, lat)
              val (x2, y2) = parsed.proj.forward(lon, lat)
              assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6,
                s"$code kernel drift: ($x1,$y1) vs ($x2,$y2)\n  $wkt\n  $p4")
              val (a1, b1) = crs.datum.fromWgs84(lon, lat)
              val (a2, b2) = parsed.datum.fromWgs84(lon, lat)
              assert(math.abs(a1 - a2) < 1e-9 && math.abs(b1 - b2) < 1e-9,
                s"$code datum drift (TOWGS84 lost?): ($a1,$b1) vs ($a2,$b2)\n  $wkt")
              checked += 1
            }
          }
        }
      }
    }
    // tmerc/lcc/aea/laea/stere/merc/cea cover the vast majority of the table
    assert(checked >= 350, s"WKT1 round trip only covered $checked codes")
  }

  test("toProjjson: registry-wide round trip through our own PROJJSON reader") {
    var checked = 0; var bound = 0
    Proj.allCodes.foreach { case (code, _) =>
      Proj.lookup(code).foreach { crs =>
        if (crs.proj4 != null && !crs.proj4.contains("+axis=")) {
          Proj.toProjjson(code).foreach { json =>
            val p4 = GeoMeta.proj4FromProjjson(json)
            if (p4 != null) {
              val parsed = Proj.fromProjString(p4).get
              val (lon, lat) = crs.probe
              val (x1, y1) = crs.proj.forward(lon, lat)
              val (x2, y2) = parsed.proj.forward(lon, lat)
              assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6,
                s"$code kernel drift: ($x1,$y1) vs ($x2,$y2)\n  $json\n  $p4")
              val (a1, b1) = crs.datum.fromWgs84(lon, lat)
              val (a2, b2) = parsed.datum.fromWgs84(lon, lat)
              assert(math.abs(a1 - a2) < 1e-9 && math.abs(b1 - b2) < 1e-9,
                s"$code datum drift (BoundCRS transformation lost?): ($a1,$b1) vs ($a2,$b2)")
              checked += 1
              if (json.contains("BoundCRS")) bound += 1
            }
          }
        }
      }
    }
    assert(checked >= 350, s"PROJJSON round trip only covered $checked codes")
    assert(bound >= 30, s"only $bound Helmert datums exercised the BoundCRS shape")
  }

  test("toWkt1: geographic codes carry the datum TOWGS84") {
    val osgb = Proj.toWkt1("EPSG:4277").get
    assert(osgb.contains("TOWGS84[446.448,-125.157,542.06"))
    val p4 = GeoMeta.proj4FromWkt1(osgb)
    assert(p4 != null && p4.contains("+towgs84=446.448"))
    assert(Proj.toWkt1("EPSG:4326").get.contains("AUTHORITY[\"EPSG\",\"4326\"]"))
  }

  test("copy: driver sniffed from extension, DRIVER option overrides") {
    val p1 = s"$dir/sniff.geojsonl"
    GeoWriter.copy(pts, "geom", p1, Map("SINGLE_FILE" -> "true"))
    val lines = Files.readAllLines(Paths.get(p1))
    assert(lines.size == 5 && lines.get(0).contains("\"Feature\""))
    // GDAL spelling routed to the shapefile writer despite the odd path
    val p2 = s"$dir/via_driver"
    GeoWriter.copy(pts, "geom", s"$p2.shp",
      Map("driver" -> "ESRI Shapefile", "single_file" -> "true"))
    assert(Files.exists(Paths.get(s"$p2.shp")) && Files.exists(Paths.get(s"$p2.dbf")))
  }

  test("copy: unknown options and unknown drivers fail loudly") {
    val e1 = intercept[IllegalArgumentException] {
      GeoWriter.copy(pts, "geom", s"$dir/x.geojsonl", Map("COMPRESSION" -> "zstd"))
    }
    assert(e1.getMessage.contains("COMPRESSION"))
    val e2 = intercept[IllegalArgumentException] {
      GeoWriter.copy(pts, "geom", s"$dir/x.xyz", Map.empty)
    }
    assert(e2.getMessage.contains("cannot infer"))
    val e3 = intercept[IllegalArgumentException] {
      GeoWriter.copy(pts, "geom", s"$dir/x.xyz", Map("DRIVER" -> "FileGDB"))
    }
    assert(e3.getMessage.contains("unsupported DRIVER"))
  }

  test("copy: GEOMETRY_TYPE promotes singles to MULTI and rejects mismatches") {
    val p = s"$dir/promoted.geojsonl"
    GeoWriter.copy(pts, "geom", p,
      Map("GEOMETRY_TYPE" -> "MULTIPOINT", "SINGLE_FILE" -> "true"))
    val lines = Files.readAllLines(Paths.get(p))
    assert(lines.size == 5 && lines.get(0).contains("MultiPoint"))
    val err = intercept[Exception] {
      GeoWriter.copy(pts, "geom", s"$dir/reject.geojsonl",
        Map("GEOMETRY_TYPE" -> "POLYGON", "SINGLE_FILE" -> "true"))
    }
    assert(err.getMessage != null || err.getCause != null) // raise_error surfaces per feature
  }

  test("copy: SRS stamps a .prj sidecar the meta reader resolves back") {
    val base = s"$dir/stamped"
    GeoWriter.copy(pts, "geom", s"$base.shp",
      Map("SRS" -> "EPSG:32633", "SINGLE_FILE" -> "true"))
    val prj = Paths.get(s"$base.prj")
    assert(Files.exists(prj))
    val wkt = new String(Files.readAllBytes(prj), "UTF-8")
    assert(wkt.contains("Transverse_Mercator") && wkt.contains("AUTHORITY[\"EPSG\",\"32633\"]"))
    // our own .prj consumer round-trips it to the UTM kernel
    val p4 = GeoMeta.proj4FromWkt1(wkt)
    val parsed = Proj.fromProjString(p4).get
    val reg = Proj.fromProjString("+proj=utm +zone=33 +datum=WGS84").get
    val (x1, y1) = reg.proj.forward(15.4, 52.0)
    val (x2, y2) = parsed.proj.forward(15.4, 52.0)
    assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6)
    // directory mode: every part file gets its sidecar
    val d = s"$dir/stamped_dir"
    GeoWriter.copy(pts.repartition(2), "geom", d,
      Map("DRIVER" -> "shp", "SRS" -> "32633"))
    val prjs = Files.list(Paths.get(d)).toArray.map(_.toString).filter(_.endsWith(".prj"))
    val shps = Files.list(Paths.get(d)).toArray.map(_.toString).filter(_.endsWith(".shp"))
    assert(shps.nonEmpty && prjs.length == shps.length)
  }

  test("copy: SRS lands in the GeoPackage srs table; LAYER_NAME names the table") {
    val p = s"$dir/srs.gpkg"
    GeoWriter.copy(pts, "geom", p,
      Map("SRS" -> "EPSG:27700", "LAYER_NAME" -> "towns", "SINGLE_FILE" -> "true"))
    val df = spark.read.format("geo").option("layer", "towns").load(p)
    assert(df.count() == 5)
    val bytes = Files.readAllBytes(Paths.get(p))
    val txt = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(txt.contains("OSGB36 / British National Grid"))
    assert(txt.contains("Transverse_Mercator"))
  }

  test("copy: non-EPSG SRS spelling gets organization NONE, not a fake EPSG id") {
    val p = s"$dir/srs_custom.gpkg"
    GeoWriter.copy(pts, "geom", p,
      Map("SRS" -> "+proj=tmerc +lat_0=0 +lon_0=9 +k=1 +x_0=500000 +y_0=0 +ellps=GRS80 +units=m +no_defs",
          "SINGLE_FILE" -> "true"))
    val txt = new String(Files.readAllBytes(Paths.get(p)),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    // the srs row must not claim an EPSG identity for a custom definition
    assert(txt.contains("NONE"), "expected organization NONE for a +proj= SRS")
    assert(!txt.contains("\"EPSG\""))
  }

  test("toWkt1: well-known datums get real DATUM names, not ellipsoid placeholders") {
    // NAD83 State Plane: the .prj must carry the NAD83 datum identity —
    // ArcGIS-style tools key datum transformations off the DATUM name
    val sp = Proj.toWkt1("EPSG:26957").get
    assert(sp.contains("DATUM[\"North_American_Datum_1983\""), sp)
    assert(!sp.contains("Unknown_based_on"))
    val etrs = Proj.toWkt1("EPSG:3034").get
    assert(etrs.contains("European_Terrestrial_Reference_System_1989"), etrs)
    val mgi = Proj.toWkt1("EPSG:31256").get
    assert(mgi.contains("Militar_Geographische_Institut"), mgi)
    // MGI 1901 (Balkans) is a DIFFERENT realization from Austrian MGI
    val mgi1901 = Proj.toWkt1("EPSG:31277").get
    assert(mgi1901.contains("MGI_1901") && mgi1901.contains("TOWGS84[682.0,-203.0,480.0"), mgi1901)
  }

  test("toProjjson: geographic codes with a Helmert datum wrap in BoundCRS") {
    for (code <- Seq("EPSG:4314", "EPSG:4275", "EPSG:3906")) {
      val json = Proj.toProjjson(code).get
      assert(json.contains("\"BoundCRS\""), s"$code: $json")
      val p4 = GeoMeta.proj4FromProjjson(json)
      assert(p4 != null && p4.startsWith("+proj=longlat") && p4.contains("+towgs84="),
        s"$code read back as $p4")
      // the shift survives the round trip numerically
      val d = Proj.geographic(code)._2
      val parsed = Proj.fromProjString(p4).get
      val (a1, b1) = d.fromWgs84(10.0, 47.0)
      val (a2, b2) = parsed.datum.fromWgs84(10.0, 47.0)
      assert(math.abs(a1 - a2) < 1e-9 && math.abs(b1 - b2) < 1e-9, s"$code shift drift")
    }
    // shift-free modern frames stay plain GeographicCRS
    assert(!Proj.toProjjson("EPSG:4258").get.contains("BoundCRS"))
  }

  test("copy: SRS lands in the FlatGeobuf header Crs table") {
    val p = s"$dir/srs.fgb"
    GeoWriter.copy(pts, "geom", p,
      Map("SRS" -> "EPSG:2154", "SINGLE_FILE" -> "true"))
    val h = graft.io.FlatGeobuf.readHeader(p)
    assert(h.crs == "EPSG:2154", s"header crs was ${h.crs}")
    assert(h.crsName == "RGF93 v1 / Lambert-93")
    assert(h.crsWkt != null && h.crsWkt.contains("Lambert_Conformal_Conic_2SP"))
    // the data itself still reads (header growth didn't corrupt offsets)
    val back = spark.read.format("geo").load(p)
    assert(back.count() == 5)
  }

  test("copy: SRS lands in the GeoParquet footer as PROJJSON; meta reads it back") {
    val p = s"$dir/srs_parquet"
    GeoWriter.copy(pts, "geom", p, Map("DRIVER" -> "GeoParquet", "SRS" -> "EPSG:27700"))
    val geo = graft.io.GeoParquet.readGeo(
      spark.sessionState.newHadoopConf(), p).getOrElse(fail("no geo footer"))
    assert(geo.contains("\"crs\""), geo)
    assert(geo.contains("BoundCRS") && geo.contains("Transverse Mercator"), geo)
    // st_read_meta resolves the authority code off the LAST id (the CRS's own)
    val meta = graft.io.GeoMeta.readMeta(spark, p).collect()(0)
    val crsRow = meta.getAs[Row]("crs_detail")
    assert(crsRow.getAs[String]("auth_code") == "27700", crsRow)
    // survives an incremental recluster (footer restamp keeps the member)
    GeoWriter.appendAndRecluster(pts, "geom", p)
    val geo2 = graft.io.GeoParquet.readGeo(spark.sessionState.newHadoopConf(), p).get
    assert(geo2.contains("\"crs\"") && geo2.contains("27700"), geo2)
  }

  test("st_crs_info TVF: all three spellings for a code; zero rows when unknown") {
    val r = spark.sql("SELECT * FROM st_crs_info('EPSG:27700')").collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[String]("name").contains("British National Grid"))
    assert(row.getAs[String]("proj4").contains("+proj=tmerc"))
    assert(row.getAs[String]("wkt").contains("Transverse_Mercator"))
    assert(row.getAs[String]("projjson").contains("BoundCRS"))
    assert(spark.sql("SELECT * FROM st_crs_info('EPSG:999999')").count() == 0)
  }

  test("copy: WGS84-by-spec formats reject a foreign SRS loudly, accept 4326") {
    val err = intercept[IllegalArgumentException] {
      GeoWriter.copy(pts, "geom", s"$dir/x.kml", Map("SRS" -> "EPSG:3857"))
    }
    assert(err.getMessage.contains("WGS 84 by specification"))
    GeoWriter.copy(pts, "geom", s"$dir/ok.kml",
      Map("SRS" -> "EPSG:4326", "SINGLE_FILE" -> "true"))
    assert(Files.exists(Paths.get(s"$dir/ok.kml")))
    val e2 = intercept[IllegalArgumentException] {
      GeoWriter.copy(pts, "geom", s"$dir/x.dxf", Map("SRS" -> "EPSG:3857"))
    }
    assert(e2.getMessage.contains("SRS stamping is supported for"))
  }
}

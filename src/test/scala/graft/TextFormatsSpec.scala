package graft

import org.scalatest.funsuite.AnyFunSuite

/** KML / GPX / CSV-WKT readers (round-4 format breadth; the reference covers
  * these through GDAL's driver surface). */
class TextFormatsSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private def tmpFile(name: String, content: String): String = {
    val d = tempDir("graft_fmt")
    val p = d.resolve(name)
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("KML placemarks: point, linestring, polygon with hole, multigeometry") {
    val kml = tmpFile("t.kml",
      """<?xml version="1.0" encoding="UTF-8"?>
        |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
        |<Placemark><name>pt</name><description>a point</description>
        |  <Point><coordinates>4.9,52.37,0</coordinates></Point></Placemark>
        |<Placemark><name>line</name>
        |  <LineString><coordinates>0,0 1,1 2,0</coordinates></LineString></Placemark>
        |<Placemark><name>poly</name>
        |  <Polygon>
        |    <outerBoundaryIs><LinearRing><coordinates>0,0 10,0 10,10 0,10 0,0</coordinates></LinearRing></outerBoundaryIs>
        |    <innerBoundaryIs><LinearRing><coordinates>4,4 6,4 6,6 4,6 4,4</coordinates></LinearRing></innerBoundaryIs>
        |  </Polygon></Placemark>
        |<Placemark><name>multi</name>
        |  <MultiGeometry>
        |    <Point><coordinates>1,1</coordinates></Point>
        |    <Point><coordinates>2,2</coordinates></Point>
        |  </MultiGeometry></Placemark>
        |</Document></kml>""".stripMargin)
    val df = spark.read.format("geo").load(kml)
    val rows = df.selectExpr("properties['name'] AS name", "st_astext(st_geomfromwkb(geom)) AS wkt")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("pt") == "POINT Z (4.9 52.37 0)")
    assert(rows("line") == "LINESTRING (0 0, 1 1, 2 0)")
    assert(rows("poly") == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(rows("multi") == "MULTIPOINT (1 1, 2 2)")
    // hole area accounted: 100 - 4
    val area = spark.read.format("geo").load(kml)
      .selectExpr("st_area(st_geomfromwkb(geom)) AS a", "properties['name'] AS n")
      .where("n = 'poly'").collect()(0).getDouble(0)
    assert(area == 96.0)
  }

  test("GML 2/3: pos/posList/coordinates encodings, srsDimension, multi surfaces") {
    val gml = tmpFile("t.gml",
      """<?xml version="1.0" encoding="UTF-8"?>
        |<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml" xmlns:app="http://example.org/app">
        |<gml:featureMember><app:city gml:id="c1">
        |  <app:name>Utrecht</app:name><app:pop>360000</app:pop>
        |  <app:geom><gml:Point><gml:pos>5.12 52.09</gml:pos></gml:Point></app:geom>
        |</app:city></gml:featureMember>
        |<gml:featureMember><app:road gml:id="r1">
        |  <app:name>A2</app:name>
        |  <app:geom><gml:LineString><gml:posList srsDimension="3">0 0 10 1 1 20 2 0 30</gml:posList></gml:LineString></app:geom>
        |</app:road></gml:featureMember>
        |<gml:featureMember><app:zone gml:id="z1">
        |  <app:name>zone2</app:name>
        |  <app:geom><gml:Polygon>
        |    <gml:exterior><gml:LinearRing><gml:posList>0 0 10 0 10 10 0 10 0 0</gml:posList></gml:LinearRing></gml:exterior>
        |    <gml:interior><gml:LinearRing><gml:posList>4 4 6 4 6 6 4 6 4 4</gml:posList></gml:LinearRing></gml:interior>
        |  </gml:Polygon></app:geom>
        |</app:zone></gml:featureMember>
        |<gml:featureMember><app:legacy gml:id="l1">
        |  <app:name>gml2</app:name>
        |  <app:geom><gml:Polygon>
        |    <gml:outerBoundaryIs><gml:LinearRing><gml:coordinates>0,0 4,0 4,4 0,4 0,0</gml:coordinates></gml:LinearRing></gml:outerBoundaryIs>
        |  </gml:Polygon></app:geom>
        |</app:legacy></gml:featureMember>
        |<gml:featureMember><app:region gml:id="m1">
        |  <app:name>twin</app:name>
        |  <app:geom><gml:MultiSurface>
        |    <gml:surfaceMember><gml:Polygon><gml:exterior><gml:LinearRing><gml:posList>0 0 1 0 1 1 0 1 0 0</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon></gml:surfaceMember>
        |    <gml:surfaceMember><gml:Polygon><gml:exterior><gml:LinearRing><gml:posList>2 0 3 0 3 1 2 1 2 0</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon></gml:surfaceMember>
        |  </gml:MultiSurface></app:geom>
        |</app:region></gml:featureMember>
        |<gml:featureMember><app:track gml:id="t1">
        |  <app:name>curve</app:name>
        |  <app:geom><gml:Curve><gml:segments>
        |    <gml:LineStringSegment><gml:posList>0 0 1 0</gml:posList></gml:LineStringSegment>
        |    <gml:LineStringSegment><gml:posList>1 0 2 1</gml:posList></gml:LineStringSegment>
        |  </gml:segments></gml:Curve></app:geom>
        |</app:track></gml:featureMember>
        |</gml:FeatureCollection>""".stripMargin)
    val df = spark.read.format("geo").load(gml)
    val rows = df.selectExpr("id", "properties['name'] AS name",
        "st_astext(st_geomfromwkb(geom)) AS wkt")
      .collect().map(r => r.getString(1) -> (r.getString(0), r.getString(2))).toMap
    assert(rows("Utrecht") == ("c1", "POINT (5.12 52.09)"))
    assert(rows("A2") == ("r1", "LINESTRING Z (0 0 10, 1 1 20, 2 0 30)"))
    assert(rows("zone2")._2 == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(rows("gml2")._2 == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert(rows("twin")._2 == "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 0, 3 0, 3 1, 2 1, 2 0)))")
    assert(rows("curve")._2 == "LINESTRING (0 0, 1 0, 2 1)")
    // properties beyond the geometry wrapper survive
    val pop = df.selectExpr("properties['pop'] AS p").where("p IS NOT NULL").collect()
    assert(pop.length == 1 && pop(0).getString(0) == "360000")
  }

  test("GML writer round-trips through the GML reader (props, holes, Z, multis)") {
    val df = spark.sql("""
      SELECT id, concat('f', id) AS label,
             CASE id % 4
               WHEN 0 THEN st_geomfromtext('POINT Z (5 52 10)')
               WHEN 1 THEN st_geomfromtext('LINESTRING (0 0, 1 1, 2 0)')
               WHEN 2 THEN st_geomfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))')
               ELSE st_geomfromtext('MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 0, 3 0, 3 1, 2 1, 2 0)))')
             END AS geom
      FROM range(8)""")
    val dir = tempDir("graft_gmlw").toString
    graft.io.GeoWriter.gml(df, "geom", s"$dir/out.gml", singleFile = true)
    val back = spark.read.format("geo").load(s"$dir/out.gml")
    back.createOrReplaceTempView("gml_rt")
    val rows = spark.sql("""
      SELECT properties['label'] AS label, properties['id'] AS id, st_astext(geom) AS wkt
      FROM gml_rt ORDER BY CAST(properties['id'] AS INT)""").collect()
    assert(rows.length == 8)
    val byLabel = rows.map(r => r.getString(0) -> r.getString(2)).toMap
    assert(byLabel("f0") == "POINT Z (5 52 10)")
    assert(byLabel("f1") == "LINESTRING (0 0, 1 1, 2 0)")
    assert(byLabel("f2") == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(byLabel("f3") == "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 0, 3 0, 3 1, 2 1, 2 0)))")
  }

  test("GPX waypoints, multi-segment track, route") {
    val gpx = tmpFile("t.gpx",
      """<?xml version="1.0" encoding="UTF-8"?>
        |<gpx version="1.1" creator="graft-test">
        |<wpt lat="52.37" lon="4.9"><ele>2.5</ele><name>dam</name></wpt>
        |<wpt lat="51.5" lon="-0.13"><name>nelson</name></wpt>
        |<trk><name>run</name>
        |  <trkseg><trkpt lat="0" lon="0"/><trkpt lat="1" lon="1"/></trkseg>
        |  <trkseg><trkpt lat="2" lon="2"/><trkpt lat="3" lon="3"/><trkpt lat="4" lon="4"/></trkseg>
        |</trk>
        |<rte><name>route</name><rtept lat="10" lon="10"/><rtept lat="11" lon="11"/></rte>
        |</gpx>""".stripMargin)
    val df = spark.read.format("geo").load(gpx)
    val byKind = df.selectExpr("properties['kind'] AS kind", "properties['name'] AS name",
        "st_astext(st_geomfromwkb(geom)) AS wkt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(byKind.count(_._1 == "wpt") == 2)
    val dam = byKind.find(_._2 == "dam").get
    assert(dam._3 == "POINT (4.9 52.37)")
    val trk = byKind.find(_._1 == "trk").get
    assert(trk._3 == "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 4))", trk._3)
    val rte = byKind.find(_._1 == "rte").get
    assert(rte._3 == "LINESTRING (10 10, 11 11)")
    // elevation surfaced as a property
    val ele = df.where("properties['name'] = 'dam'")
      .selectExpr("properties['ele']").collect()(0).getString(0)
    assert(ele == "2.5")
  }

  test("st_read_meta surfaces CRS detail per format") {
    // shapefile: .prj sidecar text (ESRI WKT1 of FIPS 3104 feet, CrsFixtures)
    val shpMeta = graft.io.GeoMeta.readMeta(spark,
      getClass.getResource("/longisland_ftus.shp").getPath).collect()(0)
    val prj = shpMeta.getAs[String]("crs")
    assert(prj != null && (prj.contains("PROJCS") || prj.contains("GEOGCS")), prj)
    // flatgeobuf: header crs (COPY with SRS EPSG:28992, CrsFixtures)
    val fgbMeta = graft.io.GeoMeta.readMeta(spark,
      getClass.getResource("/rdnew.fgb").getPath).collect()(0)
    val fgbCrs = fgbMeta.getAs[String]("crs")
    assert(fgbCrs != null && fgbCrs.contains(":"), s"fgb crs: $fgbCrs")
    // geopackage: organization:code from gpkg_spatial_ref_sys (graft-written)
    val dir = tempDir("graft_crsmeta").toString
    val df = spark.range(5).selectExpr("id", "st_aswkb(st_point(1.0d, 2.0d)) AS geom")
    graft.io.GeoWriter.geopackage(df, "geom", s"$dir/t.gpkg", singleFile = true)
    val gpkgMeta = graft.io.GeoMeta.readMeta(spark, s"$dir/t.gpkg").collect()(0)
    assert(gpkgMeta.getAs[String]("crs") == "EPSG:4326", gpkgMeta.toString)

    // CRS enrichment: the .prj is ESRI WKT (no AUTHORITY node) —
    // crs_detail must surface the name, the .prj WKT, and a +proj= string
    // SYNTHESIZED from the WKT parameters that parses back through
    // st_transform's PROJ-string path and agrees with the EPSG:2263 kernel
    val d = shpMeta.getAs[org.apache.spark.sql.Row]("crs_detail")
    assert(d.getAs[String]("auth_name") == null && d.getAs[String]("auth_code") == null, d.toString)
    assert(d.getAs[String]("name") != null && d.getAs[String]("name").contains("Long_Island"))
    assert(d.getAs[String]("wkt") != null && d.getAs[String]("wkt").contains("PROJCS"))
    val p4 = d.getAs[String]("proj4")
    assert(p4 != null && p4.contains("+proj=lcc") && p4.contains("us-ft"), s"proj4: $p4")
    val viaP4 = graft.geom.Proj.fromProjString(p4).getOrElse(fail(s"proj4 must re-parse: $p4"))
    val reg = graft.geom.Proj.lookup("EPSG:2263").get
    val (x1, y1) = viaP4.proj.forward(-73.95, 40.75)
    val (x2, y2) = reg.proj.forward(-73.95, 40.75)
    assert(math.abs(x1 - x2) < 1e-3 && math.abs(y1 - y2) < 1e-3,
      s"synthesized proj4 diverges from EPSG:2263: ($x1,$y1) vs ($x2,$y2)")

    // GeoParquet: graft-written file (no explicit crs → OGC:CRS84 per the
    // 1.1 spec) enriches to the longlat proj4
    val pqDir = tempDir("graft_crsmeta_pq").toString
    graft.io.GeoWriter.clusteredParquet(df, "geom", s"$pqDir/pts.parquet")
    val pqMeta = graft.io.GeoMeta.readMeta(spark, s"$pqDir/pts.parquet").collect()(0)
    val pd = pqMeta.getAs[org.apache.spark.sql.Row]("crs_detail")
    assert(pd.getAs[String]("auth_name") == "OGC" && pd.getAs[String]("auth_code") == "CRS84",
      pd.toString)
    assert(pd.getAs[String]("proj4") != null && pd.getAs[String]("proj4").contains("+proj=longlat"),
      pd.toString)
  }

  test("CSV with quoted fields and a WKT column") {
    val csv = tmpFile("t.csv",
      "id,label,wkt\n" +
        "1,\"a, quoted\",POINT (1 2)\n" +
        "2,plain,\"POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))\"\n" +
        "3,\"say \"\"hi\"\"\",POINT (9 9)\n" +
        "4,nogeom,\n")
    val df = spark.read.format("geo").load(csv)
    assert(df.columns.toSeq == Seq("id", "label", "geom"))
    val rows = df.selectExpr("id", "label",
        "CASE WHEN geom IS NULL THEN NULL ELSE st_astext(st_geomfromwkb(geom)) END AS wkt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.length == 4)
    assert(rows.find(_._1 == "1").get._2 == "a, quoted")
    assert(rows.find(_._1 == "2").get._3 == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert(rows.find(_._1 == "3").get._2 == "say \"hi\"")
    assert(rows.find(_._1 == "4").get._3 == null)
    // area through SQL proves the binary column is live geometry
    val area = df.where("id = '2'").selectExpr("st_area(geom)").collect()(0).getDouble(0)
    assert(area == 16.0)
  }

  test("KML writer round-trips through the KML reader (geometry + ExtendedData)") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT concat('pm', id) AS name, cast(id * 10 AS INT) AS score,
             st_geomfromtext(CASE id
               WHEN 0 THEN 'POINT (4.9 52.4)'
               WHEN 1 THEN 'LINESTRING (0 0, 1 1, 2 0)'
               ELSE 'POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))' END) AS geom
      FROM range(3)""")
    val dir = tempDir("graft_kmlw").toString
    graft.io.GeoWriter.kml(df, "geom", s"$dir/out.kml", singleFile = true)
    val back = spark.read.format("geo").load(s"$dir/out.kml")
    back.createOrReplaceTempView("kml_rt")
    val rows = spark.sql("""
      SELECT properties['name'] AS name, properties['score'] AS score, st_astext(geom) AS wkt
      FROM kml_rt ORDER BY name""").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(0) == "pm0" && rows(0).getString(1) == "0" &&
      rows(0).getString(2) == "POINT (4.9 52.4)")
    assert(rows(1).getString(2) == "LINESTRING (0 0, 1 1, 2 0)")
    assert(rows(2).getString(2).startsWith("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2"))
  }

  test("GPX writer round-trips waypoints and multi-segment tracks") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT 'summit' AS name, '1337.5' AS ele, st_geomfromtext('POINT (7.65 45.97)') AS geom
      UNION ALL
      SELECT 'hike', NULL, st_geomfromtext('MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))')""")
    val dir = tempDir("graft_gpxw").toString
    graft.io.GeoWriter.gpx(df, "geom", s"$dir/out.gpx", singleFile = true)
    val back = spark.read.format("geo").load(s"$dir/out.gpx")
    back.createOrReplaceTempView("gpx_rt")
    val rows = spark.sql("""
      SELECT properties['kind'] AS kind, properties['name'] AS name, st_astext(geom) AS wkt
      FROM gpx_rt ORDER BY kind, wkt""").collect()
    // one wpt + one trk (multi-segment tracks read back as one MultiLineString)
    assert(rows.map(_.getString(0)).toSeq == Seq("trk", "wpt"))
    assert(rows(1).getString(2) == "POINT (7.65 45.97)")
    assert(rows(0).getString(2) == "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")
    assert(rows(1).getString(1) == "summit")
    // polygons are rejected, not mangled
    val bad = spark.sql("SELECT st_geomfromtext('POLYGON ((0 0, 1 0, 1 1, 0 0))') AS geom")
    assertThrows[Exception](graft.io.GeoWriter.gpx(bad, "geom", s"$dir/bad.gpx", singleFile = true))
  }

  test("CSV-WKT writer round-trips through the CSV reader with quoting") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT 'a, comma' AS label, st_geomfromtext('POINT (1 2)') AS geom
      UNION ALL
      SELECT 'say "hi"', st_geomfromtext('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')""")
    val dir = tempDir("graft_csvw").toString
    graft.io.GeoWriter.csvWkt(df, "geom", s"$dir/out.csv", singleFile = true)
    val back = spark.read.format("geo").load(s"$dir/out.csv")
    val rows = back.selectExpr("label", "st_astext(geom) AS wkt").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("a, comma", "POINT (1 2)"),
      ("say \"hi\"", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")))
  }
}

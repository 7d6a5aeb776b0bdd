package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** KMZ / GeoRSS / MapInfo MIF readers over self-generated fixtures. */
class FormatLongTailSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val dir = suiteTempDir("graft_longtail").toString

  private val kml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
      |<Placemark><name>alpha</name>
      |  <Point><coordinates>10.5,20.25</coordinates></Point></Placemark>
      |<Placemark><name>beta</name>
      |  <LineString><coordinates>0,0 1,1 2,0</coordinates></LineString></Placemark>
      |</Document></kml>""".stripMargin

  test("kmz: doc.kml inside a zip reads like the bare kml") {
    val p = s"$dir/pts.kmz"
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(p)))
    zos.putNextEntry(new ZipEntry("stale.txt")); zos.write("not kml".getBytes("UTF-8")); zos.closeEntry()
    zos.putNextEntry(new ZipEntry("doc.kml")); zos.write(kml.getBytes("UTF-8")); zos.closeEntry()
    zos.close()
    val df = spark.read.format("geo").load(p)
    val rows = df.selectExpr("properties['name'] as name", "st_astext(geom) as wkt")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(rows("alpha") == "POINT (10.5 20.25)")
    assert(rows("beta") == "LINESTRING (0 0, 1 1, 2 0)")
  }

  test("kmz with no .kml entry fails loudly") {
    val p = s"$dir/empty.kmz"
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(p)))
    zos.putNextEntry(new ZipEntry("readme.txt")); zos.write("x".getBytes); zos.closeEntry()
    zos.close()
    val e = intercept[Exception] { spark.read.format("geo").load(p).collect() }
    assert(e.getMessage != null)
  }

  test("georss: simple point/line/polygon/box, W3C geo, and GML where") {
    val rss =
      """<?xml version="1.0"?>
        |<rss version="2.0" xmlns:georss="http://www.georss.org/georss"
        |     xmlns:geo="http://www.w3.org/2003/01/geo/wgs84_pos#"
        |     xmlns:gml="http://www.opengis.net/gml">
        |<channel><title>feed</title>
        |<item><title>pt</title><guid>a1</guid>
        |  <georss:point>45.256 -71.92</georss:point></item>
        |<item><title>ln</title>
        |  <georss:line>45 -110 46 -109</georss:line></item>
        |<item><title>pg</title>
        |  <georss:polygon>45 -110 45 -109 46 -109 45 -110</georss:polygon></item>
        |<item><title>bx</title>
        |  <georss:box>42.94 -71.03 43.04 -69.86</georss:box></item>
        |<item><title>w3c</title><geo:lat>55.7</geo:lat><geo:long>12.57</geo:long></item>
        |<item><title>where</title>
        |  <georss:where><gml:Point><gml:pos>45.256 -71.92</gml:pos></gml:Point></georss:where></item>
        |</channel></rss>""".stripMargin
    val p = s"$dir/feed.rss"
    Files.write(Paths.get(p), rss.getBytes("UTF-8"))
    val df = spark.read.format("geo").load(p)
    val rows = df.selectExpr("id", "properties['title'] as t", "st_astext(geom) as wkt")
      .collect().map(r => (r.getString(1), (r.getString(0), r.getString(2)))).toMap
    assert(rows("pt") == ("a1", "POINT (-71.92 45.256)")) // guid becomes the id; x=lon
    assert(rows("ln")._2 == "LINESTRING (-110 45, -109 46)")
    assert(rows("pg")._2 == "POLYGON ((-110 45, -109 45, -109 46, -110 45))")
    assert(rows("bx")._2 == "POLYGON ((-71.03 42.94, -69.86 42.94, -69.86 43.04, -71.03 43.04, -71.03 42.94))")
    assert(rows("w3c")._2 == "POINT (12.57 55.7)")
    assert(rows("where")._2 == "POINT (-71.92 45.256)") // GML lat/lon flipped to x=lon
  }

  test("georss: atom entries with updated/link href") {
    val atom =
      """<?xml version="1.0"?>
        |<feed xmlns="http://www.w3.org/2005/Atom" xmlns:georss="http://www.georss.org/georss">
        |<entry><title>e1</title><id>urn:x:1</id>
        |  <link href="http://example.org/1"/>
        |  <updated>2024-01-02T03:04:05Z</updated>
        |  <georss:point>1.5 2.5</georss:point></entry>
        |</feed>""".stripMargin
    val p = s"$dir/feed.atom"
    Files.write(Paths.get(p), atom.getBytes("UTF-8"))
    val r = spark.read.format("geo").load(p)
      .selectExpr("id", "properties['link']", "properties['date']", "st_astext(geom)").collect()(0)
    assert(r.getString(0) == "urn:x:1")
    assert(r.getString(1) == "http://example.org/1")
    assert(r.getString(2) == "2024-01-02T03:04:05Z")
    assert(r.getString(3) == "POINT (2.5 1.5)")
  }

  test("mif/mid: point, pline multiple, region with hole, rect, multipoint, none") {
    val mif =
      """Version 300
        |Charset "Neutral"
        |Delimiter ","
        |Columns 3
        |  name Char(10)
        |  pop Integer
        |  tag Char(20)
        |Data
        |Point 10 20
        |  Symbol (35,0,12)
        |Pline Multiple 2
        |  3
        |0 0
        |1 1
        |2 0
        |  2
        |5 5
        |6 6
        |  Pen (1,2,0)
        |Region 2
        |  5
        |0 0
        |10 0
        |10 10
        |0 10
        |0 0
        |  5
        |2 2
        |4 2
        |4 4
        |2 4
        |2 2
        |  Brush (2,16777215,16777215)
        |  Center 5 5
        |Rect 1 2 3 4
        |Multipoint 2
        |7 8
        |9 10
        |None
        |""".stripMargin
    val mid =
      """alpha,100,"x,y"
        |beta,200,plain
        |gamma,300,g
        |delta,400,d
        |eps,500,e
        |zeta,600,z
        |""".stripMargin
    Files.write(Paths.get(s"$dir/t.mif"), mif.getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/t.mid"), mid.getBytes("UTF-8"))
    val df = spark.read.format("geo").load(s"$dir/t.mif")
    assert(df.columns.toSeq == Seq("name", "pop", "tag", "geom"))
    val rows = df.selectExpr("name", "pop", "tag", "st_astext(geom) as wkt")
      .collect().map(r => (r.getString(0), (r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(rows("alpha") == (("100", "x,y", "POINT (10 20)"))) // quoted delimiter preserved
    assert(rows("beta")._3 == "MULTILINESTRING ((0 0, 1 1, 2 0), (5 5, 6 6))")
    assert(rows("gamma")._3 == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")
    assert(rows("delta")._3 == "POLYGON ((1 2, 3 2, 3 4, 1 4, 1 2))")
    assert(rows("eps")._3 == "MULTIPOINT (7 8, 9 10)")
    assert(rows("zeta")._3 == "GEOMETRYCOLLECTION EMPTY")
  }

  test("mif: ellipse and arc approximations are deterministic and bounded") {
    val mif =
      """Version 300
        |Delimiter ","
        |Columns 1
        |  k Char(4)
        |Data
        |Ellipse 0 0 10 6
        |Arc 0 0 10 10 0 90
        |""".stripMargin
    Files.write(Paths.get(s"$dir/e.mif"), mif.getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/e.mid"), "a\nb\n".getBytes("UTF-8"))
    val out = spark.read.format("geo").load(s"$dir/e.mif")
      .selectExpr("k", "st_geometrytype(geom) as t", "st_npoints(geom) as n",
        "st_xmin(geom) as x0", "st_xmax(geom) as x1").collect()
      .map(r => (r.getString(0), (r.getString(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("a")._1 == "POLYGON" && out("a")._2 == 73)
    assert(math.abs(out("a")._3 - 0.0) < 1e-9 && math.abs(out("a")._4 - 10.0) < 1e-9)
    assert(out("b")._1 == "LINESTRING" && out("b")._2 >= 3)
    // quarter arc of the circle inscribed in [0,10]^2: x from center 5 to 10
    assert(math.abs(out("b")._4 - 10.0) < 1e-9)
  }

  test("dxf: point, line, lwpolyline (open+closed), polyline/seqend, circle, arc, solid, text") {
    def pairs(ps: (Int, String)*): String = ps.map { case (c, v) => s"$c\n$v" }.mkString("\n") + "\n"
    val dxf = new StringBuilder
    dxf ++= pairs(0 -> "SECTION", 2 -> "HEADER", 0 -> "ENDSEC")
    dxf ++= pairs(0 -> "SECTION", 2 -> "ENTITIES")
    dxf ++= pairs(0 -> "POINT", 8 -> "L1", 10 -> "3.5", 20 -> "4.5")
    dxf ++= pairs(0 -> "LINE", 8 -> "L1", 10 -> "0", 20 -> "0", 11 -> "10", 21 -> "10")
    dxf ++= pairs(0 -> "LWPOLYLINE", 8 -> "L2", 90 -> "3", 70 -> "0",
      10 -> "0", 20 -> "0", 10 -> "1", 20 -> "1", 10 -> "2", 20 -> "0")
    dxf ++= pairs(0 -> "LWPOLYLINE", 8 -> "L2", 90 -> "4", 70 -> "1",
      10 -> "0", 20 -> "0", 10 -> "4", 20 -> "0", 10 -> "4", 20 -> "4", 10 -> "0", 20 -> "4")
    dxf ++= pairs(0 -> "POLYLINE", 8 -> "L3", 70 -> "1",
      0 -> "VERTEX", 10 -> "0", 20 -> "0",
      0 -> "VERTEX", 10 -> "6", 20 -> "0",
      0 -> "VERTEX", 10 -> "6", 20 -> "6",
      0 -> "SEQEND")
    dxf ++= pairs(0 -> "CIRCLE", 8 -> "L3", 10 -> "5", 20 -> "5", 40 -> "2")
    dxf ++= pairs(0 -> "ARC", 8 -> "L3", 10 -> "0", 20 -> "0", 40 -> "4", 50 -> "0", 51 -> "180")
    dxf ++= pairs(0 -> "SOLID", 8 -> "L4",
      10 -> "0", 20 -> "0", 11 -> "1", 21 -> "0", 12 -> "0", 22 -> "1", 13 -> "1", 23 -> "1")
    dxf ++= pairs(0 -> "TEXT", 8 -> "L4", 10 -> "7", 20 -> "8", 1 -> "hello")
    dxf ++= pairs(0 -> "ENDSEC", 0 -> "EOF")
    val p = s"$dir/d.dxf"
    Files.write(Paths.get(p), dxf.toString.getBytes("UTF-8"))
    val rows = spark.read.format("geo").load(p)
      .selectExpr("properties['entity'] as e", "properties['layer'] as l",
        "st_geometrytype(geom) as t", "st_npoints(geom) as n", "st_astext(geom) as wkt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3), r.getString(4)))
    assert(rows.length == 9)
    val byEntity = rows.groupBy(_._1)
    assert(byEntity("POINT").head._5 == "POINT (3.5 4.5)")
    assert(byEntity("LINE").head._5 == "LINESTRING (0 0, 10 10)")
    val lw = byEntity("LWPOLYLINE").map(r => (r._3, r._4)).sortBy(_._1)
    assert(lw.toSeq == Seq(("LINESTRING", 3), ("POLYGON", 5))) // open stays a line, closed flag makes a ring
    assert(byEntity("POLYLINE").head._3 == "POLYGON") // closed flag via 70
    assert(byEntity("CIRCLE").head._3 == "POLYGON" && byEntity("CIRCLE").head._4 == 73)
    assert(byEntity("ARC").head._3 == "LINESTRING")
    assert(byEntity("SOLID").head._3 == "POLYGON")
    val t = byEntity("TEXT").head
    assert(t._5 == "POINT (7 8)" && t._2 == "L4")
    val txt = spark.read.format("geo").load(p)
      .where("properties['entity'] = 'TEXT'").selectExpr("properties['text']").collect()(0).getString(0)
    assert(txt == "hello")
  }

  test("mif writer round-trips every geometry family through the reader") {
    import spark.implicits._
    val wkts = Seq(
      ("a", "POINT (3 4)"),
      ("b", "LINESTRING (0 0, 1 1, 2 0)"),
      ("c", "MULTILINESTRING ((0 0, 1 1), (5 5, 6 6, 7 5))"),
      ("d", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"),
      ("e", "MULTIPOINT (7 8, 9 10)"),
      ("f", "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"))
    val df = wkts.toDF("name", "wkt").selectExpr("name", "cast(null as int) as num", "st_aswkb(st_geomfromtext(wkt)) as geom")
      .withColumn("num", org.apache.spark.sql.functions.expr("length(name)"))
    val out = s"$dir/rt.mif"
    graft.io.GeoWriter.mif(df, "geom", out, singleFile = true)
    val back = spark.read.format("geo").load(out)
      .selectExpr("name", "num", "st_astext(geom) as wkt").collect()
      .map(r => (r.getString(0), (r.getString(1), r.getString(2)))).toMap
    assert(back.size == 6)
    assert(back("a") == (("1", "POINT (3 4)")))
    assert(back("b")._2 == "LINESTRING (0 0, 1 1, 2 0)")
    assert(back("c")._2 == "MULTILINESTRING ((0 0, 1 1), (5 5, 6 6, 7 5))")
    assert(back("d")._2 == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")
    assert(back("e")._2 == "MULTIPOINT (7 8, 9 10)")
    assert(back("f")._2 == "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))")
  }

  test("kmz writer round-trips through the reader (name + ExtendedData + geometry)") {
    import spark.implicits._
    val df = Seq(("p1", "7", "POINT (1 2)"), ("p2", "9", "LINESTRING (0 0, 3 4)"))
      .toDF("name", "score", "wkt")
      .selectExpr("name", "score", "st_aswkb(st_geomfromtext(wkt)) as geom")
    val out = s"$dir/w.kmz"
    graft.io.GeoWriter.kmz(df, "geom", out, singleFile = true)
    val back = spark.read.format("geo").load(out)
      .selectExpr("properties['name'] as name", "properties['score'] as score", "st_astext(geom) as wkt")
      .collect().map(r => (r.getString(0), (r.getString(1), r.getString(2)))).toMap
    assert(back == Map(
      "p1" -> (("7", "POINT (1 2)")),
      "p2" -> (("9", "LINESTRING (0 0, 3 4)"))))
  }

  test("georss writer round-trips point/line/polygon through the reader") {
    import spark.implicits._
    val df = Seq(
      ("t1", "POINT (12.5 55.7)"),
      ("t2", "LINESTRING (-110 45, -109 46)"),
      ("t3", "POLYGON ((-110 45, -109 45, -109 46, -110 45))"))
      .toDF("title", "wkt")
      .selectExpr("title", "st_aswkb(st_geomfromtext(wkt)) as geom")
    val out = s"$dir/w.rss"
    graft.io.GeoWriter.georss(df, "geom", out, singleFile = true)
    val back = spark.read.format("geo").load(out)
      .selectExpr("properties['title'] as t", "st_astext(geom) as wkt")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(back("t1") == "POINT (12.5 55.7)")
    assert(back("t2") == "LINESTRING (-110 45, -109 46)")
    assert(back("t3") == "POLYGON ((-110 45, -109 45, -109 46, -110 45))")
  }

  test("dxf writer round-trips points, lines, and polygons (rings as closed LWPOLYLINEs)") {
    import spark.implicits._
    val df = Seq(
      ("roads", "POINT (3 4)"),
      ("roads", "LINESTRING (0 0, 1 1, 2 0)"),
      ("parcels", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"),
      ("pts", "MULTIPOINT (7 8, 9 10)"))
      .toDF("layer", "wkt")
      .selectExpr("layer", "st_aswkb(st_geomfromtext(wkt)) as geom")
    val out = s"$dir/w.dxf"
    graft.io.GeoWriter.dxf(df, "geom", out, singleFile = true)
    val back = spark.read.format("geo").load(out)
      .selectExpr("properties['layer'] as l", "properties['entity'] as e", "st_astext(geom) as wkt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(back.count(_._1 == "roads") == 2)
    assert(back.exists(r => r._2 == "POINT" && r._3 == "POINT (3 4)"))
    assert(back.exists(r => r._3 == "LINESTRING (0 0, 1 1, 2 0)"))
    // polygon rings come back as two closed LWPOLYLINE rings on the parcels layer
    val parcels = back.filter(_._1 == "parcels").map(_._3).sorted
    assert(parcels.toSeq == Seq(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
      "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))"))
    // multipoint decomposes into two POINT entities
    assert(back.count(r => r._1 == "pts" && r._2 == "POINT") == 2)
  }

  test("geo scans report file-size statistics so Catalyst can broadcast small sides") {
    val p = s"$dir/stat.mif"
    val mif = "Version 300\nDelimiter \",\"\nColumns 1\n  k Char(4)\nData\nPoint 1 2\n"
    Files.write(Paths.get(p), mif.getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/stat.mid"), "a\n".getBytes("UTF-8"))
    val df = spark.read.format("geo").load(p)
    val stats = df.queryExecution.optimizedPlan.stats
    // without SupportsReportStatistics this is spark.sql.defaultSizeInBytes (huge)
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 1000000,
      s"geo scan reports default/unknown size: ${stats.sizeInBytes}")
  }

  test("bare-path SQL works for the new extensions") {
    val p = s"$dir/pts2.kmz"
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(p)))
    zos.putNextEntry(new ZipEntry("doc.kml")); zos.write(kml.getBytes("UTF-8")); zos.closeEntry()
    zos.close()
    val n = spark.sql(s"SELECT count(*) FROM `$p`").collect()(0).getLong(0)
    assert(n == 2)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** GMT ASCII, ODS spreadsheet, and PGDUMP sinks/sources. The GMT fixture
  * is hand-written per the OGR GMT driver's documented line grammar; the
  * PGDUMP test asserts the exact emitted SQL (the format IS the published
  * PostgreSQL COPY text format, so the expected text is spec-derived). */
class TabularFormatsSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val dir = suiteTempDir("graft_tabular").toString

  private val gmtDoc =
    """# @VGMT1.0 @GPOLYGON
      |# @Nname|pop
      |# @Tstring|integer
      |# FEATURE_DATA
      |>
      |# @D"has ""quote"" in"|7
      |# @P
      |0 0
      |10 0
      |10 10
      |0 10
      |0 0
      |>
      |# @H
      |2 2
      |4 2
      |4 4
      |2 4
      |2 2
      |>
      |# @D"solo"|3
      |# @P
      |20 0
      |25 0
      |25 5
      |20 5
      |20 0
      |""".stripMargin

  test("gmt: hand-written polygon file with @P/@H ring markers") {
    val p = s"$dir/regions.gmt"
    Files.writeString(Paths.get(p), gmtDoc)
    val rows = spark.read.format("geo").load(p)
      .selectExpr("properties['name'] AS name", "properties['pop'] AS pop",
        "st_astext(geom) AS wkt")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // embedded "" unescapes to a literal quote
    assert(rows.contains("has \"quote\" in"))
    val donut = graft.geom.Geo.fromWkt(rows("has \"quote\" in")._2)
    assert(donut.getArea == 100.0 - 4.0)
    assert(rows("has \"quote\" in")._1 == "7")
    assert(graft.geom.Geo.fromWkt(rows("solo")._2).getArea == 25.0)
  }

  test("gmt: point and linestring files, headerless coordinate fallback") {
    val pts = "# @VGMT1.0 @GPOINT\n# @Nk\n# @Tinteger\n# FEATURE_DATA\n" +
      ">\n# @D1\n3.5 4.5\n>\n# @D2\n-1 -2\n"
    val p1 = s"$dir/pts.gmt"
    Files.writeString(Paths.get(p1), pts)
    val got = spark.read.format("geo").load(p1)
      .selectExpr("properties['k']", "st_astext(geom)").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("1") == "POINT (3.5 4.5)" && got("2") == "POINT (-1 -2)")
    val line = "# @VGMT1.0 @GLINESTRING\n# FEATURE_DATA\n>\n0 0\n1 1\n2 0\n"
    val p2 = s"$dir/line.gmt"
    Files.writeString(Paths.get(p2), line)
    val lw = spark.read.format("geo").load(p2)
      .selectExpr("st_astext(geom)").collect()(0).getString(0)
    assert(lw == "LINESTRING (0 0, 1 1, 2 0)")
  }

  test("gmt: attribute-less files keep one feature per segment") {
    // no @N/@D anywhere: every '>' segment is its own linestring feature
    val doc = "# @VGMT1.0 @GLINESTRING\n# FEATURE_DATA\n" +
      ">\n0 0\n1 1\n>\n2 2\n3 3\n>\n4 4\n5 5\n"
    val p = s"$dir/bare_lines.gmt"
    Files.writeString(Paths.get(p), doc)
    val wkts = spark.read.format("geo").load(p)
      .selectExpr("st_astext(geom)").collect().map(_.getString(0)).toSet
    assert(wkts == Set("LINESTRING (0 0, 1 1)", "LINESTRING (2 2, 3 3)", "LINESTRING (4 4, 5 5)"))
    // geometry-only frames round-trip through the writer's @D delimiters
    import spark.implicits._
    val df = Seq("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
                 "MULTILINESTRING ((5 5, 6 6), (7 7, 8 8, 9 9))")
      .toDF("wkt").selectExpr("st_geomfromtext(wkt) AS geom")
    val p2 = s"$dir/bare_multi.gmt"
    graft.io.GeoWriter.gmt(df, "geom", p2, singleFile = true)
    val back = spark.read.format("geo").load(p2)
      .selectExpr("st_astext(geom)").collect().map(_.getString(0)).toSet
    assert(back == Set("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
                       "MULTILINESTRING ((5 5, 6 6), (7 7, 8 8, 9 9))"))
  }

  test("gmt: writer round-trips polygons with holes and attributes") {
    import spark.implicits._
    val df = Seq(
      ("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))", "a|b\"c", 11),
      ("POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))", "plain", 22)
    ).toDF("wkt", "name", "pop")
      .selectExpr("st_geomfromtext(wkt) AS geom", "name", "pop")
    val p = s"$dir/rt.gmt"
    graft.io.GeoWriter.gmt(df, "geom", p, singleFile = true)
    val back = spark.read.format("geo").load(p)
      .selectExpr("properties['name'] AS n", "properties['pop'] AS pop", "st_astext(geom) AS wkt")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(back("a|b\"c")._1 == "11")
    assert(graft.geom.Geo.fromWkt(back("a|b\"c")._2).getArea == 64.0 - 4.0)
    assert(graft.geom.Geo.fromWkt(back("plain")._2).getArea == 100.0)
  }

  test("ods: writer round-trips through the reader; repeated cells expand") {
    import spark.implicits._
    val df = Seq(("alpha", "1", "x"), ("beta", "2", null)).toDF("name", "n", "note")
    val p = s"$dir/table.ods"
    graft.io.GeoWriter.ods(df, p, singleFile = true)
    val back = spark.read.format("geo").load(p).collect()
      .map(r => (r.getString(0), r.getString(1), if (r.isNullAt(2)) null else r.getString(2)))
    assert(back.toSet == Set(("alpha", "1", "x"), ("beta", "2", null)))
    // the mimetype entry is first and STORED, per ODF 1.2 §3.3
    val zin = new java.util.zip.ZipInputStream(Files.newInputStream(Paths.get(p)))
    val first = zin.getNextEntry
    assert(first.getName == "mimetype" && first.getMethod == java.util.zip.ZipEntry.STORED)
    zin.close()
    // hand-written content.xml with number-columns-repeated and typed cells
    val content =
      """<?xml version="1.0"?><office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"><office:body><office:spreadsheet><table:table table:name="S"><table:table-row><table:table-cell><text:p>a</text:p></table:table-cell><table:table-cell><text:p>b</text:p></table:table-cell><table:table-cell><text:p>c</text:p></table:table-cell></table:table-row><table:table-row><table:table-cell office:value-type="float" office:value="42"><text:p>42</text:p></table:table-cell><table:table-cell table:number-columns-repeated="2"><text:p>dup</text:p></table:table-cell><table:table-cell table:number-columns-repeated="1000"/></table:table-row></table:table></office:spreadsheet></office:body></office:document-content>"""
    val p2 = s"$dir/hand.ods"
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(Paths.get(p2)))
    zos.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
    zos.write(content.getBytes("UTF-8")); zos.closeEntry(); zos.close()
    val rows = graft.io.Ods.rows(p2)
    assert(rows(0).toSeq == Seq("a", "b", "c"))
    // office:value wins; the repeated cell expands in place; padding trims
    assert(rows(1).toSeq == Seq("42", "dup", "dup"))
  }

  test("ods: number-rows-repeated and covered-table-cell keep alignment") {
    val content =
      """<?xml version="1.0"?><office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"><office:body><office:spreadsheet><table:table table:name="S">""" +
        // a run of 3 identical rows
        """<table:table-row table:number-rows-repeated="3"><table:table-cell><text:p>x</text:p></table:table-cell></table:table-row>""" +
        // merged cell: value, covered placeholder, then another value —
        // the third value must stay in column 2
        """<table:table-row><table:table-cell><text:p>m</text:p></table:table-cell><table:covered-table-cell/><table:table-cell><text:p>z</text:p></table:table-cell></table:table-row>""" +
        """</table:table></office:spreadsheet></office:body></office:document-content>"""
    val p = s"$dir/rle.ods"
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(Paths.get(p)))
    zos.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
    zos.write(content.getBytes("UTF-8")); zos.closeEntry(); zos.close()
    val rows = graft.io.Ods.rows(p)
    assert(rows.length == 4)
    assert(rows.take(3).forall(_.toSeq == Seq("x")))
    assert(rows(3).toSeq == Seq("m", null, "z"))
  }

  test("pgdump: exact COPY-format script for a known frame") {
    import spark.implicits._
    val df = Seq((1L, "tab\there", "POINT (1 2)"), (2L, null, "POINT (3 4)"))
      .toDF("id", "note", "wkt")
      .selectExpr("id", "note", "st_geomfromtext(wkt) AS geom")
    val p = s"$dir/dump.sql"
    graft.io.GeoWriter.pgdump(df.coalesce(1), "geom", p, table = "pts")
    val text = Files.readString(Paths.get(p))
    assert(text.contains("""CREATE TABLE "pts" ("id" BIGINT, "note" TEXT, "geom" GEOMETRY);"""))
    assert(text.contains("""COPY "pts" ("id", "note", "geom") FROM STDIN;"""))
    // COPY text format: literal tab escaped, NULL spelled \N
    assert(text.contains("1\ttab\\there\t"))
    assert(text.contains("2\t\\N\t"))
    assert(text.contains("\n\\.\n") && text.contains("COMMIT;"))
    // the geometry value is the hex WKB of POINT(1 2) — decode it back
    val hexLine = text.linesIterator.find(_.startsWith("1\t")).get.split("\t")(2)
    val bytes = hexLine.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    assert(graft.geom.Geo.read(bytes).toText == "POINT (1 2)")
    // invalid table identifiers are rejected
    intercept[IllegalArgumentException](
      graft.io.GeoWriter.pgdump(df, "geom", s"$dir/x.sql", table = "bad\"name"))
  }

  test("pgdump: non-geometry binary columns use the bytea \\x hex form") {
    import spark.implicits._
    val df = Seq((Array[Byte](0x0A, 0x1B), "POINT (0 0)")).toDF("blob", "wkt")
      .selectExpr("blob", "st_geomfromtext(wkt) AS geom")
    val p = s"$dir/bytea.sql"
    graft.io.GeoWriter.pgdump(df.coalesce(1), "geom", p, table = "b")
    val text = Files.readString(Paths.get(p))
    assert(text.contains(""""blob" BYTEA"""))
    // COPY text format: literal backslash doubled -> \\x0A1B in the file
    assert(text.contains("\\\\x0A1B\t"), text.linesIterator.toSeq.mkString("|"))
  }
}

package graft

import graft.io.{GeoFormat, GeoMeta}
import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, Geometry}
import java.nio.file.{Files, Path}

/** The reader's format registry: every readable format is found by each of
  * its extensions, listed by `st_drivers`, and layered exactly when
  * `st_read_meta` can list its layers. The checks iterate
  * [[GeoFormat.all]], so a new format is covered when it is registered. */
class GeoFormatRegistrySpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val fac = graft.geom.Geo.factory

  test("every extension, and its .gz for a format that reads gzip, finds its format") {
    val claimed = GeoFormat.all.flatMap(_.extensions)
    assert(claimed.distinct == claimed, "an extension is claimed twice")
    for (f <- GeoFormat.all; ext <- f.extensions) {
      assert(GeoFormat.byExtension(s"/d/x$ext").contains(f), s"${f.name} $ext")
      assert(GeoFormat.of(s"/d/x${ext.toUpperCase}", None) == f, s"${f.name} $ext")
      assert(GeoFormat.byExtension(s"/d/x$ext.gz") == (if (f.gz) Some(f) else None), s"${f.name} $ext.gz")
      assert(GeoFormat.named(f.name) == f)
    }
    // a bare .json belongs to no format and sniffs to GeoJSON by default
    assert(GeoFormat.byExtension("/d/x.json").isEmpty && GeoFormat.known("/d/x.json.gz"))
    assert(GeoFormat.of("/d/missing.json", None) == GeoFormat.GeoJson)
  }

  test("st_drivers has a can_read row for every format, and 22 rows") {
    val rows = GeoMeta.drivers(spark).collect()
    assert(rows.length == 22)
    val readable = rows.filter(_.getBoolean(2)).map(_.getString(0)).toSet
    GeoFormat.all.foreach(f => assert(readable.contains(f.name), f.name))
  }

  /** a file of the layered format `f` with the layers "a" and "b" */
  private def twoLayers(f: GeoFormat, dir: Path): String = {
    def pt(x: Double): Geometry = fac.createPoint(new Coordinate(x, x))
    val kml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
        |<Folder><name>a</name><Placemark><Point><coordinates>1,1</coordinates></Point></Placemark></Folder>
        |<Folder><name>b</name><Placemark><Point><coordinates>2,2</coordinates></Point></Placemark></Folder>
        |</Document></kml>""".stripMargin
    val p = dir.resolve("two" + f.extensions.head)
    f.name match {
      case "geopackage" =>
        graft.io.GeoPackageWriter.writeMulti(p.toString, Seq(
          ("a", Seq("name" -> "TEXT"), Iterator((pt(1), Array[Any]("x")))),
          ("b", Seq("name" -> "TEXT"), Iterator((pt(2), Array[Any]("y"))))))
      case "kml" => Files.writeString(p, kml)
      case "kmz" =>
        val zo = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
        zo.putNextEntry(new java.util.zip.ZipEntry("doc.kml")); zo.write(kml.getBytes("UTF-8"))
        zo.closeEntry(); zo.close()
      case "dxf" =>
        val df = spark.createDataFrame(Seq(("a", 1.0), ("b", 2.0))).toDF("layer", "x")
          .selectExpr("layer", "st_aswkb(st_point(x, x)) AS geom")
        graft.io.GeoWriter.dxf(df, "geom", p.toString, singleFile = true)
      case "topojson" =>
        Files.writeString(p, """{"type":"Topology","arcs":[],"objects":{""" +
          """"a":{"type":"Point","coordinates":[1,1]},"b":{"type":"Point","coordinates":[2,2]}}}""")
      case "mvt" =>
        Files.write(p, graft.io.Mvt.writeTile("a", 4096, Seq((1L, pt(1), Nil))) ++
          graft.io.Mvt.writeTile("b", 4096, Seq((2L, pt(2), Nil))))
      case other => fail(s"no two-layer fixture for the layered format $other")
    }
    p.toString
  }

  test("layered is true exactly for the formats whose st_read_meta lists layers") {
    Graft.register(spark)
    val dir = tempDir("graft_registry")
    for (f <- GeoFormat.all) {
      if (f.layered) {
        val layers = GeoMeta.readMeta(spark, twoLayers(f, dir))
          .selectExpr("layers").collect()(0).getSeq[String](0)
        assert(layers.sorted == Seq("a", "b"), s"${f.name}: $layers")
      } else {
        // a layerless format reports no layers and rejects a layer request
        // before it opens a file
        assert(f.layers(dir.resolve("absent" + f.extensions.head).toString) == Nil, f.name)
        val err = intercept[IllegalArgumentException] {
          graft.io.GeoSource(Seq(dir.resolve("absent" + f.extensions.head).toString), layer = Some("a"))
        }
        assert(err.getMessage.contains("has no layers"), f.name)
      }
    }
  }
}

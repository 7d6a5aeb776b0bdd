package graft

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.Coordinate

/** Multi-layer dataset selection (reference: st_read.cpp:623-631 `layer`
  * open option; st_read_meta.cpp:26-65 layer inventory): a GeoPackage's
  * feature tables, a KML's folders, and a DXF's entity layers are selectable
  * via `.option("layer", …)` / `st_read(path, layer)`, and enumerable via
  * st_read_meta's `layers` column. */
class LayerSelectionSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val fac = graft.geom.Geo.factory

  private lazy val twoLayerGpkg: String = {
    val dir = suiteTempDir("graft_layers")
    val p = dir.resolve("two.gpkg").toString
    def pts(n: Int, dx: Double) = (1 to n).iterator.map { i =>
      (fac.createPoint(new Coordinate(i + dx, i)): org.locationtech.jts.geom.Geometry,
        Array[Any](s"f$i"))
    }
    graft.io.GeoPackageWriter.writeMulti(p, Seq(
      ("roads", Seq("name" -> "TEXT"), pts(3, 0.0)),
      ("pois", Seq("name" -> "TEXT"), pts(5, 100.0))))
    p
  }

  test("geopackage: default layer is the first table; option('layer') selects by name") {
    val dflt = spark.read.format("geo").load(twoLayerGpkg)
    assert(dflt.count() == 3) // roads
    val pois = spark.read.format("geo").option("layer", "pois").load(twoLayerGpkg)
    assert(pois.count() == 5)
    val xs = pois.selectExpr("st_x(st_geomfromwkb(geom)) AS x").collect().map(_.getDouble(0)).sorted
    assert(xs.head == 101.0 && xs.last == 105.0, xs.mkString(","))
    val roads = spark.read.format("geo").option("layer", "roads").load(twoLayerGpkg)
    assert(roads.count() == 3)
  }

  test("geopackage: st_read(path, layer) SQL form + unknown layer lists available") {
    val n = spark.sql(s"SELECT count(*) AS n FROM st_read('$twoLayerGpkg', 'pois')")
      .collect()(0).getLong(0)
    assert(n == 5)
    val err = intercept[Exception] {
      spark.read.format("geo").option("layer", "nope").load(twoLayerGpkg).collect()
    }
    assert(err.getMessage.contains("roads") && err.getMessage.contains("pois"), err.getMessage)
  }

  test("st_read_meta reports the layer inventory") {
    val layers = graft.io.GeoMeta.readMeta(spark, twoLayerGpkg)
      .selectExpr("layers").collect()(0).getSeq[String](0)
    assert(layers == Seq("roads", "pois"), layers.mkString(","))
  }

  test("st_read_meta lists the layers of a zipped GeoPackage") {
    val zip = tempDir("graft_layers_zip").resolve("x.zip")
    val zo = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(zip))
    zo.putNextEntry(new java.util.zip.ZipEntry("two.gpkg"))
    zo.write(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(twoLayerGpkg)))
    zo.closeEntry(); zo.close()
    val layers = graft.io.GeoMeta.readMeta(spark, s"$zip!two.gpkg")
      .selectExpr("layers").collect()(0).getSeq[String](0)
    assert(layers == Seq("roads", "pois"), layers.mkString(","))
  }

  test("kml: folders are layers; option('layer') restricts to one folder") {
    val dir = tempDir("graft_layers_kml")
    val p = dir.resolve("f.kml")
    java.nio.file.Files.write(p,
      """<?xml version="1.0" encoding="UTF-8"?>
        |<kml xmlns="http://www.opengis.net/kml/2.2"><Document><name>doc</name>
        |<Folder><name>alpha</name>
        |  <Placemark><name>a1</name><Point><coordinates>1,1</coordinates></Point></Placemark>
        |  <Placemark><name>a2</name><Point><coordinates>2,2</coordinates></Point></Placemark>
        |</Folder>
        |<Folder><name>beta</name>
        |  <Placemark><name>b1</name><Point><coordinates>3,3</coordinates></Point></Placemark>
        |</Folder>
        |<Placemark><name>loose</name><Point><coordinates>9,9</coordinates></Point></Placemark>
        |</Document></kml>""".stripMargin.getBytes("UTF-8"))
    val all = spark.read.format("geo").load(p.toString)
    assert(all.count() == 4)
    val folders = all.selectExpr("properties['folder'] AS f", "properties['name'] AS n")
      .collect().map(r => r.getString(1) -> r.getString(0)).toMap
    assert(folders("a1") == "alpha" && folders("b1") == "beta" && folders("loose") == null)
    val beta = spark.read.format("geo").option("layer", "beta").load(p.toString)
    assert(beta.selectExpr("properties['name']").collect().map(_.getString(0)).toSeq == Seq("b1"))
    assert(graft.io.XmlGeo.kmlLayers(p.toString) == Seq("alpha", "beta"))
  }

  test("dxf: entity layers are selectable") {
    val dir = tempDir("graft_layers_dxf")
    val p = dir.resolve("two.dxf").toString
    // write via the DXF writer: the `layer` column sets the entity layer
    val df = spark.createDataFrame(Seq(
      ("walls", 1.0, 1.0), ("walls", 2.0, 2.0), ("doors", 3.0, 3.0))).toDF("layer", "x", "y")
      .selectExpr("layer", "st_aswkb(st_point(x, y)) AS geom")
    graft.io.GeoWriter.dxf(df, "geom", p, singleFile = true)
    val all = spark.read.format("geo").load(p)
    assert(all.count() == 3)
    val walls = spark.read.format("geo").option("layer", "walls").load(p)
    assert(walls.count() == 2)
    val layers = graft.io.GeoMeta.readMeta(spark, p)
      .selectExpr("layers").collect()(0).getSeq[String](0)
    assert(layers.toSet == Set("walls", "doors"), layers.mkString(","))
  }

  test("geopackageLayers: layer column round-trips through the reader's layer option") {
    val dir = tempDir("graft_layers_w")
    val p = dir.resolve("multi.gpkg").toString
    Graft.register(spark)
    val df = spark.sql("""
      SELECT CASE WHEN id < 4 THEN 'roads' ELSE 'pois' END AS layer,
             concat('f', id) AS name,
             st_aswkb(st_point(cast(id AS DOUBLE), cast(id AS DOUBLE))) AS geom
      FROM range(10)""")
    graft.io.GeoWriter.geopackageLayers(df, "geom", "layer", p)
    val meta = graft.io.GeoMeta.readMeta(spark, p)
      .selectExpr("layers").collect()(0).getSeq[String](0)
    assert(meta == Seq("pois", "roads"), meta.mkString(","))
    assert(spark.read.format("geo").option("layer", "roads").load(p).count() == 4)
    val pois = spark.read.format("geo").option("layer", "pois").load(p)
    assert(pois.count() == 6)
    val names = pois.selectExpr("name").collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("f4", "f5", "f6", "f7", "f8", "f9"), names.mkString(","))
  }

  test("geopackageLayers: NULL layer values fail fast; quoted layer names round-trip") {
    Graft.register(spark)
    val dir = tempDir("graft_layers_nq")
    // NULL layer → loud failure, not a silently-empty 'null' table
    val withNull = spark.sql("""
      SELECT CASE WHEN id = 2 THEN NULL ELSE 'a' END AS layer,
             st_aswkb(st_point(cast(id AS DOUBLE), 0.0d)) AS geom FROM range(4)""")
    val e = intercept[IllegalArgumentException] {
      graft.io.GeoWriter.geopackageLayers(withNull, "geom", "layer",
        dir.resolve("bad.gpkg").toString)
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    // driver-streamed export is row-bounded: misuse on a big table fails
    // loudly with a pointer to the bulk writer instead of crawling
    val big = spark.sql(
      "SELECT 'a' AS layer, st_aswkb(st_point(0.0d, 0.0d)) AS geom FROM range(5000001)")
    val eb = intercept[IllegalArgumentException] {
      graft.io.GeoWriter.geopackageLayers(big, "geom", "layer",
        dir.resolve("big.gpkg").toString)
    }
    assert(eb.getMessage.contains("geopackage"), eb.getMessage)
    // an embedded double-quote must not corrupt the CREATE TABLE DDL
    val p = dir.resolve("quoted.gpkg").toString
    val quoted = spark.sql("""
      SELECT 'we"ird' AS layer,
             st_aswkb(st_point(cast(id AS DOUBLE), 0.0d)) AS geom FROM range(3)""")
    graft.io.GeoWriter.geopackageLayers(quoted, "geom", "layer", p)
    val back = spark.read.format("geo").option("layer", "we\"ird").load(p)
    assert(back.count() == 3)
  }

  test("layer option on a layerless format fails loudly") {
    val dir = tempDir("graft_layers_gj")
    val p = dir.resolve("x.geojsonl")
    java.nio.file.Files.write(p,
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[1,2]},"properties":{}}"""
        .getBytes("UTF-8"))
    val err = intercept[Exception] {
      spark.read.format("geo").option("layer", "any").load(p.toString).collect()
    }
    assert(err.getMessage.contains("no layers"), err.getMessage)
  }
}

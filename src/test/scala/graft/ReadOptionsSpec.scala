package graft

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.Coordinate

/** Reader-level `keep_wkb` + `open_options` (reference: st_read named
  * parameters, st_read.cpp:623-631; GDAL open options). */
class ReadOptionsSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val fac = graft.geom.Geo.factory

  test("keep_wkb on GeoPackage: identical bytes, no JTS round trip") {
    val dir = tempDir("graft_keepwkb")
    val p = dir.resolve("pts.gpkg").toString
    graft.io.GeoPackageWriter.write(p, "pts", Seq(("name", "TEXT")),
      (1 to 5).iterator.map(i =>
        (fac.createPoint(new Coordinate(i, i * 2)): org.locationtech.jts.geom.Geometry,
          Array[Any](s"p$i"))))
    val plain = spark.read.format("geo").load(p)
      .selectExpr("name", "geom").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val kept = spark.read.format("geo").option("keep_wkb", "true").load(p)
      .selectExpr("name", "geom").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(kept.keySet == plain.keySet)
    // GeoPackageBinary bodies are standard WKB, so the pass-through bytes
    // decode to the same geometries the validating path produced
    kept.foreach { case (k, b) =>
      assert(graft.geom.Geo.read(b.toArray).equalsExact(
        graft.geom.Geo.read(plain(k).toArray)), s"row $k differs")
    }
    // SQL surface: st_read(path, options)
    Graft.register(spark)
    assert(spark.sql(s"SELECT count(*) FROM st_read('$p', 'keep_wkb=true')")
      .collect()(0).getLong(0) == 5)
  }

  test("open_options GEOM_COLUMN overrides the CSV geometry sniff") {
    val dir = tempDir("graft_oo_csv")
    val p = dir.resolve("odd.csv")
    // geometry lives in a column the wkt/geom/... sniff would never pick
    java.nio.file.Files.write(p,
      "city,shape_data\nberlin,POINT (13 52)\nparis,POINT (2 48)\n".getBytes("UTF-8"))
    val err = intercept[Exception] {
      spark.read.format("geo").load(p.toString).collect()
    }
    assert(err.getMessage.contains("no geometry column"), err.getMessage)
    val df = spark.read.format("geo")
      .option("open_options", "GEOM_COLUMN=shape_data").load(p.toString)
    assert(df.columns.toSeq == Seq("city", "geom"))
    val rows = df.selectExpr("city", "st_x(st_geomfromwkb(geom)) AS x").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows == Map("berlin" -> 13.0, "paris" -> 2.0))
    // SQL form
    Graft.register(spark)
    assert(spark.sql(
      s"SELECT count(*) FROM st_read('${p.toString}', 'geom_column=shape_data')")
      .collect()(0).getLong(0) == 2)
  }

  test("open_options ENCODING reads Latin-1 CSV text correctly") {
    val dir = tempDir("graft_oo_enc")
    val p = dir.resolve("latin.csv")
    java.nio.file.Files.write(p,
      "name,wkt\nMünchen,POINT (11 48)\n".getBytes("ISO-8859-1"))
    val good = spark.read.format("geo")
      .option("open_options", "ENCODING=ISO-8859-1").load(p.toString)
      .selectExpr("name").collect()(0).getString(0)
    assert(good == "München", good)
  }

  test("spatial_filter: exact geometry window, not just its envelope") {
    val dir = tempDir("graft_sf")
    val p = dir.resolve("pts.geojsonl")
    // 5 points on a diagonal; the triangle filter below COVERS the envelope
    // corner points' bbox but only intersects 3 of them exactly
    val gj = Seq((0, 0), (2, 2), (4, 4), (1, 3), (3, 1)).zipWithIndex.map { case ((x, y), i) =>
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$x,$y]},"properties":{"n":"$i"}}"""
    }.mkString("\n")
    java.nio.file.Files.write(p, gj.getBytes("UTF-8"))
    // triangle below the diagonal: contains (0,0),(2,2)?,(4,4)? — triangle
    // (0,0)-(4,0)-(4,4): contains points with y<=x → (0,0),(2,2),(4,4),(3,1)
    val tri = "POLYGON ((0 0, 4 0, 4 4, 0 0))"
    val got = spark.read.format("geo").option("spatial_filter", tri).load(p.toString)
      .selectExpr("properties['n'] AS n").collect().map(_.getString(0)).toSet
    assert(got == Set("0", "1", "2", "4"), got.mkString(","))
    // envelope alone would have kept (1,3) too — prove the exact test ran
    assert(!got.contains("3"))
    // SQL surface
    Graft.register(spark)
    assert(spark.sql(
      s"SELECT count(*) FROM st_read('${p.toString}', 'spatial_filter=$tri')")
      .collect()(0).getLong(0) == 4)
    // bad WKT fails at bind
    intercept[Exception] {
      spark.read.format("geo").option("spatial_filter", "NOT WKT").load(p.toString).collect()
    }
  }

  test("allowed_drivers restricts format resolution") {
    val dir = tempDir("graft_ad")
    val p = dir.resolve("x.geojsonl")
    java.nio.file.Files.write(p,
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[1,2]},"properties":{}}"""
        .getBytes("UTF-8"))
    assert(spark.read.format("geo").option("allowed_drivers", "geojsonl,shapefile")
      .load(p.toString).count() == 1)
    val err = intercept[Exception] {
      spark.read.format("geo").option("allowed_drivers", "shapefile")
        .load(p.toString).collect()
    }
    assert(err.getMessage.contains("allowed_drivers"), err.getMessage)
    // advisory GDAL knobs are accepted (documented no-ops)
    Graft.register(spark)
    assert(spark.sql(
      s"SELECT count(*) FROM st_read('${p.toString}', 'sequential_layer_scan=true;max_batch_size=100')")
      .collect()(0).getLong(0) == 1)
  }

  test("unknown open_options key fails fast") {
    val dir = tempDir("graft_oo_bad")
    val p = dir.resolve("x.csv")
    java.nio.file.Files.write(p, "wkt\nPOINT (1 2)\n".getBytes("UTF-8"))
    val err = intercept[Exception] {
      spark.read.format("geo").option("open_options", "TYPO=1").load(p.toString).collect()
    }
    assert(err.getMessage.contains("unknown open_options key"), err.getMessage)
  }
}

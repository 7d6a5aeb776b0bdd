package graft

import graft.io.{GeoParquet, GeoWriter}
import org.scalatest.funsuite.AnyFunSuite

/** GeoParquet 1.1 footer metadata + Hadoop-FS writer paths (round-4 interop
  * items; reference reads/writes GeoParquet through GDAL in st_read.cpp /
  * st_write.cpp). */
class GeoParquetSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private def tmp(name: String): String = tempDir(s"graft_$name").toString

  test("clusteredParquet stamps geo footer metadata that survives a re-read") {
    val dir = tmp("geoparquet")
    import spark.implicits._
    val df = spark.range(500)
      .selectExpr("id", "st_aswkb(st_point(cast(id % 50 as double), cast(id % 37 as double))) AS geom")
    GeoWriter.clusteredParquet(df, "geom", s"$dir/pts", targetPartitions = 4)

    // 1. footer metadata is present and names the column + covering
    val geo = GeoParquet.readGeo(spark.sessionState.newHadoopConf(), s"$dir/pts")
    assert(geo.isDefined, "geo footer metadata missing")
    val g = geo.get
    assert(g.contains(""""version":"1.1.0""""), g)
    assert(g.contains(""""primary_column":"geom""""), g)
    assert(g.contains(""""encoding":"WKB""""), g)
    assert(g.contains(""""covering""") && g.contains("geom_bbox"), g)

    // 2. the stamped files are still valid parquet with intact data
    val back = spark.read.parquet(s"$dir/pts")
    assert(back.count() == 500)
    val xs = back.selectExpr("st_x(st_geomfromwkb(geom)) AS x").agg(Map("x" -> "max")).collect()(0).getDouble(0)
    assert(xs == 49.0, s"max x $xs")
    assert(back.columns.contains("geom_bbox"))

    // 3. st_read_meta reports the geoparquet driver + metadata
    val meta = graft.io.GeoMeta.readMeta(spark, s"$dir/pts").collect()(0)
    assert(meta.getAs[String]("driver") == "geoparquet")
    assert(Option(meta.getAs[String]("geo_metadata")).exists(_.contains("primary_column")), meta.toString)
  }

  test("stampGeo replaces an existing geo entry instead of duplicating") {
    val dir = tmp("geoparquet2")
    spark.range(10).selectExpr("id", "st_aswkb(st_point(1.0d, 2.0d)) AS geom")
      .write.parquet(s"$dir/p")
    val conf = spark.sessionState.newHadoopConf()
    GeoParquet.stampGeoDir(conf, s"$dir/p", GeoParquet.geoJson("geom", (0, 0, 1, 1), None))
    GeoParquet.stampGeoDir(conf, s"$dir/p", GeoParquet.geoJson("geom", (0, 0, 2, 2), None))
    val g = GeoParquet.readGeo(conf, s"$dir/p").get
    assert(g.contains("2.0,2.0") || g.contains("2,2"), g)
    assert(spark.read.parquet(s"$dir/p").count() == 10)
  }

  test("shapefile singleFile mode writes one shapefile through a file: URI") {
    val dir = tmp("shp_single")
    val df = spark.range(40)
      .selectExpr("cast(id as int) AS fid", "st_aswkb(st_point(cast(id as double), cast(id as double))) AS geom")
    GeoWriter.shapefile(df, "geom", s"file:$dir/single.shp", singleFile = true)
    val f = new java.io.File(s"$dir/single.shp")
    assert(f.isFile, s"missing ${f.getPath}")
    assert(new java.io.File(s"$dir/single.dbf").isFile)
    val back = spark.read.format("geo").load(s"$dir/single.shp")
    assert(back.count() == 40)
  }

  test("geojson FeatureCollection writer round-trips through the streaming reader") {
    val dir = tmp("geojson_doc")
    val df = spark.range(30).selectExpr(
      "cast(id as int) AS fid",
      "st_aswkb(st_point(cast(id as double), cast(id % 7 as double))) AS geom")
    GeoWriter.geojson(df, "geom", s"$dir/out.geojson")
    val f = new java.io.File(s"$dir/out.geojson")
    assert(f.isFile)
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assert(text.startsWith("""{"type":"FeatureCollection""""), text.take(60))
    val back = spark.read.format("geo").load(s"$dir/out.geojson")
    assert(back.count() == 30)
    val props = back.selectExpr("properties['fid']").collect().map(_.getString(0)).toSet
    assert(props == (0 until 30).map(_.toString).toSet)
  }

  test("flatgeobuf singleFile mode writes one .fgb file") {
    val dir = tmp("fgb_single")
    val df = spark.range(25)
      .selectExpr("cast(id as int) AS fid", "st_aswkb(st_point(cast(id as double), 0.5d)) AS geom")
    GeoWriter.flatgeobuf(df, "geom", s"$dir/single.fgb", singleFile = true)
    assert(new java.io.File(s"$dir/single.fgb").isFile)
    val back = spark.read.format("geo").load(s"$dir/single.fgb")
    assert(back.count() == 25)
  }
}

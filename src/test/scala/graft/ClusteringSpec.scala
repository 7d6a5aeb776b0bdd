package graft

import graft.io.{GeoMeta, GeoWriter}
import org.scalatest.funsuite.AnyFunSuite

/** The R-tree replacement (SURVEY §4.3): Hilbert clustering + bbox stats +
  * the BboxSkippingRule must reproduce index-grade pruning declaratively. */
class ClusteringSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val dir = suiteTempDir("graft_cluster").toString

  test("clustered parquet + bbox skipping rule prunes and stays correct") {
    val pts = spark.sql("""
      SELECT id, st_generatepoint(7L, id, 0.0d, 0.0d, 1000.0d, 1000.0d) AS geom
      FROM range(20000)""")
    GeoWriter.clusteredParquet(pts, "geom", s"$dir/pts", targetPartitions = 8)

    val table = spark.read.parquet(s"$dir/pts")
    assert(table.columns.contains("geom_bbox"))
    table.createOrReplaceTempView("clustered")

    // the skipping rule derives bbox range predicates from the spatial filter
    val q = spark.sql("""
      SELECT count(*) FROM clustered
      WHERE st_within(geom, st_makeenvelope(100.0d, 100.0d, 150.0d, 150.0d))""")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("min_x") && optimized.contains("max_y"),
      s"bbox predicates not derived:\n$optimized")
    // and they reach the parquet scan as pushed filters
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("min_x"),
      s"bbox predicates not pushed to scan:\n$physical")

    // correctness: same count with the rule disabled
    val n = q.collect()(0).getLong(0)
    spark.conf.set("spark.graft.bboxSkipping.enabled", "false")
    val m = spark.sql("""
      SELECT count(*) FROM clustered
      WHERE st_within(geom, st_makeenvelope(100.0d, 100.0d, 150.0d, 150.0d))""")
      .collect()(0).getLong(0)
    spark.conf.set("spark.graft.bboxSkipping.enabled", "true")
    assert(n == m && n > 0, s"rule changed result: $n vs $m")

    // hilbert clustering makes row-group bboxes tight → introspection shows
    // per-file ranges far smaller than the full extent
    val info = GeoMeta.clusterInfo(spark, s"$dir/pts", "geom").collect()
    assert(info.nonEmpty)
    val avgWidth = info.map(r => r.getDouble(5) - r.getDouble(3)).sum / info.length
    assert(avgWidth < 900.0, s"clustering produced no locality (avg x-width $avgWidth)")
  }

  test("st_layout_info TVF: per-row-group stats surface in SQL") {
    // over the layout written by the first test (same dir/pts tree)
    val info = spark.sql(s"SELECT * FROM st_layout_info('$dir/pts')")
    assert(info.columns.toSeq ==
      Seq("file", "row_group", "rows", "min_x", "min_y", "max_x", "max_y"))
    val rows = info.collect()
    assert(rows.nonEmpty)
    // row counts reconcile with the table itself
    val total = spark.read.parquet(s"$dir/pts").count()
    assert(rows.map(_.getLong(2)).sum == total)
    // every bbox is finite and inside the generated extent
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(5) <= 1000.0, r.toString)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(6) <= 1000.0, r.toString)
    }
    // explicit geometry-column spelling resolves the same layout
    val named = spark.sql(
      s"SELECT count(*) AS n FROM st_layout_info('$dir/pts', 'geom')").collect()
    assert(named(0).getLong(0) == rows.length.toLong)
  }

  test("ecosystem GeoParquet convention prunes too: bbox {xmin,ymin,xmax,ymax}") {
    // a file written by GeoPandas/GDAL carries a struct column literally
    // named `bbox` with xmin/... fields (GeoParquet 1.1 covering default) —
    // the skipping rule must resolve it by name, not graft's min_x layout
    spark.sql("""
      SELECT id,
             st_aswkb(st_point(cast(id % 100 AS DOUBLE), cast(id % 90 AS DOUBLE))) AS geometry,
             named_struct('xmin', cast(id % 100 AS DOUBLE), 'ymin', cast(id % 90 AS DOUBLE),
                          'xmax', cast(id % 100 AS DOUBLE), 'ymax', cast(id % 90 AS DOUBLE)) AS bbox
      FROM range(5000)""").write.mode("overwrite").parquet(s"$dir/ecosys")
    spark.read.parquet(s"$dir/ecosys").createOrReplaceTempView("ecosys")
    val q = spark.sql("""
      SELECT count(*) FROM ecosys
      WHERE st_within(st_geomfromwkb(geometry), st_makeenvelope(10.0d, 10.0d, 20.0d, 20.0d))""")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("xmin") && optimized.contains("ymax"),
      s"ecosystem bbox predicates not derived:\n$optimized")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("xmin"),
      s"not pushed to scan:\n$physical")
    // correctness unchanged vs rule off
    val n = q.collect()(0).getLong(0)
    spark.conf.set("spark.graft.bboxSkipping.enabled", "false")
    val m = try q.collect()(0).getLong(0)
      finally spark.conf.set("spark.graft.bboxSkipping.enabled", "true")
    assert(n == m && n > 0)
  }

  test("appendAndRecluster restores pruning quality after appends") {
    val base = spark.sql("""
      SELECT id, st_generatepoint(11L, id, 0.0d, 0.0d, 1000.0d, 1000.0d) AS geom
      FROM range(20000)""")
    GeoWriter.clusteredParquet(base, "geom", s"$dir/app", targetPartitions = 8)
    val widthBefore = {
      val info = GeoMeta.clusterInfo(spark, s"$dir/app", "geom").collect()
      info.map(r => r.getDouble(5) - r.getDouble(3)).sum / info.length
    }
    // append a fresh batch scattered over the full extent and re-cluster
    val extra = spark.sql("""
      SELECT id + 100000 AS id, st_generatepoint(13L, id, 0.0d, 0.0d, 1000.0d, 1000.0d) AS geom
      FROM range(5000)""")
    GeoWriter.appendAndRecluster(extra, "geom", s"$dir/app", targetPartitions = 8)

    val table = spark.read.parquet(s"$dir/app")
    assert(table.count() == 25000, "append lost rows")
    assert(table.columns.contains("geom_bbox"), "bbox sidecar regenerated")
    // pruning quality: per-file bbox widths stay in the clustered band —
    // scattered appends without re-clustering would push files toward the
    // full 1000-wide extent
    val info = GeoMeta.clusterInfo(spark, s"$dir/app", "geom").collect()
    val widthAfter = info.map(r => r.getDouble(5) - r.getDouble(3)).sum / info.length
    assert(widthAfter < 900.0 && widthAfter < widthBefore * 1.5,
      s"re-cluster lost locality: before=$widthBefore after=$widthAfter")
    // skipping still correct + GeoParquet footer regenerated
    table.createOrReplaceTempView("app_clustered")
    val n = spark.sql("""
      SELECT count(*) FROM app_clustered
      WHERE st_within(geom, st_makeenvelope(100.0d, 100.0d, 150.0d, 150.0d))""")
      .collect()(0).getLong(0)
    assert(n > 0)
    val meta = GeoMeta.readMeta(spark, s"$dir/app").collect()(0)
    assert(meta.getAs[String]("geo_metadata") != null, "GeoParquet footer missing after swap")
  }

  test("deleteWhere: partition-rewrite deletes keep untouched files and pruning intact") {
    val pts = spark.sql("""
      SELECT id, st_generatepoint(17L, id, 0.0d, 0.0d, 1000.0d, 1000.0d) AS geom
      FROM range(20000)""")
    GeoWriter.clusteredParquet(pts, "geom", s"$dir/del", targetPartitions = 8)
    val before = spark.read.parquet(s"$dir/del")
    val total = before.count()
    val inWindow = before
      .where("st_within(geom, st_makeenvelope(0.0d, 0.0d, 120.0d, 120.0d))").count()
    assert(inWindow > 0 && inWindow < total)
    val files = new java.io.File(s"$dir/del").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toMap

    val removed = GeoWriter.deleteWhere(spark, s"$dir/del",
      "st_within(geom, st_makeenvelope(0.0d, 0.0d, 120.0d, 120.0d))")
    assert(removed == inWindow, s"removed $removed, expected $inWindow")

    val after = spark.read.parquet(s"$dir/del")
    assert(after.count() == total - inWindow, "row count after delete")
    assert(after.where("st_within(geom, st_makeenvelope(0.0d, 0.0d, 120.0d, 120.0d))")
      .count() == 0, "deleted window still has rows")
    // Hilbert clustering means the delete window touches FEW files; the rest
    // must be byte-identical (same mtime) — that's the point of
    // partition-rewrite over full re-cluster
    val filesAfter = new java.io.File(s"$dir/del").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toMap
    val untouched = filesAfter.count { case (n, m) => files.get(n).contains(m) }
    assert(untouched > 0, "every file was rewritten — partition pruning not applied")
    // bbox skipping still consistent with rule off
    after.createOrReplaceTempView("del_t")
    val q = "SELECT count(*) FROM del_t WHERE st_within(geom, st_makeenvelope(200.0d, 200.0d, 400.0d, 400.0d))"
    val n = spark.sql(q).collect()(0).getLong(0)
    spark.conf.set("spark.graft.bboxSkipping.enabled", "false")
    val m = try spark.sql(q).collect()(0).getLong(0)
      finally spark.conf.set("spark.graft.bboxSkipping.enabled", "true")
    assert(n == m && n > 0)
    // GeoParquet footer survived the rewrite
    val meta = GeoMeta.readMeta(spark, s"$dir/del").collect()(0)
    assert(meta.getAs[String]("geo_metadata") != null, "geo footer lost by deleteWhere")
  }

  test("updateWhere: partition-rewrite updates leave untouched files byte-identical") {
    val pts = spark.sql("""
      SELECT id, 0 AS flagged, st_generatepoint(19L, id, 0.0d, 0.0d, 1000.0d, 1000.0d) AS geom
      FROM range(20000)""")
    GeoWriter.clusteredParquet(pts, "geom", s"$dir/upd", targetPartitions = 8)
    val pred = "st_within(geom, st_makeenvelope(0.0d, 0.0d, 150.0d, 150.0d))"
    val expect = spark.read.parquet(s"$dir/upd").where(pred).count()
    assert(expect > 0)
    val files = new java.io.File(s"$dir/upd").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toMap

    val n = GeoWriter.updateWhere(spark, s"$dir/upd", pred, Map("flagged" -> "1"))
    assert(n == expect, s"updated $n, expected $expect")

    val after = spark.read.parquet(s"$dir/upd")
    assert(after.count() == 20000, "update changed row count")
    assert(after.where("flagged = 1").count() == expect)
    assert(after.where(s"flagged = 1 AND NOT ($pred)").count() == 0, "update leaked outside predicate")
    val filesAfter = new java.io.File(s"$dir/upd").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toMap
    assert(filesAfter.count { case (nm, m) => files.get(nm).contains(m) } > 0,
      "every file was rewritten — partition pruning not applied")
    val meta = GeoMeta.readMeta(spark, s"$dir/upd").collect()(0)
    assert(meta.getAs[String]("geo_metadata") != null, "geo footer lost by updateWhere")
  }

  test("geojsonl writer round-trips through the geo reader") {
    val df = spark.sql(
      "SELECT id, concat('n', id) AS name, st_point(cast(id AS DOUBLE), 1.0d) AS geom FROM range(5)")
    GeoWriter.geojsonl(df, "geom", s"$dir/out_gj")
    // rename part files so the geo reader picks them up by extension
    val d = new java.io.File(s"$dir/out_gj")
    d.listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
      f.renameTo(new java.io.File(d, f.getName + ".geojsonl"))
    }
    val back = spark.read.format("geo").load(s"$dir/out_gj")
    back.createOrReplaceTempView("gjback")
    val rows = spark.sql(
      "SELECT properties['id'] AS id, properties['name'] AS name, st_astext(geom) AS wkt FROM gjback ORDER BY id").collect()
    assert(rows.length == 5)
    assert(rows(0).getString(1) == "n0" && rows(0).getString(2) == "POINT (0 1)")
  }

  test("meta helpers: drivers, read_meta") {
    assert(GeoMeta.drivers(spark).count() == 22)
    val meta = GeoMeta.readMeta(spark, s"$dir/out_gj").collect()(0)
    assert(meta.getString(1) == "geojsonl" && meta.getInt(2) >= 1)
    // both are also SQL table functions, like the reference's surface
    Graft.register(spark)
    assert(spark.sql("SELECT count(*) FROM st_drivers()").collect()(0).getLong(0) == 22L)
    assert(spark.sql(s"SELECT driver FROM st_read_meta('$dir/out_gj')")
      .collect()(0).getString(0) == "geojsonl")
    // geojson-family CRS is spec-fixed CRS84, reported in the detail struct
    val d = meta.getAs[org.apache.spark.sql.Row]("crs_detail")
    assert(d.getString(1) == "OGC" && d.getString(2) == "CRS84" && d.getString(4) != null)
  }

  test("read_meta crs_detail: .prj authority + FGB header vs reference fixtures") {
    val shp = "/root/reference/test/data/nyc_taxi/taxi_zones/taxi_zones.shp"
    TestFiles.assumeFile(shp)
    val d = GeoMeta.readMeta(spark, shp).collect()(0).getAs[org.apache.spark.sql.Row]("crs_detail")
    // taxi_zones.prj: NAD83 / New York Long Island (ftUS), EPSG:2263
    assert(d.getString(0) != null && d.getString(0).contains("Long_Island"), d.toString)
    assert(d.getString(3) != null && d.getString(3).startsWith("PROJCS"), "wkt carried")

    val fgb = "/root/reference/test/data/amsterdam_roads.fgb"
    TestFiles.assumeFile(fgb)
    val f = GeoMeta.readMeta(spark, fgb).collect()(0)
    val fd = f.getAs[org.apache.spark.sql.Row]("crs_detail")
    // the GDAL-written fixture stamps org:code in the FGB header Crs table
    assert(f.getAs[String]("crs") != null && f.getAs[String]("crs").contains(":"),
      String.valueOf(f.getAs[String]("crs")))
    assert(fd.getString(2) != null && fd.getString(2).forall(_.isDigit), fd.toString)
  }
}

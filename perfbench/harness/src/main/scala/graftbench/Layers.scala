package graftbench

import graft.Graft
import graftbench.Main.median
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Layer probes that time single entry points on fixed seeded inputs:
  * the `st_*` kernels and the geo writers/readers. */
object Layers {
  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Irregular pentagons around random anchors: distinct values on every row. */
  private val polygonSql: String =
    s"""concat('POLYGON((', x, ' ', y, ', ', x + w, ' ', y, ', ', x + 1.2d * w, ' ', y + 0.6d * w,
       |', ', x + 0.5d * w, ' ', y + w, ', ', x - 0.1d * w, ' ', y + 0.5d * w, ', ', x, ' ', y, '))')""".stripMargin

  private def anchors(spark: SparkSession, rows: Int, seed: Long): DataFrame =
    spark.range(rows).selectExpr("id",
      s"rand(${seed}) * 1000.0d AS x", s"rand(${seed + 1}) * 1000.0d AS y",
      s"rand(${seed + 2}) * 9.0d + 1.0d AS w")

  val functionExprs: Seq[(String, String)] = Seq(
    "st_geomfromtext" -> "st_geomfromtext(wkt)",
    "st_astext" -> "st_astext(g)",
    "st_aswkb" -> "st_aswkb(g)",
    "st_buffer" -> "st_buffer(g, 0.5d)",
    "st_transform" -> "st_transform(pt, 'OGC:CRS84', 'EPSG:3857')",
    "st_maximuminscribedcircle" -> "st_maximuminscribedcircle(g, 0.01d)",
    "st_split" -> "st_split(line, blade)",
    "st_dumppoints" -> "st_dumppoints(g)")

  /** Per kernel: a projection-only query over a materialized input, timed
    * with the memos cleared (cold) and then as the cold run left them (warm).
    * Each figure is the median of `reps` cold/warm pairs, in µs per row. */
  def functions(spark: SparkSession, rows: Int, seed: Long, reps: Int): Map[String, Double] = {
    val input = anchors(spark, rows, seed)
      .selectExpr("*", s"$polygonSql AS wkt",
        "x * 0.36d - 180.0d AS lon", "y * 0.17d - 85.0d AS lat")
      .selectExpr("wkt", "st_geomfromtext(wkt) AS g", "st_point(lon, lat) AS pt",
        "st_makeline(st_point(x, y), st_point(x + w, y)) AS line",
        "st_point(x + 0.5d * w, y) AS blade")
      .localCheckpoint(eager = true)
    try functionExprs.flatMap { case (fn, expr) =>
      val q = input.selectExpr(s"$expr AS r")
      val pairs = (1 to reps).map { _ =>
        Graft.clearKernelMemos()
        val cold = secs(q.queryExecution.toRdd.count())
        val warm = secs(q.queryExecution.toRdd.count())
        (cold, warm)
      }
      Seq(s"functions.$fn.cold_us_per_row" -> median(pairs.map(_._1)) * 1e6 / rows,
          s"functions.$fn.warm_us_per_row" -> median(pairs.map(_._2)) * 1e6 / rows)
    }.toMap
    finally input.unpersist()
  }

  val formats: Seq[(String, String)] =
    Seq("parquet" -> "parquet", "fgb" -> "fgb", "gpkg" -> "gpkg", "shp" -> "shp", "geojson" -> "geojson")

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum else f.length

  /** Per format: write a fixed seeded frame through `GeoWriter.copy`, read it
    * back, and check the row count. Medians of `reps`. */
  def io(spark: SparkSession, dir: File, rows: Int, seed: Long, reps: Int): Map[String, Double] = {
    val frame = anchors(spark, rows, seed)
      .selectExpr("id AS k", "concat('feature ', id) AS name",
        s"st_aswkb(st_geomfromtext($polygonSql)) AS geom")
      .localCheckpoint(eager = true)
    try formats.flatMap { case (fmt, ext) =>
      val runs = (1 to reps).map { rep =>
        val out = new File(dir, s"$fmt-$rep")
        out.mkdirs()
        val path = new File(out, s"frame.$ext").getPath
        val w = secs(graft.io.GeoWriter.copy(frame, "geom", path, Map("DRIVER" -> fmt)))
        var n = 0L
        // st_read does not open GeoParquet: Spark's reader plus the WKB decode
        val back =
          if (fmt == "parquet") spark.read.parquet(path).selectExpr("k", "name", "st_geomfromwkb(geom) AS geom")
          else spark.sql(s"SELECT * FROM st_read('$path')")
        val r = secs { n = back.queryExecution.toRdd.count() }
        require(n == rows, s"io.$fmt read back $n rows of $rows")
        (w, r, bytesUnder(out).toDouble / rows)
      }
      Seq(s"io.$fmt.write_s" -> median(runs.map(_._1)),
          s"io.$fmt.read_s" -> median(runs.map(_._2)),
          s"io.$fmt.bytes_per_row" -> median(runs.map(_._3)))
    }.toMap
    finally frame.unpersist()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Path resolution for the geo DSv2 source at ingest scale: recursive
  * directory trees (partitioned `year=.../part-N` layouts), glob patterns,
  * and multi-path load() — the shapes a 100 TB corpus actually arrives in.
  * Listing is driver-side names-only; content reads stay on executors. */
class GeoPathsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private lazy val dir: String = {
    val d = suiteTempDir("graft_paths").toString
    def put(rel: String, n: Int, base: Int): Unit = {
      val p = Paths.get(d, rel)
      Files.createDirectories(p.getParent)
      val lines = (0 until n).map { i =>
        s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[${base + i},1]},"properties":{"k":${base + i}}}"""
      }
      Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    }
    put("year=2023/part-0.geojsonl", 3, 0)
    put("year=2023/part-1.geojsonl", 2, 100)
    put("year=2024/part-0.geojsonl", 4, 200)
    put("other/notes.txt", 0, 0) // must be ignored by extension filter
    Files.write(Paths.get(d, "README.md"), "not geo\n".getBytes("UTF-8"))
    d
  }

  test("directory load is recursive and extension-filtered") {
    val df = spark.read.format("geo").load(dir)
    assert(df.count() == 9)
    assert(df.selectExpr("max(cast(k AS BIGINT))").head().getLong(0) == 203L)
  }

  test("glob within a segment selects matching subtrees only") {
    val df = spark.read.format("geo").load(s"$dir/year=2023/part-*.geojsonl")
    assert(df.count() == 5)
    val df24 = spark.read.format("geo").load(s"$dir/year=*/part-0.geojsonl")
    assert(df24.count() == 7) // part-0 of both years
  }

  test("** crosses directory levels") {
    val df = spark.read.format("geo").load(s"$dir/**/part-1.geojsonl")
    assert(df.count() == 2)
  }

  test("multi-path load() unions expansions") {
    val df = spark.read.format("geo")
      .load(s"$dir/year=2023/part-0.geojsonl", s"$dir/year=2024")
    assert(df.count() == 7)
  }

  test("paths JSON array parsing handles escapes; non-JSON passes through") {
    import graft.io.GeoFiles
    assert(GeoFiles.parseJsonStringArray("""["/a/b.shp","/c d/e.shp"]""") ==
      Seq("/a/b.shp", "/c d/e.shp"))
    assert(GeoFiles.parseJsonStringArray("""["/a/é.shp","x\\y"]""") ==
      Seq("/a/é.shp", "x\\y"))
    assert(GeoFiles.parseJsonStringArray("/plain/path.shp") == Seq("/plain/path.shp"))
  }

  test("a glob matching nothing fails loudly") {
    val e = intercept[IllegalArgumentException](
      spark.read.format("geo").load(s"$dir/year=1999/*.geojsonl"))
    assert(e.getMessage.contains("no files match"))
  }

  // ---------------------------------------------- Hive-style partition columns

  test("k=v path segments become typed partition columns with per-file values") {
    val df = spark.read.format("geo").load(dir)
    assert(df.schema.fields.exists(f =>
      f.name == "year" && f.dataType == org.apache.spark.sql.types.LongType))
    val byYear = df.groupBy("year").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byYear == Map(2023L -> 5L, 2024L -> 4L))
  }

  test("partition filters prune at the FILE level before any content read") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = spark.read.format("geo").load(dir).filter("year = 2024")
    assert(df.count() == 4)
    val scanned = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec =>
        b.scan.toBatch.planInputPartitions()
          .map(_.asInstanceOf[Product].productElement(0).toString).distinct
    }.get
    assert(scanned.length == 1 && scanned.head.contains("year=2024"), scanned.mkString(","))
  }

  test("string partition values unescape %XX; range and IN filters prune") {
    val d = tempDir("graft_parts").toString
    def put(rel: String, k: Int): Unit = {
      val p = Paths.get(d, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$k,1]},"properties":{"k":$k}}"""
        .getBytes("UTF-8"))
    }
    put("src=common%20crawl/part-0.geojsonl", 1)
    put("src=wiki/part-0.geojsonl", 2)
    put("src=books/part-0.geojsonl", 3)
    val df = spark.read.format("geo").load(d)
    assert(df.schema("src").dataType == org.apache.spark.sql.types.StringType)
    assert(df.filter("src = 'common crawl'").count() == 1)
    assert(df.filter("src IN ('wiki', 'books')").count() == 2)
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scanned = df.filter("src = 'wiki'").queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec =>
        b.scan.toBatch.planInputPartitions()
          .map(_.asInstanceOf[Product].productElement(0).toString).distinct
    }.get
    assert(scanned.length == 1 && scanned.head.contains("src=wiki"))
  }

  test("a data column shadows a same-named path key (no partition column, no mis-pruning)") {
    val d = tempDir("graft_shadow").toString
    val p = Paths.get(d, "k=9", "f.geojsonl")
    Files.createDirectories(p.getParent)
    Files.write(p, """{"type":"Feature","geometry":{"type":"Point","coordinates":[5,1]},"properties":{"k":123}}"""
      .getBytes("UTF-8"))
    val df = spark.read.format("geo").load(d)
    // exactly one k column, carrying the DATA value
    assert(df.schema.fields.count(_.name == "k") == 1)
    assert(df.selectExpr("cast(k AS BIGINT)").head().getLong(0) == 123L)
    assert(df.filter("k = 123").count() == 1)
    assert(df.filter("k = 9").count() == 0)
  }

  test("partitioned writer round-trips through the reader (escaping, nulls, pruning)") {
    Graft.register(spark)
    val d = tempDir("graft_pwrite").toString + "/tree"
    val df = spark.sql("""
      SELECT CAST(id AS BIGINT) AS k,
             CASE WHEN id % 3 = 0 THEN 'common crawl' WHEN id % 3 = 1 THEN 'wiki' ELSE NULL END AS src,
             CAST(2020 + id % 2 AS BIGINT) AS year,
             st_aswkb(st_point(CAST(id AS DOUBLE), CAST(id % 7 AS DOUBLE))) AS geom
      FROM range(0, 60)""")
    graft.io.GeoWriter.geojsonlPartitioned(df, "geom", d, Seq("src", "year"))
    val back = spark.read.format("geo").load(d)
    // partition columns come back typed; properties exclude them
    assert(back.schema("year").dataType == org.apache.spark.sql.types.LongType)
    assert(back.count() == 60)
    assert(back.filter("src = 'common crawl'").count() == 20)
    assert(back.filter("src IS NULL").count() == 20)
    assert(back.filter("year = 2021 AND src = 'wiki'").count() == 10)
    // values survive: x == k, and src/year round-trip against k's arithmetic
    val bad = back.selectExpr("cast(k AS BIGINT) AS k", "src", "year", "st_x(geom) AS x")
      .collect().filter { r =>
        val k = r.getLong(0)
        val wantSrc = if (k % 3 == 0) "common crawl" else if (k % 3 == 1) "wiki" else null
        r.getDouble(3) != k.toDouble || r.getAs[String]("src") != wantSrc ||
          r.getLong(2) != 2020 + k % 2
      }
    assert(bad.isEmpty, bad.take(3).mkString(","))
    // file-level pruning fires on the graft-written tree
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scanned = back.filter("src = 'wiki' AND year = 2020").queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec =>
        b.scan.toBatch.planInputPartitions()
          .map(_.asInstanceOf[Product].productElement(0).toString).distinct
    }.get
    assert(scanned.forall(p => p.contains("src=wiki") && p.contains("year=2020")), scanned.mkString(","))
  }

  test("streamed reads of a partitioned tree carry partition columns") {
    val d = tempDir("graft_stream_parts").toString
    val p = Paths.get(d, "year=2025", "f.geojsonl")
    Files.createDirectories(p.getParent)
    Files.write(p, """{"type":"Feature","geometry":{"type":"Point","coordinates":[7,1]},"properties":{"k":7}}"""
      .getBytes("UTF-8"))
    val stream = spark.readStream.format("geo").load(d)
    val q = stream.writeStream.format("memory").queryName("parts_stream")
      .option("checkpointLocation", tempDir("graft_cp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("parts_stream").selectExpr("year", "cast(k AS BIGINT)").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 2025L && rows.head.getLong(1) == 7L)
  }
}

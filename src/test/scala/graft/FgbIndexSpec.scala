package graft

import graft.io.{FlatGeobuf, FlatGeobufWriter, GeoWriter}
import org.scalatest.funsuite.AnyFunSuite

/** FlatGeobuf packed Hilbert R-tree: writer emission, reader traversal, and
  * the BboxSkippingRule pushdown into the DSv2 scan. The GDAL-written
  * amsterdam_roads.fgb from the reference checkout's test data validates
  * layout assumptions against an external producer (the reference reads the
  * same file via GDAL). The repo does not hold it and it cannot be rebuilt
  * without GDAL, so that test is canceled where the file is absent; the
  * others run on graft-written files. */
class FgbIndexSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private val amsterdam = "/root/reference/test/data/amsterdam_roads.fgb"

  test("searchIndex on a GDAL-written file prunes to a small candidate set") {
    TestFiles.assumeFile(amsterdam)
    val header = FlatGeobuf.readHeader(amsterdam)
    assume(header.indexNodeSize > 0, "fixture has no index")
    val total = header.featuresCount
    // a few-hundred-meter window near the data center (fixture is in Web
    // Mercator meters)
    val (x0, y0, x1, y1) = (554000.0, 6859000.0, 554400.0, 6859400.0)
    val cands = FlatGeobuf.searchIndex(amsterdam, x0, y0, x1, y1).get
    assert(cands.nonEmpty, "window should hit some roads")
    assert(cands.size < total / 4, s"pruning too weak: ${cands.size} of $total")
    // filtered read returns exactly the full-scan features whose bbox
    // intersects the window
    def hits(f: FlatGeobuf.FgbFeature): Boolean = f.geom != null && {
      val e = f.geom.getEnvelopeInternal
      e.getMinX <= x1 && e.getMaxX >= x0 && e.getMinY <= y1 && e.getMaxY >= y0
    }
    val expected = FlatGeobuf.readFeatures(amsterdam).filter(hits).map(_.geom.toText).toSet
    val got = FlatGeobuf.readFeaturesFiltered(amsterdam, x0, y0, x1, y1)
      .filter(hits).map(_.geom.toText).toSet
    assert(got == expected, s"filtered read diverges: ${got.size} vs ${expected.size}")
  }

  test("graft-written index round-trips and prunes") {
    val dir = tempDir("graft_fgbidx").toString
    val df = spark.range(5000).selectExpr(
      "cast(id as int) AS fid",
      "st_aswkb(st_point(cast(id % 100 as double), cast((id * 37) % 100 as double))) AS geom")
    GeoWriter.flatgeobuf(df, "geom", s"$dir/pts.fgb", singleFile = true)

    val header = FlatGeobuf.readHeader(s"$dir/pts.fgb")
    assert(header.indexNodeSize == 16, "writer should emit an index by default")
    assert(header.featuresCount == 5000)

    // full scan sees everything
    assert(FlatGeobuf.readFeatures(s"$dir/pts.fgb").size == 5000)
    // a 10x10 window of the 100x100 grid must prune hard
    val cands = FlatGeobuf.searchIndex(s"$dir/pts.fgb", 0, 0, 9.5, 9.5).get
    assert(cands.size < 1500, s"pruning too weak: ${cands.size} of 5000")
    val exact = FlatGeobuf.readFeaturesFiltered(s"$dir/pts.fgb", 0, 0, 9.5, 9.5)
      .count(f => f.geom != null && {
        val c = f.geom.getCoordinate; c.x <= 9.5 && c.y <= 9.5
      })
    val expected = FlatGeobuf.readFeatures(s"$dir/pts.fgb")
      .count(f => { val c = f.geom.getCoordinate; c.x <= 9.5 && c.y <= 9.5 })
    assert(exact == expected && expected > 0, s"$exact vs $expected")
  }

  test("intra-file range splits cover the file exactly once") {
    val dir = tempDir("graft_fgbsplit").toString
    val df = spark.range(8000).selectExpr(
      "cast(id as int) AS fid",
      "st_aswkb(st_point(cast(id % 200 as double), cast((id * 7) % 200 as double))) AS geom")
    GeoWriter.flatgeobuf(df, "geom", s"$dir/pts.fgb", singleFile = true)

    val splits = FlatGeobuf.splitOffsets(s"$dir/pts.fgb", targetBytes = 64 << 10)
    assert(splits.size > 2, s"expected multiple ranges, got $splits")
    assert(splits.head._1 == 0 && splits.last._2 == -1)
    // ranges are contiguous and their union equals the full scan
    splits.sliding(2).foreach { case Seq(a, b) => assert(a._2 == b._1, s"$a !~ $b") }
    val viaRanges = splits.flatMap { case (f0, t0) =>
      FlatGeobuf.readFeaturesRange(s"$dir/pts.fgb", f0, t0).map(_.properties("fid"))
    }
    val full = FlatGeobuf.readFeatures(s"$dir/pts.fgb").map(_.properties("fid")).toSeq
    assert(viaRanges.size == 8000 && viaRanges.sorted == full.sorted)
    // Spark scan picks up the splits once the target drops below file size
    spark.conf.set("spark.sql.files.maxPartitionBytes", (64 << 10).toString)
    try {
      val scan = spark.read.format("geo").load(s"$dir/pts.fgb")
      assert(scan.rdd.getNumPartitions > 2, s"partitions=${scan.rdd.getNumPartitions}")
      assert(scan.count() == 8000)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("SQL bbox filter pushes the window into the fgb scan") {
    val dir = tempDir("graft_fgbsql").toString
    val df = spark.range(2000).selectExpr(
      "cast(id as int) AS fid",
      "st_aswkb(st_point(cast(id % 50 as double), cast((id * 13) % 50 as double))) AS geom")
    GeoWriter.flatgeobuf(df, "geom", s"$dir/pts.fgb", singleFile = true)

    spark.read.format("geo").load(s"$dir/pts.fgb").createOrReplaceTempView("fgb_pts")
    // st_intersects keeps closed-boundary semantics, matching the brute count
    val q = spark.sql(
      "SELECT count(*) AS n FROM fgb_pts WHERE st_intersects(st_geomfromwkb(geom), st_makeenvelope(10.0d, 10.0d, 20.0d, 20.0d))")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("bbox=["), s"window not pushed:\n$plan")
    val n = q.collect()(0).getLong(0)
    val expected = spark.sql(
      "SELECT count(*) FROM fgb_pts").collect()(0).getLong(0) // sanity: table readable
    assert(expected == 2000)
    // independent expectation: points with 10<=x<=20, 10<=y<=20
    val brute = (0 until 2000).count { id =>
      val x = id % 50; val y = (id * 13) % 50
      x >= 10 && x <= 20 && y >= 10 && y <= 20
    }
    assert(n == brute, s"pushdown changed results: $n vs $brute")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reader-level spatial filter — reference st_read's `spatial_filter_box`
  * named param (st_read.cpp:623-631): `.option("bbox", "minx,miny,maxx,maxy")`
  * excludes features whose envelope misses the window, for every format, even
  * when the projection pruned the geometry column away. */
class BboxOptionSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  private lazy val gj: String = {
    val dir = suiteTempDir("graft_bbox")
    val p = dir.resolve("pts.geojsonl")
    val lines = (1 to 20).map(i =>
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$i,$i]},"properties":{"n":"$i"}}""")
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  test("bbox option filters rows; exact window via .where still composes") {
    val df = spark.read.format("geo").option("bbox", "5,5,10,10").load(gj)
    assert(df.count() == 6) // points 5..10
    val names = df.selectExpr("properties['n'] AS n").collect().map(_.getString(0)).map(_.toInt).sorted
    assert(names.toSeq == (5 to 10).toSeq)
    // count(*) (geometry pruned from the projection) must still honor the box
    assert(spark.read.format("geo").option("bbox", "1,1,3,3").load(gj)
      .selectExpr("count(*)").collect()(0).getLong(0) == 3)
  }

  test("bbox on the flatgeobuf index path prunes before materializing") {
    val dir = tempDir("graft_bbox_fgb").toString
    Graft.register(spark)
    val pts = spark.sql(
      "SELECT id, st_aswkb(st_point(cast(id AS DOUBLE), cast(id AS DOUBLE))) AS geom FROM range(1, 101)")
    graft.io.GeoWriter.flatgeobuf(pts, "geom", s"$dir/pts.fgb", singleFile = true)
    val n = spark.read.format("geo").option("bbox", "10,10,20,20").load(s"$dir/pts.fgb").count()
    assert(n == 11, s"expected 11, got $n")
  }

  test("malformed bbox fails loudly") {
    val err = intercept[Exception] {
      spark.read.format("geo").option("bbox", "1,2,3").load(gj).collect()
    }
    assert(err.getMessage.contains("bbox option expects"), err.getMessage)
  }
}

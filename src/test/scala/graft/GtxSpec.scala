package graft

import graft.geom.Gtx
import org.scalatest.funsuite.AnyFunSuite

/** GTX vertical grids (`+geoidgrids=`): byte-level format assertions against
  * the published header layout (PROJ gtx driver / NOAA VDatum: 40-byte
  * big-endian header — lat0, lon0, dLat, dLon as float64, rows, cols as
  * int32 — then row-major float32 undulations from the south-west corner),
  * exact-bilinear interpolation, and the end-to-end orthometric ↔
  * ellipsoidal height chain through ST_Transform. */
class GtxSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  /** hand-assembled fixture: 3x4 grid, lat0=30 lon0=250 (east-longitude
    * convention), 1-degree spacing, N(c,r) = 40 + 0.25c + 0.125r (exact in
    * float32) */
  private def fixtureBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(40 + 4 * 12).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putDouble(30.0).putDouble(250.0).putDouble(1.0).putDouble(1.0)
    bb.putInt(3).putInt(4)
    for (r <- 0 until 3; c <- 0 until 4) bb.putFloat((40.0 + 0.25 * c + 0.125 * r).toFloat)
    bb.array()
  }

  test("parse: header fields and node ordering match the published layout") {
    val g = Gtx.parse(fixtureBytes, "fix")
    assert(g.lat0 == 30.0 && g.lon0 == 250.0 && g.dLat == 1.0 && g.dLon == 1.0)
    assert(g.rows == 3 && g.cols == 4)
    // south-west corner first, west-to-east: node (r=0,c=3) is the 4th value
    assert(g.values(3) == 40.75f)
    // second row starts at index cols
    assert(g.values(4) == 40.125f)
    // round-trip through the writer
    val g2 = Gtx.parse(Gtx.write(g), "fix2")
    assert(g2.values.toSeq == g.values.toSeq && g2.rows == g.rows)
  }

  test("undulation: bilinear between nodes, exact on binary fractions") {
    val g = Gtx.parse(fixtureBytes, "fix")
    // node hits are exact (query in the grid's own 0..360 frame)
    assert(g.undulation(250.0, 30.0) == 40.0)
    assert(g.undulation(253.0, 32.0) == 40.75 + 0.25)
    // quarter-cell bilinear: N is affine in lon and lat, so interpolation
    // reproduces the field exactly
    assert(g.undulation(250.25, 30.5) == 40.0 + 0.25 * 0.25 + 0.125 * 0.5)
    // [-180, 180] query longitudes normalize onto the 0..360 header frame
    assert(g.undulation(-110.0 + 0.75, 31.0) == 40.0 + 0.25 * 0.75 + 0.125)
  }

  test("undulation: outside coverage and no-data cells fail loudly") {
    val g = Gtx.parse(fixtureBytes, "fix")
    val e1 = intercept[IllegalArgumentException](g.undulation(260.0, 31.0))
    assert(e1.getMessage.contains("outside the +geoidgrids coverage"))
    val e2 = intercept[IllegalArgumentException](g.undulation(250.0, 40.0))
    assert(e2.getMessage.contains("outside"))
    // poison one node and query its cell
    val bad = fixtureBytes
    java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.BIG_ENDIAN).putFloat(40, Gtx.NoData)
    val gBad = Gtx.parse(bad, "bad")
    assert(intercept[IllegalArgumentException](gBad.undulation(250.1, 30.1))
      .getMessage.contains("no-data"))
    // header sanity: implausible dimensions rejected
    val junk = java.nio.ByteBuffer.allocate(48).order(java.nio.ByteOrder.BIG_ENDIAN)
      .putDouble(30).putDouble(0).putDouble(-1).putDouble(1).putInt(3).putInt(4).array()
    assert(intercept[IllegalArgumentException](Gtx.parse(junk, "junk"))
      .getMessage.contains("implausible"))
  }

  private lazy val gridPath: String = {
    val vals = new Array[Float](3 * 4)
    for (r <- 0 until 3; c <- 0 until 4) vals(r * 4 + c) = (40.0 + 0.25 * c + 0.125 * r).toFloat
    val p = suiteTempDir("graft_gtx_spec").resolve("spec.gtx")
    java.nio.file.Files.write(p, Gtx.write(Gtx.Grid(30.0, 250.0, 1.0, 1.0, 3, 4, vals, "spec")))
    p.toString
  }

  test("ST_Transform: orthometric to ellipsoidal adds N, reverse subtracts") {
    val crs = s"+proj=longlat +datum=WGS84 +geoidgrids=$gridPath"
    val r = spark.sql(
      s"""SELECT st_z(st_transform(st_force3dz(st_point(-109.5d, 31.0d), 100.0d),
         |  '$crs', 'OGC:CRS84')) AS up,
         |  st_z(st_transform(st_force3dz(st_point(-109.5d, 31.0d), 100.0d),
         |  'OGC:CRS84', '$crs')) AS down""".stripMargin).collect()(0)
    // N(-109.5, 31) = 40 + 0.25*0.5 + 0.125*1 = 40.25
    assert(r.getDouble(0) == 140.25, s"up=${r.getDouble(0)}")
    assert(r.getDouble(1) == 100.0 - 40.25, s"down=${r.getDouble(1)}")
  }

  test("ST_Transform: vertical chain composes with a horizontal projection") {
    val crs = s"+proj=longlat +datum=WGS84 +geoidgrids=$gridPath"
    val r = spark.sql(
      s"""SELECT st_x(g) AS x, st_y(g) AS y, st_z(g) AS z FROM (SELECT
         |  st_transform(st_force3dz(st_point(-109.0d, 31.0d), 50.0d),
         |    '$crs', '+proj=utm +zone=12 +ellps=WGS84') AS g)""".stripMargin).collect()(0)
    // horizontal agrees with the plain UTM transform of the same point
    val p = spark.sql(
      """SELECT st_x(g) AS x, st_y(g) AS y FROM (SELECT
        |  st_transform(st_point(-109.0d, 31.0d), 'OGC:CRS84', 'EPSG:32612') AS g)""".stripMargin)
      .collect()(0)
    assert(math.abs(r.getDouble(0) - p.getDouble(0)) < 1e-6)
    assert(math.abs(r.getDouble(1) - p.getDouble(1)) < 1e-6)
    // N(-109, 31) = 40 + 0.25*1 + 0.125*1 = 40.375
    assert(r.getDouble(2) == 50.0 + 40.375, s"z=${r.getDouble(2)}")
  }

  test("ST_Transform: 2D geometries pass through a vertical CRS unchanged") {
    val crs = s"+proj=longlat +datum=WGS84 +geoidgrids=$gridPath"
    val r = spark.sql(
      s"""SELECT st_astext(st_transform(st_point(-109.5d, 31.0d), '$crs', 'OGC:CRS84')) AS w"""
    ).collect()(0).getString(0)
    assert(r == "POINT (-109.5 31)", r)
  }

  test("pole-to-pole global grids parse (northernmost row exactly at 90)") {
    // EGM96-style coverage: lat0=-90, 181 one-degree rows end at +90
    val bb = java.nio.ByteBuffer.allocate(40 + 4 * 181 * 4).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putDouble(-90.0).putDouble(0.0).putDouble(1.0).putDouble(90.0)
    bb.putInt(181).putInt(4)
    for (_ <- 0 until 181 * 4) bb.putFloat(10.0f)
    val g = Gtx.parse(bb.array(), "global")
    assert(g.rows == 181 && g.undulation(0.0, 90.0) == 10.0 && g.undulation(0.0, -90.0) == 10.0)
  }

  test("geoidgrids spec grammar: optional-missing and null sentinel") {
    assert(Gtx.fromGeoidgridsSpec("@/nonexistent/x.gtx,null").isEmpty)
    assert(Gtx.fromGeoidgridsSpec(s"@/nonexistent/x.gtx,$gridPath").get.size == 1)
    assert(intercept[IllegalArgumentException](Gtx.fromGeoidgridsSpec("/nonexistent/x.gtx"))
      .getMessage.contains("not found"))
  }
}

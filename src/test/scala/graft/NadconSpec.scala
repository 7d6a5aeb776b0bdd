package graft

import org.scalatest.funsuite.AnyFunSuite

/** NOAA NADCON .las/.los pair support (geom/Nadcon.scala): write → parse
  * round-trip, exact bilinear interpolation through the shared NTv2 grid
  * model, the east→west column flip, and the +nadgrids= integration. */
class NadconSpec extends AnyFunSuite with TempDirs {

  // 25x21 one-degree grid over east-lon [-110,-86] x lat [30,50]; shift
  // fields bilinear in the EAST column index with binary-fraction
  // coefficients → float32 storage and interpolation both exact
  private def demo: (String, Int, Int) = {
    val nc = 25; val nr = 21
    val la = new Array[Float](nr * nc); val lo = new Array[Float](nr * nc)
    for (r <- 0 until nr; c <- 0 until nc) {
      la(r * nc + c) = (0.5f + 0.25f * c + 0.125f * r + 0.0625f * c * r)
      lo(r * nc + c) = (1.0f + 0.125f * c + 0.25f * r - 0.03125f * c * r)
    }
    val dir = tempDir("graft_nadcon")
    val base = dir.resolve("demo").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(base + ".las"),
      graft.geom.Nadcon.writePlane(nc, nr, -110f, 1f, 30f, 1f, la))
    java.nio.file.Files.write(java.nio.file.Paths.get(base + ".los"),
      graft.geom.Nadcon.writePlane(nc, nr, -110f, 1f, 30f, 1f, lo))
    (base, nc, nr)
  }

  test("parsePair: bounds, orientation, and node flip into the NTv2 frame") {
    val (base, nc, nr) = demo
    val g = graft.geom.Nadcon.load(base + ".las")
    assert(g.subGrids.length == 1)
    val sg = g.subGrids.head
    assert(sg.nCols == nc && sg.nRows == nr)
    assert(sg.sLat == 30 * 3600.0 && sg.nLat == 50 * 3600.0)
    assert(sg.eLonW == 86 * 3600.0 && sg.wLonW == 110 * 3600.0)
    // node at east-column c=0 (lon -110, the WESTERNMOST point) must sit at
    // the flipped index nCols-1 in the west-positive frame
    assert(sg.latShiftSec(nc - 1) == 0.5f)
    assert(sg.lonShiftSecW(nc - 1) == 1.0f)
    // east-column c=24 (lon -86) → flipped index 0
    assert(sg.latShiftSec(0) == 0.5f + 0.25f * 24)
  }

  test("forward shift matches the analytic field exactly at off-node points") {
    val (base, _, _) = demo
    val g = graft.geom.Nadcon.load(base)
    for (lon <- Seq(-109.25, -100.5, -87.75); lat <- Seq(30.5, 41.25, 48.75)) {
      val cc = lon + 110.0; val rr = lat - 30.0
      val dLat = 0.5 + 0.25 * cc + 0.125 * rr + 0.0625 * cc * rr
      val dLonW = 1.0 + 0.125 * cc + 0.25 * rr - 0.03125 * cc * rr
      val (flo, fla) = g.forward(lon, lat)
      assert(flo == lon - dLonW / 3600.0, s"lon at ($lon,$lat)")
      assert(fla == lat + dLat / 3600.0, s"lat at ($lon,$lat)")
      // inverse round-trips
      val (ilo, ila) = g.inverse(flo, fla)
      assert(math.abs(ilo - lon) < 1e-11 && math.abs(ila - lat) < 1e-11)
    }
  }

  test("st_transform consumes a .las path through +nadgrids=") {
    val (base, _, _) = demo
    val spark = SparkTestSession.spark
    val r = spark.sql(s"""
      SELECT st_x(st_transform(st_point(-100.25d, 40.5d),
               '+proj=longlat +ellps=clrk66 +nadgrids=$base.las', 'OGC:CRS84')) AS x,
             st_y(st_transform(st_point(-100.25d, 40.5d),
               '+proj=longlat +ellps=clrk66 +nadgrids=$base.las', 'OGC:CRS84')) AS y""")
      .collect()(0)
    val cc = -100.25 + 110.0; val rr = 40.5 - 30.0
    val dLat = 0.5 + 0.25 * cc + 0.125 * rr + 0.0625 * cc * rr
    val dLonW = 1.0 + 0.125 * cc + 0.25 * rr - 0.03125 * cc * rr
    assert(r.getDouble(0) == -100.25 - dLonW / 3600.0)
    assert(r.getDouble(1) == 40.5 + dLat / 3600.0)
  }

  test("hand-built byte fixture: layout, sign convention, and flip are not " +
       "writer-circular") {
    // Every other test round-trips through Nadcon.writePlane, so a wrong
    // sign or column-flip assumption shared by writer and reader would
    // cancel out. This fixture is built byte-by-byte from the PUBLISHED
    // layout (NOAA TM NOS NGS-50; same layout GDAL's LOSLAS driver and
    // PROJ's loslas reader implement): record length 4*(NC+1); record 0 =
    // ident[56] + program[8] + NC,NR,NZ int32 + XMIN,DX,YMIN,DY,ANGLE
    // float32 (east-positive degrees, SW corner); records 1..NR south→north,
    // each a 4-byte row index then NC float32 west→east columns, arc-seconds;
    // .los values POSITIVE WEST. NC=23 is the minimum (4*(23+1)=96-byte
    // records) and a 23x2 grid gives distinct per-node values.
    val nc = 23; val nr = 2
    val recLen = 4 * (nc + 1)
    def plane(valueAt: (Int, Int) => Float): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(recLen * (nr + 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(String.format("%-56s", "hand-built NGS-50 fixture").getBytes("US-ASCII"))
      bb.put(String.format("%-8s", "NADCON").getBytes("US-ASCII"))
      bb.putInt(nc).putInt(nr).putInt(1)
      // SW corner lon -100 (east-positive), 0.5-degree columns; lat 35, 1-degree rows
      bb.putFloat(-100f).putFloat(0.5f).putFloat(35f).putFloat(1f).putFloat(0f)
      for (r <- 0 until nr) {
        bb.position(recLen * (r + 1))
        bb.putInt(r + 1)
        for (c <- 0 until nc) bb.putFloat(valueAt(r, c))
      }
      bb.array()
    }
    // .las node (r,c) = 10r + 0.25c arc-sec; .los node = 2 + 5r + 0.5c
    // arc-sec positive WEST (binary fractions → exact in float32)
    val las = plane((r, c) => 10f * r + 0.25f * c)
    val los = plane((r, c) => 2f + 5f * r + 0.5f * c)
    val g = graft.geom.Nadcon.parsePair(las, los, "hand")
    val sg = g.subGrids.head
    // bounds in the NTv2 west-positive arc-second frame: columns span east
    // lon [-100, -89], so wLonW = 100*3600, eLonW = 89*3600
    assert(sg.wLonW == 100 * 3600.0 && sg.eLonW == 89 * 3600.0)
    assert(sg.sLat == 35 * 3600.0 && sg.nLat == 36 * 3600.0)
    // ON-NODE absolute results, no interpolation: east column c=4 is lon
    // -98.0, row r=1 is lat 36.0 → Δlat = 10*1 + 0.25*4 = 11", Δlon_west =
    // 2 + 5*1 + 0.5*4 = 9". Positive-west means the NAD83 longitude is
    // FURTHER WEST (more negative): -98 − 9/3600.
    val (flo, fla) = g.forward(-98.0, 36.0)
    assert(fla == 36.0 + 11.0 / 3600.0, "lat shift must ADD .las seconds")
    assert(flo == -98.0 - 9.0 / 3600.0,
      "positive-west .los seconds must move longitude WESTWARD")
    // westernmost column (c=0, lon -100) vs easternmost (c=22, lon -89):
    // catches a missed or doubled column flip — the two would swap.
    val (wLo, _) = g.forward(-100.0, 35.0)   // Δlon_west = 2
    val (eLo, _) = g.forward(-89.0, 35.0)    // Δlon_west = 2 + 0.5*22 = 13
    assert(wLo == -100.0 - 2.0 / 3600.0)
    assert(eLo == -89.0 - 13.0 / 3600.0)
  }

  test("malformed input fails loudly") {
    val dir = tempDir("graft_nadcon_bad")
    val bad = dir.resolve("bad")
    java.nio.file.Files.write(java.nio.file.Paths.get(bad.toString + ".las"), new Array[Byte](40))
    java.nio.file.Files.write(java.nio.file.Paths.get(bad.toString + ".los"), new Array[Byte](40))
    val e = intercept[IllegalArgumentException](graft.geom.Nadcon.load(bad.toString))
    assert(e.getMessage.contains("truncated"))
  }
}

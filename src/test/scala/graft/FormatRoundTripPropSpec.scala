package graft

import graft.geom.Geo
import org.locationtech.jts.geom._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Randomized round-trip properties for the text-format writers with the most
  * parsing logic on the read side (MIF/MID and DXF): arbitrary geometries
  * write once through the real Spark sink and read back bit-exactly
  * (`Double.toString` is shortest-round-trip, so the text loses nothing). */
class FormatRoundTripPropSpec extends AnyFunSuite with TempDirs {

  private val f = Geo.factory
  private lazy val spark = SparkTestSession.spark

  private val ord: Gen[Double] = Gen.oneOf(
    Gen.chooseNum(-1000, 1000).map(_.toDouble),
    Gen.chooseNum(-1000.0, 1000.0),
    Gen.chooseNum(-1e7, 1e7))

  private val coord: Gen[Coordinate] = for { x <- ord; y <- ord } yield new Coordinate(x, y)

  private val point: Gen[Point] = coord.map(f.createPoint)
  private val line: Gen[LineString] =
    Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, coord)).map(cs => f.createLineString(cs.toArray))
  private val polygon: Gen[Polygon] =
    Gen.chooseNum(4, 12).flatMap(n => Gen.listOfN(n, coord)).map { cs =>
      f.createMultiPoint(cs.map(f.createPoint).toArray).convexHull() match {
        case p: Polygon => p
        case _ => f.createPolygon(Array(
          new Coordinate(0, 0), new Coordinate(1, 0), new Coordinate(1, 1), new Coordinate(0, 0)))
      }
    }
  private val multiLine: Gen[MultiLineString] =
    Gen.chooseNum(2, 4).flatMap(n => Gen.listOfN(n, line)).map(ls => f.createMultiLineString(ls.toArray))
  private val multiPoint: Gen[MultiPoint] =
    Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, coord)).map(cs => f.createMultiPoint(cs.map(f.createPoint).toArray))

  private def cases[G <: Geometry](g: Gen[G], n: Int, seed: Long): Seq[G] = {
    var s = org.scalacheck.rng.Seed(seed)
    (1 to n).map { _ =>
      val r = g.pureApply(Gen.Parameters.default, s)
      s = s.next
      r
    }
  }

  /** write all geoms through the real sink once, read back, match by index */
  private def roundTrip(geoms: Seq[Geometry],
                        write: (org.apache.spark.sql.DataFrame, String) => Unit,
                        read: String => Seq[(Int, Geometry)],
                        out: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = geoms.zipWithIndex
      .map { case (g, i) => (i, graft.geom.Wkb.write(g)) }.toDF("i", "geom")
      .select(col("i"), col("geom"))
    write(df, out)
    val back = read(out).toMap
    assert(back.size == geoms.length, s"${back.size} != ${geoms.length}")
    geoms.zipWithIndex.foreach { case (want, i) =>
      assert(back(i).equalsExact(want),
        s"case $i: wrote ${want.toText.take(120)} got ${back(i).toText.take(120)}")
    }
  }

  test("mif writer/reader round-trip 200 random geometries bit-exactly") {
    val dir = tempDir("graft_mif_prop").toString
    val geoms: Seq[Geometry] =
      cases(point, 50, 1) ++ cases(line, 50, 2) ++ cases(polygon, 40, 3) ++
        cases(multiLine, 30, 4) ++ cases(multiPoint, 30, 5)
    roundTrip(geoms,
      (df, out) => graft.io.GeoWriter.mif(df, "geom", out, singleFile = true),
      out => graft.io.MapInfoMif.features(out)
        .map(ft => ft.properties("i").toInt -> ft.geom).toSeq,
      s"$dir/p.mif")
  }

  test("dxf writer/reader round-trip 170 random geometries bit-exactly") {
    val dir = tempDir("graft_dxf_prop").toString
    // DXF write decomposes multis; use the 1-entity families and carry the
    // index in the layer column
    val geoms: Seq[Geometry] = cases(point, 60, 6) ++ cases(line, 60, 7) ++ cases(polygon, 50, 8)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = geoms.zipWithIndex
      .map { case (g, i) => (i.toString, graft.geom.Wkb.write(g)) }.toDF("layer", "geom")
      .select(col("layer"), col("geom"))
    graft.io.GeoWriter.dxf(df, "geom", s"$dir/p.dxf", singleFile = true)
    val back = graft.io.Dxf.features(s"$dir/p.dxf")
      .map(ft => ft.properties("layer").toInt -> ft.geom).toMap
    assert(back.size == geoms.length)
    geoms.zipWithIndex.foreach { case (want, i) =>
      assert(back(i).equalsExact(want),
        s"case $i: wrote ${want.toText.take(120)} got ${back(i).toText.take(120)}")
    }
  }

  test("gmt writer/reader round-trip per geometry family bit-exactly") {
    val dir = tempDir("graft_gmt_prop").toString
    // GMT declares ONE @G type per file — round-trip each family separately
    val families: Seq[(String, Seq[Geometry])] = Seq(
      ("pt", cases(point, 40, 11)), ("ln", cases(line, 40, 12)),
      ("pg", cases(polygon, 30, 13)), ("ml", cases(multiLine, 25, 14)),
      ("mp", cases(multiPoint, 25, 15)))
    families.foreach { case (tag, geoms) =>
      roundTrip(geoms,
        (df, out) => graft.io.GeoWriter.gmt(df, "geom", out, singleFile = true),
        out => graft.io.Gmt.features(out)
          .map(ft => ft.properties("i").toInt -> ft.geom).toSeq,
        s"$dir/$tag.gmt")
    }
  }

  test("mvt writer/reader round-trip integer geometries (normalized rings)") {
    val dir = tempDir("graft_mvt_prop").toString
    // the MVT grid is integral: integer ordinates round-trip exactly; ring
    // orientation is normalized by the spec's winding rule, so polygons
    // compare after norm()
    val iord: Gen[Double] = Gen.chooseNum(-2000, 2000).map(_.toDouble)
    val icoord: Gen[Coordinate] = for { x <- iord; y <- iord } yield new Coordinate(x, y)
    val ipoint = icoord.map(f.createPoint)
    val iline = Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, icoord))
      .map(cs => f.createLineString(cs.toArray))
    val ipoly = Gen.chooseNum(4, 12).flatMap(n => Gen.listOfN(n, icoord)).map { cs =>
      f.createMultiPoint(cs.map(f.createPoint).toArray).convexHull() match {
        case p: Polygon => p
        case _ => f.createPolygon(Array(
          new Coordinate(0, 0), new Coordinate(10, 0), new Coordinate(10, 10), new Coordinate(0, 0)))
      }
    }
    val geoms: Seq[Geometry] =
      cases(ipoint, 40, 21) ++ cases(iline, 40, 22) ++ cases(ipoly, 30, 23)
    val p = s"$dir/t.mvt"
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      graft.io.Mvt.writeTile("g", 4096, geoms.zipWithIndex.map { case (g, i) =>
        ((i + 1).toLong, g, Seq("i" -> i.toString))
      }))
    val back = graft.io.Mvt.features(p, None)
      .map(ft => ft.properties("i").toInt -> ft.geom).toMap
    assert(back.size == geoms.length)
    geoms.zipWithIndex.foreach { case (want, i) =>
      val got = back(i)
      val ok = want match {
        case _: Polygon => got.norm().equalsExact(want.norm())
        case _ => got.equalsExact(want)
      }
      assert(ok, s"case $i: wrote ${want.toText.take(120)} got ${got.toText.take(120)}")
    }
  }
}

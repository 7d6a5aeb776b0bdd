package graft

import graft.geom.Geo
import org.scalatest.funsuite.AnyFunSuite

/** Byte-level parity of the closed-form rectangle overlay with JTS OverlayNG
  * (round-4 advice: the fast path previously dropped intersection nodes and
  * used its own ring starts, so WKT/WKB comparisons diverged). Exhaustively
  * sweeps small-integer rectangle pairs and compares rendered text for
  * union, intersection, and difference — both argument orders. */
class RectOverlaySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def viaSql(op: String, a: String, b: String): String =
    spark.sql(s"SELECT st_astext($op(st_geomfromtext('$a'), st_geomfromtext('$b')))")
      .collect()(0).getString(0)

  private def rectWkt(x0: Int, y0: Int, x1: Int, y1: Int): String =
    s"POLYGON (($x0 $y0, $x0 $y1, $x1 $y1, $x1 $y0, $x0 $y0))"

  test("advice example: union keeps the collinear intersection nodes") {
    // JTS union of [0,4]x[0,2] and [1,2]x[0,3] keeps (1 0) and (2 0)
    val u = viaSql("st_union", rectWkt(0, 0, 4, 2), rectWkt(1, 0, 2, 3))
    val jts = Geo.fromWkt(rectWkt(0, 0, 4, 2)).union(Geo.fromWkt(rectWkt(1, 0, 2, 3))).toText
    assert(u == jts, s"graft=$u\njts=$jts")
    assert(u.contains("1 0") && u.contains("2 0"), u)
  }

  test("exhaustive small-rect sweep matches JTS text for all three overlays") {
    val coords = Seq((0, 0, 3, 3), (1, 1, 4, 4), (0, 1, 4, 2), (1, 0, 2, 4),
      (1, 1, 2, 2), (0, 0, 4, 4), (2, 0, 5, 3), (0, 2, 3, 5), (1, 2, 4, 5),
      (0, 0, 2, 2), (2, 2, 4, 4), (1, 0, 3, 5))
    // a slab cutting a rectangle in two, and a hole punched through one
    val cuts = Seq(((0, 0, 6, 6), (2, -1, 4, 7)), ((0, 0, 6, 6), (2, 2, 4, 4)))
    val pairs = (for (a <- coords; b <- coords) yield (a, b)) ++ cuts ++ cuts.map(_.swap)
    var checked = 0
    for (((a0, a1, a2, a3), (b0, b1, b2, b3)) <- pairs) {
      val ga = Geo.fromWkt(rectWkt(a0, a1, a2, a3))
      val gb = Geo.fromWkt(rectWkt(b0, b1, b2, b3))
      // only positive-area overlaps exercise the closed form; run all anyway
      for ((op, jtsOp) <- Seq(
        ("st_union", () => ga.union(gb)),
        ("st_intersection", () => ga.intersection(gb)),
        ("st_difference", () => ga.difference(gb)))) {
        val mine = viaSql(op, rectWkt(a0, a1, a2, a3), rectWkt(b0, b1, b2, b3))
        val ref = jtsOp().toText
        assert(mine == ref,
          s"$op(${rectWkt(a0, a1, a2, a3)}, ${rectWkt(b0, b1, b2, b3)}):\n graft=$mine\n jts=$ref")
        checked += 1
      }
    }
    info(s"$checked overlay results byte-identical to JTS")
  }
}

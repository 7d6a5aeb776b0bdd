package graft

import graft.io.Mvt
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Mapbox Vector Tiles. The protobuf fixture in the first test is
  * hand-assembled byte-by-byte from the published Vector Tile Specification
  * 2.1 — the geometry command streams are the spec's own §4.3.5 worked
  * examples ([9,50,34] point, [9,4,4,18,0,16,16,0] linestring,
  * [9,6,12,18,10,12,24,44,15] polygon) — so the decoder is checked against
  * spec-authored data, not this repo's writer. */
class MvtSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val dir = suiteTempDir("graft_mvt").toString

  /** minimal protobuf helpers for hand-assembling the fixture */
  private def varint(v0: Long): Array[Byte] = {
    var v = v0
    val b = Array.newBuilder[Byte]
    while ((v & ~0x7FL) != 0) { b += ((v & 0x7F) | 0x80).toByte; v >>>= 7 }
    b += v.toByte
    b.result()
  }
  private def lenField(fld: Int, body: Array[Byte]): Array[Byte] =
    varint((fld << 3) | 2) ++ varint(body.length) ++ body
  private def varField(fld: Int, v: Long): Array[Byte] = varint((fld << 3) | 0) ++ varint(v)
  private def packed(fld: Int, vs: Seq[Long]): Array[Byte] =
    lenField(fld, vs.flatMap(varint).toArray)

  private def feature(gt: Int, geom: Seq[Long], tags: Seq[Long] = Nil): Array[Byte] =
    (if (tags.nonEmpty) packed(2, tags) else Array.empty[Byte]) ++
      varField(3, gt) ++ packed(4, geom)

  test("decoder: spec 4.3.5 worked examples through a hand-assembled tile") {
    // layer "ex" extent 4096, version 2, keys=["kind"], values=["a","b","c"]
    val valueMsg = (s: String) => lenField(1, s.getBytes("UTF-8")) // Value.string_value
    val layer =
      varField(15, 2) ++
        lenField(1, "ex".getBytes("UTF-8")) ++
        // POINT(25 17): spec example command stream [9, 50, 34]
        lenField(2, feature(1, Seq(9L, 50L, 34L), tags = Seq(0L, 0L))) ++
        // LINESTRING(2 2, 2 10, 10 10): spec example [9,4,4,18,0,16,16,0]
        lenField(2, feature(2, Seq(9L, 4L, 4L, 18L, 0L, 16L, 16L, 0L), tags = Seq(0L, 1L))) ++
        // POLYGON((3 6, 8 12, 20 34, 3 6)): spec example [9,6,12,18,10,12,24,44,15]
        lenField(2, feature(3, Seq(9L, 6L, 12L, 18L, 10L, 12L, 24L, 44L, 15L), tags = Seq(0L, 2L))) ++
        lenField(3, "kind".getBytes("UTF-8")) ++
        lenField(4, valueMsg("a")) ++ lenField(4, valueMsg("b")) ++ lenField(4, valueMsg("c")) ++
        varField(5, 4096)
    val tile = lenField(3, layer)
    val p = s"$dir/spec.mvt"
    Files.write(Paths.get(p), tile)

    val rows = spark.read.format("geo").load(p)
      .selectExpr("properties['kind'] AS kind", "st_astext(geom) AS wkt")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("a") == "POINT (25 17)")
    assert(rows("b") == "LINESTRING (2 2, 2 10, 10 10)")
    assert(rows("c") == "POLYGON ((3 6, 8 12, 20 34, 3 6))")
    assert(graft.io.Mvt.layers(p) == Seq("ex"))
  }

  test("decoder: multipoint spec example and polygon with hole") {
    // MULTIPOINT(5 7, 3 2): spec example [17,10,14,3,9]
    val mp = feature(1, Seq(17L, 10L, 14L, 3L, 9L))
    // polygon with hole: exterior (0,0)-(10,0)-(10,10)-(0,10) then interior
    // wound the other way — command streams built from the spec's encoding
    // rules (MoveTo/LineTo/ClosePath with zigzag deltas)
    def zz(v: Long) = (v << 1) ^ (v >> 63)
    val ext = Seq((1L << 3) | 1, zz(0), zz(0), (3L << 3) | 2, zz(10), zz(0), zz(0), zz(10), zz(-10), zz(0), 7L)
    val hole = Seq((1L << 3) | 1, zz(2), zz(-6), (3L << 3) | 2, zz(0), zz(4), zz(4), zz(0), zz(0), zz(-4), 7L)
    val poly = feature(3, ext ++ hole)
    val layer = varField(15, 2) ++ lenField(1, "g".getBytes("UTF-8")) ++
      lenField(2, mp) ++ lenField(2, poly) ++ varField(5, 4096)
    val p = s"$dir/mp.mvt"
    Files.write(Paths.get(p), lenField(3, layer))
    val wkts = spark.read.format("geo").load(p)
      .selectExpr("st_astext(geom)").collect().map(_.getString(0)).toSet
    assert(wkts.contains("MULTIPOINT (5 7, 3 2)"))
    val polyWkt = wkts.find(_.startsWith("POLYGON")).get
    val g = graft.geom.Geo.fromWkt(polyWkt)
    assert(g.asInstanceOf[org.locationtech.jts.geom.Polygon].getNumInteriorRing == 1)
    assert(g.getArea == 100.0 - 16.0, s"$polyWkt")
  }

  test("writer round-trips geometry, ids, and properties through the reader") {
    import spark.implicits._
    val df = Seq(
      ("POINT (100 200)", "alpha"),
      ("LINESTRING (0 0, 50 50, 100 0)", "beta"),
      ("POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0), (10 10, 20 10, 20 20, 10 20, 10 10))", "gamma"),
      ("MULTIPOLYGON (((60 60, 80 60, 80 80, 60 80, 60 60)), ((90 0, 95 0, 95 5, 90 5, 90 0)))", "delta")
    ).toDF("wkt", "name")
      .selectExpr("st_geomfromtext(wkt) AS geom", "name")
    val p = s"$dir/rt.mvt"
    graft.io.GeoWriter.mvt(df, "geom", p, layerName = "shapes")
    val back = spark.read.format("geo").load(p)
      .selectExpr("properties['name'] AS name", "st_astext(geom) AS wkt", "properties['layer'] AS l")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(back("alpha")._1 == "POINT (100 200)")
    assert(back("beta")._1 == "LINESTRING (0 0, 50 50, 100 0)")
    assert(back.values.forall(_._2 == "shapes"))
    val poly = graft.geom.Geo.fromWkt(back("gamma")._1)
    assert(poly.getArea == 1600.0 - 100.0)
    assert(poly.asInstanceOf[org.locationtech.jts.geom.Polygon].getNumInteriorRing == 1)
    val mp = graft.geom.Geo.fromWkt(back("delta")._1)
    assert(mp.getNumGeometries == 2 && mp.getArea == 400.0 + 25.0)
  }

  test("z/x/y tile paths georeference to EPSG:3857") {
    // a point at tile-local (2048, 2048) in tile 1/1/1 = centre of the
    // lower-right world quadrant = (w/4, -w/4) in web mercator
    val layer = varField(15, 2) ++ lenField(1, "t".getBytes("UTF-8")) ++
      lenField(2, feature(1, Seq(9L, 4096L, 4096L))) ++ // zigzag(2048) = 4096
      varField(5, 4096)
    val d = Files.createDirectories(Paths.get(s"$dir/tiles/1/1"))
    val p = s"$dir/tiles/1/1/1.mvt"
    Files.write(Paths.get(p), lenField(3, layer))
    val r = spark.read.format("geo").load(p)
      .selectExpr("st_x(geom)", "st_y(geom)").collect()(0)
    val w = 2 * math.Pi * 6378137.0
    assert(math.abs(r.getDouble(0) - w / 4) < 1e-6, s"${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - -w / 4) < 1e-6, s"${r.getDouble(1)}")
    // round-trip: writer with the tile address inverts the georeferencing
    import spark.implicits._
    val df = Seq(1).toDF("i").selectExpr(s"st_point(${w / 4}d, ${-w / 4}d) AS geom", "i")
    val p2 = s"$dir/tiles2/1/1/1.mvt"
    Files.createDirectories(Paths.get(s"$dir/tiles2/1/1"))
    graft.io.GeoWriter.mvt(df, "geom", p2, tile = Some((1, 1, 1)))
    val r2 = spark.read.format("geo").load(p2)
      .selectExpr("st_x(geom)", "st_y(geom)").collect()(0)
    assert(math.abs(r2.getDouble(0) - w / 4) < 1.0 && math.abs(r2.getDouble(1) - -w / 4) < 1.0)
  }

  test("malformed command streams and date-like paths fail safe") {
    // LineTo before MoveTo: loud decoder error, not an NPE
    val bad = varField(15, 2) ++ lenField(1, "b".getBytes("UTF-8")) ++
      lenField(2, feature(2, Seq((1L << 3) | 2, 2L, 2L))) ++ varField(5, 4096)
    val p = s"$dir/bad.mvt"
    Files.write(Paths.get(p), lenField(3, bad))
    val e = intercept[Exception](spark.read.format("geo").load(p).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("MVT")), msgs(e).mkString("; "))
    // a date-organized path must NOT be mistaken for a z/x/y tile address
    assert(Mvt.tileAddress("/exports/2024/07/15.mvt").isEmpty)
    assert(Mvt.tileAddress("/tiles/1/0/1.mvt").contains((1, 0, 1)))
    assert(Mvt.tileAddress("/tiles/1/2/0.mvt").isEmpty) // x outside 2^z
  }

  test("a z/x/y pyramid directory reads as one georeferenced dataset") {
    // two sibling tiles at z=1: each contributes its own georeferenced
    // feature; the whole tree reads in a single load (one task per tile)
    def tileBytes(localX: Long, localY: Long): Array[Byte] = {
      def zzE(v: Long) = (v << 1) ^ (v >> 63)
      val layer = varField(15, 2) ++ lenField(1, "t".getBytes("UTF-8")) ++
        lenField(2, feature(1, Seq(9L, zzE(localX), zzE(localY)))) ++ varField(5, 4096)
      lenField(3, layer)
    }
    Files.createDirectories(Paths.get(s"$dir/pyr/1/0"))
    Files.createDirectories(Paths.get(s"$dir/pyr/1/1"))
    Files.write(Paths.get(s"$dir/pyr/1/0/0.mvt"), tileBytes(2048, 2048))
    Files.write(Paths.get(s"$dir/pyr/1/1/1.mvt"), tileBytes(2048, 2048))
    val pts = spark.read.format("geo")
      .load(s"$dir/pyr/1/0/0.mvt", s"$dir/pyr/1/1/1.mvt")
      .selectExpr("st_x(geom) AS x", "st_y(geom) AS y")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    val w = 2 * math.Pi * 6378137.0
    // tile (1,0,0) centre = NW quadrant centre; tile (1,1,1) = SE quadrant
    assert(pts.exists(p => math.abs(p._1 - -w / 4) < 1e-6 && math.abs(p._2 - w / 4) < 1e-6))
    assert(pts.exists(p => math.abs(p._1 - w / 4) < 1e-6 && math.abs(p._2 - -w / 4) < 1e-6))
  }

  test("mvtPyramid: distributed z/x/y tree round-trips through the pyramid reader") {
    val w = 2 * math.Pi * 6378137.0
    // features in 3857: one point per quadrant + a cross-quadrant equator line
    val df = spark.sql("""
      SELECT st_geomfromtext(wkt) AS geom, id, tag FROM VALUES
        (1, 'POINT (-10000000 10000000)', 'nw'),
        (2, 'POINT (10000000 10000000)', 'ne'),
        (3, 'POINT (-10000000 -10000000)', 'sw'),
        (4, 'POINT (10000000 -10000000)', 'se'),
        (5, 'LINESTRING (-12000000 0, 12000000 0)', 'line') AS t(id, wkt, tag)""")
    val p = s"$dir/pyrw"
    graft.io.GeoWriter.mvtPyramid(df, "geom", p, layerName = "t",
      minZoom = 0, maxZoom = 2)
    // z=0: one world tile; z=1: all four quadrant tiles materialize
    assert(Files.exists(Paths.get(s"$p/0/0/0.mvt")))
    val z1 = for { x <- 0 to 1; y <- 0 to 1
                   if Files.exists(Paths.get(s"$p/1/$x/$y.mvt")) } yield (x, y)
    assert(z1.size == 4, s"z1 tiles: $z1")
    // the NW point reads back georeferenced within ~a tile-grid unit
    val pts = spark.read.format("geo").load(s"$p/1/0/0.mvt")
      .where("properties['tag'] = 'nw'")
      .selectExpr("st_x(geom) AS x", "st_y(geom) AS y").collect()
    assert(pts.length == 1)
    val tol = (w / 2) / 4096 * 1.5
    assert(math.abs(pts(0).getDouble(0) - -10000000.0) < tol)
    assert(math.abs(pts(0).getDouble(1) - 10000000.0) < tol)
    // the equator line is clipped into both z2 rows that touch y=0 (buffer
    // margin straddles the seam), so ≥8 tiles exist at z=2
    val z2 = for { x <- 0 to 3; y <- 0 to 3
                   if Files.exists(Paths.get(s"$p/2/$x/$y.mvt")) } yield (x, y)
    assert(z2.size >= 8, s"z2 tiles: $z2")
    // clipped line: the z2 tile (0, 1) holds only the segment near its own
    // extent (+buffer), not the whole 24000-km line
    val seg = spark.read.format("geo").load(s"$p/2/0/1.mvt")
      .where("properties['tag'] = 'line'")
      .selectExpr("st_xmin(geom) AS x0", "st_xmax(geom) AS x1").collect()
    assert(seg.length == 1)
    val t2 = w / 4
    assert(seg(0).getDouble(1) - seg(0).getDouble(0) <= t2 * 1.1)
  }

  test("mvtPyramid fuzz: 300 seeded random mixed features, every tile decodes in bounds") {
    // deterministic features across the mercator world: envelopes, lines,
    // points (by id mod 3), sizes up to ~800 km
    val df = spark.sql("""
      SELECT id,
             CASE CAST(id % 3 AS INT)
               WHEN 0 THEN st_makeenvelope(st_x(p) - 400000.0d, st_y(p) - 400000.0d,
                                           st_x(p) + 400000.0d, st_y(p) + 400000.0d)
               WHEN 1 THEN st_makeline(p, st_point(st_x(p) + 800000.0d, st_y(p) - 600000.0d))
               ELSE p
             END AS geom
      FROM (SELECT id, st_generatepoint(99L, id,
                     -19000000.0d, -19000000.0d, 19000000.0d, 19000000.0d) AS p
            FROM range(300))""")
    val p = s"$dir/pyrfuzz"
    graft.io.GeoWriter.mvtPyramid(df, "geom", p, layerName = "f",
      minZoom = 0, maxZoom = 3, buffer = 64)
    // walk the tree: every tile must decode, every coordinate inside the
    // buffered extent, and each zoom level must carry >= the feature count
    // (every feature lands in at least one tile)
    var total = Map.empty[Int, Int].withDefaultValue(0)
    val root = Paths.get(p)
    assert(Files.exists(root.resolve("0/0/0.mvt")))
    Files.walk(root).forEach { f =>
      if (f.toString.endsWith(".mvt")) {
        val Some((z, _, _)) = Mvt.tileAddress(f.toString)
        val layers = Mvt.readTile(Files.readAllBytes(f))
        assert(layers.map(_._1.name) == Seq("f"), f.toString)
        layers.head._1.features.foreach { ft =>
          val g = Mvt.geometry(ft)
          val e = g.getEnvelopeInternal
          assert(e.getMinX >= -64 - 1 && e.getMaxX <= 4096 + 64 + 1, s"$f: $e")
          assert(e.getMinY >= -64 - 1 && e.getMaxY <= 4096 + 64 + 1, s"$f: $e")
          total += z -> (total(z) + 1)
        }
      }
    }
    for (z <- 0 to 3)
      assert(total(z) >= 300, s"z=$z carried only ${total(z)} features")
  }

  test("mvtPyramid: maxFeaturesPerTile budget engages with deterministic keep-biggest thinning") {
    // dense z0 fixture: 400 envelopes whose area grows with id — the budget
    // must keep exactly the 50 BIGGEST (ids 350..399) and the pyramid must
    // still round-trip through the reader
    val df = spark.sql("""
      SELECT id,
             st_makeenvelope(st_x(p) - (1000.0d + id * 1000.0d),
                             st_y(p) - (1000.0d + id * 1000.0d),
                             st_x(p) + (1000.0d + id * 1000.0d),
                             st_y(p) + (1000.0d + id * 1000.0d)) AS geom
      FROM (SELECT id, st_generatepoint(7L, id,
                     -15000000.0d, -15000000.0d, 15000000.0d, 15000000.0d) AS p
            FROM range(400))""")
    val p = s"$dir/pyrbudget"
    graft.io.GeoWriter.mvtPyramid(df, "geom", p, layerName = "b",
      minZoom = 0, maxZoom = 0, maxFeaturesPerTile = 50)
    val tile = spark.read.format("geo").load(s"$p/0/0/0.mvt")
      .selectExpr("CAST(properties['id'] AS BIGINT) AS id").collect()
      .map(_.getLong(0)).toSet
    assert(tile.size == 50, s"budget kept ${tile.size} features")
    // keep-biggest: survivors are exactly the 50 largest-area features
    assert(tile == (350L until 400L).toSet, s"kept: ${tile.toSeq.sorted}")
    // determinism: a second run writes the identical survivor set
    val p2 = s"$dir/pyrbudget2"
    graft.io.GeoWriter.mvtPyramid(df.repartition(7), "geom", p2, layerName = "b",
      minZoom = 0, maxZoom = 0, maxFeaturesPerTile = 50)
    val tile2 = spark.read.format("geo").load(s"$p2/0/0/0.mvt")
      .selectExpr("CAST(properties['id'] AS BIGINT) AS id").collect()
      .map(_.getLong(0)).toSet
    assert(tile2 == tile)
  }

  test("st_asmvtgeom + st_asmvt_agg: SQL-side tile encode round-trips") {
    // four features in 3857, one per world-tile quadrant, encoded into the
    // z0 tile entirely in SQL; decode with the reader and check coords/props
    val tileBytes = spark.sql("""
      SELECT st_asmvt_agg(
               st_asmvtgeom(geom, st_tileenvelope(0, 0, 0), 4096, 256, true),
               map('kind', kind), 'sqltile', 4096) AS tile
      FROM (SELECT st_point(-10018754.17, 10018754.17) AS geom, 'nw' AS kind
            UNION ALL SELECT st_point(10018754.17, 10018754.17), 'ne'
            UNION ALL SELECT st_point(-10018754.17, -10018754.17), 'sw'
            UNION ALL SELECT st_geomfromtext('LINESTRING (-12000000 0, 12000000 0)'), 'ln')
    """).collect()(0).getAs[Array[Byte]](0)
    val layers = Mvt.readTile(tileBytes)
    assert(layers.map(_._1.name) == Seq("sqltile"))
    val feats = layers.head._1.features
    assert(feats.length == 4)
    // nw quadrant centre in tile-local coords: x=1024, y=1024 (y down)
    val (layer, keys, values) = layers.head
    val byKind = layer.features.map { ft =>
      val props = ft.tags.grouped(2).map(t => keys(t(0)) -> values(t(1))).toMap
      props("kind") -> Mvt.geometry(ft)
    }.toMap
    val nw = byKind("nw").getCoordinate
    assert(math.abs(nw.x - 1024) <= 1 && math.abs(nw.y - 1024) <= 1, s"nw=$nw")
    val ne = byKind("ne").getCoordinate
    assert(math.abs(ne.x - 3072) <= 1 && math.abs(ne.y - 1024) <= 1, s"ne=$ne")
    // the line is clipped to the buffered tile: x within [-256, 4352]
    val lnEnv = byKind("ln").getEnvelopeInternal
    assert(lnEnv.getMinX >= -256 - 1 && lnEnv.getMaxX <= 4096 + 256 + 1, s"ln=$lnEnv")
    // st_asmvtgeom returns NULL for geometry entirely outside the buffer
    val outside = spark.sql("""
      SELECT st_asmvtgeom(st_point(0.0d, 0.0d),
                          st_makeenvelope(100.0d, 100.0d, 200.0d, 200.0d), 4096, 64, true) AS g
    """).collect()(0)
    assert(outside.isNullAt(0))
  }

  test("gzipped tiles and layer selection") {
    val layerA = varField(15, 2) ++ lenField(1, "roads".getBytes("UTF-8")) ++
      lenField(2, feature(1, Seq(9L, 2L, 2L))) ++ varField(5, 4096)
    val layerB = varField(15, 2) ++ lenField(1, "water".getBytes("UTF-8")) ++
      lenField(2, feature(1, Seq(9L, 4L, 4L))) ++ varField(5, 4096)
    val tile = lenField(3, layerA) ++ lenField(3, layerB)
    val p = s"$dir/two.mvt"
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(Paths.get(p)))
    gz.write(tile); gz.close()
    assert(Mvt.layers(p) == Seq("roads", "water"))
    val water = spark.read.format("geo").option("layer", "water").load(p)
      .selectExpr("st_astext(geom)").collect().map(_.getString(0))
    assert(water.toSeq == Seq("POINT (2 2)"))
    val err = intercept[Exception](
      spark.read.format("geo").option("layer", "nope").load(p).collect())
    assert(err.getMessage.contains("nope") || err.getCause != null)
  }

  test("a z/x/y tile keeps its address read plain, zipped and over HTTP") {
    // tile-local (2048, 2048): the centre of tile 12/654/1583
    val tile = lenField(3, varField(15, 2) ++ lenField(1, "t".getBytes("UTF-8")) ++
      lenField(2, feature(1, Seq(9L, 4096L, 4096L))) ++ varField(5, 4096))
    val plain = Paths.get(s"$dir/addr/12/654/1583.mvt")
    Files.createDirectories(plain.getParent)
    Files.write(plain, tile)
    val zip = Paths.get(s"$dir/addr_tiles.zip")
    val zo = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    zo.putNextEntry(new java.util.zip.ZipEntry("12/654/1583.mvt")); zo.write(tile); zo.closeEntry(); zo.close()
    val url = HttpFixtureServer.serve("12/654/1583.mvt", tile)
    def xy(p: String): (Double, Double) = {
      val r = spark.read.format("geo").load(p).selectExpr("st_x(geom)", "st_y(geom)").collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    val w = 2 * math.Pi * 6378137.0
    val size = w / (1 << 12)
    val (x, y) = xy(plain.toString)
    assert(math.abs(x - (-w / 2 + 654.5 * size)) < 1e-6, s"$x")
    assert(math.abs(y - (w / 2 - 1583.5 * size)) < 1e-6, s"$y")
    assert(xy(s"$zip!12/654/1583.mvt") == ((x, y)))
    assert(xy(url) == ((x, y)))
  }
}

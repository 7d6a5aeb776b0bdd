package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.Deflater

/** DSv2 reader tests over self-generated fixture files (no external data). */
class GeoIOSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val dir = suiteTempDir("graft_io").toString

  // ------------------------------------------------------------- shapefile fixture
  private def writeShapefile(base: String): Unit = {
    // 3 point records + dbf with (name C10, pop N9.0, frac N12.3)
    val pts = Seq((1.0, 2.0), (30.0, 40.0), (-5.5, 6.25))
    val recBytes = 8 + 20 // header + point content
    val shpLen = 100 + pts.length * recBytes
    val shp = ByteBuffer.allocate(shpLen)
    shp.order(ByteOrder.BIG_ENDIAN)
    shp.putInt(0, 9994)
    shp.putInt(24, shpLen / 2)
    shp.order(ByteOrder.LITTLE_ENDIAN)
    shp.putInt(28, 1000)
    shp.putInt(32, 1) // point
    shp.putDouble(36, -5.5); shp.putDouble(44, 2.0); shp.putDouble(52, 30.0); shp.putDouble(60, 40.0)
    var off = 100
    pts.zipWithIndex.foreach { case ((x, y), i) =>
      shp.order(ByteOrder.BIG_ENDIAN)
      shp.putInt(off, i + 1); shp.putInt(off + 4, 10) // content words
      shp.order(ByteOrder.LITTLE_ENDIAN)
      shp.putInt(off + 8, 1); shp.putDouble(off + 12, x); shp.putDouble(off + 20, y)
      off += recBytes
    }
    Files.write(Paths.get(base + ".shp"), shp.array())

    val shx = ByteBuffer.allocate(100 + pts.length * 8)
    shx.order(ByteOrder.BIG_ENDIAN)
    shx.putInt(0, 9994); shx.putInt(24, (100 + pts.length * 8) / 2)
    pts.indices.foreach { i =>
      shx.putInt(100 + i * 8, (100 + i * recBytes) / 2)
      shx.putInt(104 + i * 8, 10)
    }
    Files.write(Paths.get(base + ".shx"), shx.array())

    val fields = Seq(("name", 'C', 10, 0), ("pop", 'N', 9, 0), ("frac", 'N', 12, 3))
    val recLen = 1 + fields.map(_._3).sum
    val headerLen = 32 + fields.length * 32 + 1
    val rows = Seq(("alpha", "42", "1.500"), ("beta", "7", "2.250"), ("gamma", "123456789", "-0.125"))
    val dbf = ByteBuffer.allocate(headerLen + rows.length * recLen + 1).order(ByteOrder.LITTLE_ENDIAN)
    dbf.put(0, 0x03.toByte)
    dbf.putInt(4, rows.length)
    dbf.putShort(8, headerLen.toShort)
    dbf.putShort(10, recLen.toShort)
    fields.zipWithIndex.foreach { case ((name, typ, w, d), i) =>
      val o = 32 + i * 32
      name.getBytes("ASCII").zipWithIndex.foreach { case (b, j) => dbf.put(o + j, b) }
      dbf.put(o + 11, typ.toByte)
      dbf.put(o + 16, w.toByte)
      dbf.put(o + 17, d.toByte)
    }
    dbf.put(headerLen - 1, 0x0d.toByte)
    rows.zipWithIndex.foreach { case ((n, p, f), i) =>
      val o = headerLen + i * recLen
      dbf.put(o, ' '.toByte)
      val padded = n.padTo(10, ' ') + p.reverse.padTo(9, ' ').reverse + f.reverse.padTo(12, ' ').reverse
      padded.getBytes("ASCII").zipWithIndex.foreach { case (b, j) => dbf.put(o + 1 + j, b) }
    }
    Files.write(Paths.get(base + ".dbf"), dbf.array())
  }

  test("shapefile reader: schema, attributes, geometry") {
    writeShapefile(s"$dir/pts")
    val df = spark.read.format("geo").load(s"$dir/pts.shp")
    assert(df.schema.fieldNames.toSeq == Seq("name", "pop", "frac", "geom"))
    df.createOrReplaceTempView("shp")
    val rows = spark.sql(
      "SELECT name, pop, frac, st_astext(geom) AS wkt FROM shp ORDER BY name").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(0) == "alpha" && rows(0).getInt(1) == 42 &&
      rows(0).getDouble(2) == 1.5 && rows(0).getString(3) == "POINT (1 2)")
    assert(rows(2).getString(3) == "POINT (-5.5 6.25)")
    // column pruning reaches the scan
    val pruned = spark.sql("SELECT name FROM shp")
    assert(pruned.queryExecution.executedPlan.toString.contains("ReadSchema: struct<name:string>") ||
      pruned.collect().length == 3)
  }

  test("geojson FeatureCollection and ndjson readers") {
    Files.writeString(Paths.get(s"$dir/fc.geojson"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","id":"a","geometry":{"type":"Point","coordinates":[1,2]},"properties":{"name":"first","score":7}},
        |{"type":"Feature","geometry":{"type":"LineString","coordinates":[[0,0],[3,4]]},"properties":{"name":"second"}}
        |]}""".stripMargin)
    val fc = spark.read.format("geo").load(s"$dir/fc.geojson")
    fc.createOrReplaceTempView("fc")
    val rows = spark.sql(
      "SELECT id, st_astext(geom) AS wkt, properties['name'] AS name, properties['score'] AS score FROM fc ORDER BY wkt").collect()
    assert(rows.length == 2)
    assert(rows.exists(r => r.getString(1) == "POINT (1 2)" && r.getString(2) == "first" && r.getString(3) == "7"))
    assert(rows.exists(r => r.getString(1) == "LINESTRING (0 0, 3 4)" && r.getString(2) == "second"))

    Files.writeString(Paths.get(s"$dir/lines.geojsonl"),
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[5,6]},"properties":{"k":"v"}}
        |{"type":"Point","coordinates":[7,8]}
        |""".stripMargin)
    val nd = spark.read.format("geo").load(s"$dir/lines.geojsonl")
    nd.createOrReplaceTempView("nd")
    val wkts = spark.sql("SELECT st_astext(geom) FROM nd ORDER BY 1").collect().map(_.getString(0))
    assert(wkts.toSeq == Seq("POINT (5 6)", "POINT (7 8)"))
  }

  test("geojsonl byte-range splits read the same rows as a whole-file scan") {
    // 500 one-line features with variable-length properties so line lengths differ
    val sb = new StringBuilder
    (0 until 500).foreach { i =>
      sb.append(s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$i,${i * 2}]},"properties":{"tag":"${"x" * (i % 37)}","n":"$i"}}""")
      sb.append('\n')
    }
    Files.writeString(Paths.get(s"$dir/many.geojsonl"), sb.toString)

    def readAll(): Seq[String] = {
      val df = spark.read.format("geo").load(s"$dir/many.geojsonl")
      df.createOrReplaceTempView("many")
      spark.sql("SELECT concat(st_astext(geom), '|', properties['n']) FROM many")
        .collect().map(_.getString(0)).toSeq.sorted
    }
    val whole = readAll()
    assert(whole.length == 500)

    // force ~tiny ranges: every line straddles or abuts a split boundary somewhere
    spark.conf.set("spark.sql.files.maxPartitionBytes", "257")
    try {
      val split = readAll()
      assert(split == whole)
      // and the plan really did split into many partitions
      val n = spark.read.format("geo").load(s"$dir/many.geojsonl").rdd.getNumPartitions
      assert(n > 10, s"expected many range partitions, got $n")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  // ------------------------------------------------------------- OSM PBF fixture
  private class Pb {
    private val out = new java.io.ByteArrayOutputStream()
    def bytes: Array[Byte] = out.toByteArray
    def varint(v0: Long): Pb = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt); this
    }
    def zigzag(v: Long): Pb = varint((v << 1) ^ (v >> 63))
    def tag(field: Int, wire: Int): Pb = varint((field << 3) | wire)
    def str(field: Int, s: String): Pb = blob(field, s.getBytes("UTF-8"))
    def blob(field: Int, b: Array[Byte]): Pb = { tag(field, 2); varint(b.length); out.write(b); this }
    def packed(field: Int, vs: Seq[Long], zig: Boolean): Pb = {
      val p = new Pb
      vs.foreach(v => if (zig) p.zigzag(v) else p.varint(v))
      blob(field, p.bytes)
    }
    def int(field: Int, v: Long): Pb = { tag(field, 0); varint(v) }
  }

  private def writeOsmPbf(path: String): Unit = {
    // string table: [""], "highway", "residential", "name", "main"
    val st = new Pb
    Seq("", "highway", "residential", "name", "main").foreach(s => st.str(1, s))
    val dense = new Pb()
      .packed(1, Seq(100L, 1L, 1L), zig = true) // ids 100,101,102
      .packed(8, Seq(100000000L, 10L, 10L), zig = true) // lats: 10.0, +1e-6...
      .packed(9, Seq(200000000L, 10L, 10L), zig = true) // lons: 20.0
      .packed(10, Seq(1L, 2L, 0L, 0L, 3L, 4L, 0L), zig = false) // n0: highway=residential; n1: none; n2: name=main
    val way = new Pb()
      .int(1, 7L)
      .packed(2, Seq(3L), zig = false) // name
      .packed(3, Seq(4L), zig = false) // main
      .packed(8, Seq(100L, 1L, 1L), zig = true) // refs 100,101,102
    val group = new Pb().blob(2, dense.bytes).blob(3, way.bytes)
    val block = new Pb().blob(1, st.bytes).blob(2, group.bytes)

    // blob 1: raw
    val blob1 = new Pb().blob(1, block.bytes)
    // blob 2: zlib of the same block (different ids via a second dense group)
    val dense2 = new Pb()
      .packed(1, Seq(200L), zig = true)
      .packed(8, Seq(-300000000L), zig = true) // -30.0
      .packed(9, Seq(400000000L), zig = true) // 40.0
      .packed(10, Seq(0L), zig = false)
    val block2 = new Pb().blob(1, st.bytes).blob(2, new Pb().blob(2, dense2.bytes).bytes)
    val deflater = new Deflater()
    deflater.setInput(block2.bytes); deflater.finish()
    val zbuf = new Array[Byte](block2.bytes.length * 2 + 64)
    val zlen = deflater.deflate(zbuf)
    val blob2 = new Pb().int(2, block2.bytes.length).blob(3, java.util.Arrays.copyOf(zbuf, zlen))

    val os = new java.io.ByteArrayOutputStream()
    def writeBlob(typ: String, blobBytes: Array[Byte]): Unit = {
      val header = new Pb().str(1, typ).int(3, blobBytes.length).bytes
      val lenBuf = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN).putInt(header.length)
      os.write(lenBuf.array()); os.write(header); os.write(blobBytes)
    }
    writeBlob("OSMHeader", new Pb().blob(1, new Pb().bytes).bytes)
    writeBlob("OSMData", blob1.bytes)
    writeBlob("OSMData", blob2.bytes)
    Files.write(Paths.get(path), os.toByteArray)
  }

  test("flatgeobuf reader parses the reference's real-world fixture") {
    // public data fixture from the reference repo (read-only input)
    val fgb = "/root/reference/test/data/amsterdam_roads.fgb"
    TestFiles.assumeFile(fgb)
    val header = graft.io.FlatGeobuf.readHeader(fgb)
    assert(header.featuresCount > 0)
    val df = spark.read.format("geo").load(fgb)
    df.createOrReplaceTempView("roads")
    val stats = spark.sql("""
      SELECT count(*) AS n,
             sum(CASE WHEN st_geometrytype(geom) IN ('LINESTRING', 'MULTILINESTRING') THEN 1 ELSE 0 END) AS lines,
             min(st_xmin(geom)) AS xmin, max(st_xmax(geom)) AS xmax
      FROM roads""").collect()(0)
    assert(stats.getLong(0) == header.featuresCount)
    assert(stats.getLong(1) == stats.getLong(0), "roads should all be line geometries")
    // fixture is in web mercator; Amsterdam is around x = 545 km
    assert(stats.getDouble(2) > 500000.0 && stats.getDouble(3) < 600000.0,
      s"unexpected extent ${stats.getDouble(2)}..${stats.getDouble(3)}")
    val len = spark.sql("SELECT sum(st_length(geom)) FROM roads").collect()(0).getDouble(0)
    assert(len > 1000.0 && len.isFinite)
  }

  test("st_read table function resolves paths in SQL") {
    writeShapefile(s"$dir/tvf")
    val rows = spark.sql(
      s"SELECT name, st_astext(geom) FROM st_read('$dir/tvf.shp') ORDER BY name").collect()
    assert(rows.length == 3 && rows(0).getString(0) == "alpha" && rows(0).getString(1) == "POINT (1 2)")
  }

  test("geopackage reader: sqlite b-tree scan, GP blobs, rowid pk") {
    val gpkg = getClass.getResource("/fixture.gpkg").getPath
    val df = spark.read.format("geo").load(gpkg)
    assert(df.schema.fieldNames.toSeq == Seq("fid", "name", "population", "score", "geom"))
    df.createOrReplaceTempView("gpkg")
    val rows = spark.sql(
      "SELECT fid, name, population, score, st_astext(geom) AS wkt FROM gpkg ORDER BY fid").collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alpha" &&
      rows(0).getLong(2) == 1000L && rows(0).getDouble(3) == 1.5 &&
      rows(0).getString(4) == "POINT (1 2)")
    assert(rows(2).getString(4) == "POINT (-5.5 6.25)")
  }

  test("osm pbf reader: dense nodes, ways, zlib blobs, block-parallel") {
    writeOsmPbf(s"$dir/mini.osm.pbf")
    val df = spark.read.format("geo").load(s"$dir/mini.osm.pbf")
    df.createOrReplaceTempView("osm")
    val nodes = spark.sql(
      "SELECT id, lat, lon, tags['highway'] FROM osm WHERE kind = 'node' ORDER BY id").collect()
    assert(nodes.length == 4)
    assert(nodes(0).getLong(0) == 100L && nodes(0).getDouble(1) == 10.0 && nodes(0).getDouble(2) == 20.0)
    assert(nodes(0).getString(3) == "residential")
    assert(nodes(3).getLong(0) == 200L &&
      math.abs(nodes(3).getDouble(1) - -30.0) < 1e-9 && math.abs(nodes(3).getDouble(2) - 40.0) < 1e-9)
    val ways = spark.sql(
      "SELECT id, tags['name'], refs FROM osm WHERE kind = 'way'").collect()
    assert(ways.length == 1)
    assert(ways(0).getLong(0) == 7L && ways(0).getString(1) == "main")
    assert(ways(0).getSeq[Long](2) == Seq(100L, 101L, 102L))
    // two OSMData blobs → reader planned partitions from the blob index
    assert(spark.sql("SELECT count(*) FROM osm").collect()(0).getLong(0) == 5L)
  }

  test("shapefile writer round-trips through the shapefile reader") {
    import spark.implicits._
    Graft.register(spark)
    val df = spark.sql("""
      SELECT id, name, score, st_aswkb(st_geomfromtext(wkt)) AS geom
      FROM VALUES
        (1L, 'alpha', 1.5d, 'POINT (1 2)'),
        (2L, 'beta',  -2.25d, 'POINT (30 40)'),
        (3L, 'gamma', 0.125d, 'POINT (-5.5 6.25)') AS t(id, name, score, wkt)""")
      .coalesce(1)
    val out = s"$dir/shpout"
    graft.io.GeoWriter.shapefile(df, "geom", out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".shp")).head
    val back = spark.read.format("geo").load(part.getAbsolutePath)
    back.createOrReplaceTempView("shp_rt")
    val rows = spark.sql(
      "SELECT id, name, score, st_astext(geom) AS wkt FROM shp_rt ORDER BY id").collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alpha" &&
      rows(0).getDouble(2) == 1.5 && rows(0).getString(3) == "POINT (1 2)")
    assert(rows(1).getDouble(2) == -2.25)
    assert(rows(2).getString(3) == "POINT (-5.5 6.25)")
  }

  test("shapefile writer: polygons with holes keep spec winding") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT CAST(1 AS BIGINT) AS id, st_aswkb(st_geomfromtext(
        'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))')) AS geom""")
      .coalesce(1)
    val out = s"$dir/shpout_poly"
    graft.io.GeoWriter.shapefile(df, "geom", out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".shp")).head
    val back = spark.read.format("geo").load(part.getAbsolutePath)
    back.createOrReplaceTempView("shp_poly")
    val r = spark.sql("SELECT st_area(geom) AS a, st_ninteriorrings(geom) AS h FROM shp_poly").collect()(0)
    assert(r.getDouble(0) == 96.0, s"area ${r.getDouble(0)}")
    assert(r.getInt(1) == 1)
  }

  test("flatgeobuf writer round-trips through the flatgeobuf reader") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT id, name, score, st_aswkb(st_geomfromtext(wkt)) AS geom
      FROM VALUES
        (1L, 'p', 1.5d, 'POINT (1 2)'),
        (2L, 'l', 2.5d, 'LINESTRING (0 0, 3 4, 10 0)'),
        (3L, 'pg', 3.5d, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))'),
        (4L, 'mp', 4.5d, 'MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))'),
        (5L, 'mls', 5.5d, 'MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))') AS t(id, name, score, wkt)""")
      .coalesce(1)
    val out = s"$dir/fgbout"
    graft.io.GeoWriter.flatgeobuf(df, "geom", out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".fgb")).head
    // low-level reader round trip
    val feats = graft.io.FlatGeobuf.readFeatures(part.getAbsolutePath).toVector
    assert(feats.length == 5)
    val byId = feats.map(f => f.properties("id") -> f).toMap
    assert(graft.geom.Wkt.write(byId("1").geom) == "POINT (1 2)")
    assert(graft.geom.Wkt.write(byId("2").geom) == "LINESTRING (0 0, 3 4, 10 0)")
    assert(byId("3").geom.getArea == 96.0)
    assert(byId("4").geom.getGeometryType == "MultiPolygon" && byId("4").geom.getNumGeometries == 2)
    assert(byId("5").geom.getGeometryType == "MultiLineString")
    assert(byId("2").properties("name") == "l" && byId("2").properties("score") == "2.5")
    // and through the DSv2 reader
    val back = spark.read.format("geo").load(part.getAbsolutePath)
    back.createOrReplaceTempView("fgb_rt")
    assert(spark.sql("SELECT count(*) FROM fgb_rt").collect()(0).getLong(0) == 5L)
  }

  test("shapefile range reads slice identically to a full scan") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT id, st_aswkb(st_point(cast(id AS DOUBLE), cast(id % 7 AS DOUBLE))) AS geom
      FROM range(0, 500)""").coalesce(1)
    val out = s"$dir/shp_range"
    graft.io.GeoWriter.shapefile(df, "geom", out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".shp")).head.getAbsolutePath
    def canon(v: Vector[(org.locationtech.jts.geom.Geometry, Array[String])]) =
      v.map { case (g, a) => (graft.geom.Wkt.write(g), a.toList) }
    val full = canon(graft.io.Shapefile.readRecords(part).toVector)
    assert(full.length == 500)
    assert(canon(graft.io.Shapefile.readRecordRange(part, 100, 250).toVector) == full.slice(100, 250))
    assert(canon(graft.io.Shapefile.readRecordRange(part, 0, 10).toVector) == full.take(10))
    assert(canon(graft.io.Shapefile.readRecordRange(part, 490, 600).toVector) == full.drop(490))
  }

  test("flatgeobuf writer/reader round-trip Z and M") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT id, st_aswkb(st_geomfromtext(wkt)) AS geom
      FROM VALUES
        (1L, 'POINT Z (1 2 3)'),
        (2L, 'LINESTRING ZM (0 0 1 10, 5 5 2 20)'),
        (3L, 'POINT M (4 5 6)') AS t(id, wkt)""")
      .coalesce(1)
    val out = s"$dir/fgb_zm"
    graft.io.GeoWriter.flatgeobuf(df, "geom", out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".fgb")).head
    val feats = graft.io.FlatGeobuf.readFeatures(part.getAbsolutePath).toVector
    val byId = feats.map(f => f.properties("id") -> f).toMap
    assert(graft.geom.Wkt.write(byId("1").geom) == "POINT Z (1 2 3)")
    assert(graft.geom.Wkt.write(byId("2").geom) == "LINESTRING ZM (0 0 1 10, 5 5 2 20)")
    // single-dim M round-trips as M (0-filled Z is only for mixed ZM files)
    val m = graft.geom.Wkt.write(byId("3").geom)
    assert(m == "POINT ZM (4 5 0 6)" || m == "POINT M (4 5 6)", m)
  }

  test("geojson FeatureCollection streams without materializing the document") {
    val p = s"$dir/stream.geojson"
    val features = (0 until 200).map { i =>
      s"""{"type":"Feature","id":"f$i","geometry":{"type":"Point","coordinates":[$i,${i % 5}]},"properties":{"n":$i}}"""
    }.mkString(",\n  ")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      s"""{"name":"big","type":"FeatureCollection",\n "features":[\n  $features\n]}""")
    val df = spark.read.format("geo").load(p)
    df.createOrReplaceTempView("streamed")
    assert(spark.sql("SELECT count(*) FROM streamed").collect()(0).getLong(0) == 200L)
    val r = spark.sql("SELECT id, st_astext(geom) FROM streamed WHERE id = 'f7'").collect()(0)
    assert(r.getString(1) == "POINT (7 2)")
  }

  test("bare-path replacement scan resolves geo files in FROM") {
    // fixture from the shapefile writer round-trip test dir may not exist yet; make one
    Graft.register(spark)
    val df = spark.sql("SELECT 1L AS id, st_aswkb(st_point(7.0d, 8.0d)) AS geom").coalesce(1)
    val out = s"$dir/barepath"
    graft.io.GeoWriter.shapefile(df, "geom", out)
    val shp = new java.io.File(out).listFiles().filter(_.getName.endsWith(".shp")).head.getAbsolutePath
    val r = spark.sql(s"SELECT id, st_astext(geom) AS wkt FROM `$shp`").collect()(0)
    assert(r.getLong(0) == 1L && r.getString(1) == "POINT (7 8)")
    // every extension of a bare-path format resolves, a trailing .gz of a
    // text format too
    val rss = """<?xml version="1.0"?><rss version="2.0" xmlns:georss="http://www.georss.org/georss">
      |<channel><item><title>a</title><georss:point>8 7</georss:point></item></channel></rss>""".stripMargin
    val atom = """<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom"
      |xmlns:georss="http://www.georss.org/georss"><entry><title>a</title>
      |<georss:point>8 7</georss:point></entry></feed>""".stripMargin
    Files.writeString(Paths.get(s"$dir/bare.atom"), atom)
    Files.writeString(Paths.get(s"$dir/bare.georss"), rss)
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(Paths.get(s"$dir/bare.geojsonl.gz")))
    try gz.write(
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[7,8]},"properties":{}}""".getBytes("UTF-8"))
    finally gz.close()
    for (name <- Seq("bare.atom", "bare.georss", "bare.geojsonl.gz")) {
      val wkt = spark.sql(s"SELECT st_astext(geom) FROM `$dir/$name`").collect().map(_.getString(0)).toSeq
      assert(wkt == Seq("POINT (7 8)"), name)
    }
    // a generic tabular extension stays a table name
    Files.writeString(Paths.get(s"$dir/bare.csv"), "id,wkt\n1,POINT (7 8)\n")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM `$dir/bare.csv`").collect()
    }
    assert(err.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), err.getMessage)
  }

  test("geopackage writer round-trips through the geopackage reader") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT id, name, score, st_aswkb(st_geomfromtext(wkt)) AS geom
      FROM VALUES
        (10L, 'alpha', 1.5d, 'POINT (1 2)'),
        (20L, 'beta',  -2.25d, 'LINESTRING (0 0, 3 4)'),
        (30L, 'gamma', 0.0d, 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS t(id, name, score, wkt)""")
      .coalesce(1)
    val out = s"$dir/gpkgout"
    graft.io.GeoWriter.geopackage(df, "geom", out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".gpkg")).head
    val back = spark.read.format("geo").load(part.getAbsolutePath)
    back.createOrReplaceTempView("gpkg_rt")
    val rows = spark.sql(
      "SELECT fid, id, name, score, st_astext(geom) AS wkt FROM gpkg_rt ORDER BY fid").collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 10L &&
      rows(0).getString(2) == "alpha" && rows(0).getDouble(3) == 1.5 &&
      rows(0).getString(4) == "POINT (1 2)")
    assert(rows(1).getString(4) == "LINESTRING (0 0, 3 4)")
    assert(rows(2).getString(4) == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
  }

  test("geopackage writer handles many rows (interior b-tree pages)") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT id, repeat('x', 60) AS pad, st_aswkb(st_point(cast(id AS DOUBLE), cast(id % 13 AS DOUBLE))) AS geom
      FROM range(0, 2000)""").coalesce(1)
    val out = s"$dir/gpkgbig"
    graft.io.GeoWriter.geopackage(df, "geom", out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".gpkg")).head
    val back = spark.read.format("geo").load(part.getAbsolutePath)
    back.createOrReplaceTempView("gpkg_big")
    assert(spark.sql("SELECT count(*) FROM gpkg_big").collect()(0).getLong(0) == 2000L)
    val r = spark.sql("SELECT st_astext(geom) FROM gpkg_big WHERE id = 1234").collect()(0)
    assert(r.getString(0) == "POINT (1234 " + (1234 % 13) + ")")

    // intra-file parallelism: the interior b-tree root exposes multiple
    // subtrees, and scanning them piecewise equals the full scan
    val path = part.getAbsolutePath
    val table = graft.io.GeoFiles.geopackageTable(path)
    val roots = graft.io.GeoPackage.subtreeRoots(path, table)
    assert(roots.size > 1, s"expected an interior root with children, got $roots")
    val full = graft.io.GeoPackage.scan(path, table).map(_._1).toVector
    val pieced = roots.flatMap(r0 => graft.io.GeoPackage.scanPages(path, table, Seq(r0)).map(_._1))
    assert(pieced == full, "subtree union must equal the full scan in rowid order")
    assert(full.size == 2000)
  }

  test("schema inference and reads close every file they open") {
    val fd = new java.io.File("/proc/self/fd")
    assume(fd.isDirectory, "NOT RUN: no /proc/self/fd")
    val feature = (i: Int) =>
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$i,${i % 7}]},"properties":{"k":"$i"}}"""
    val gj = Paths.get(s"$dir/fds.geojson")
    Files.write(gj, (0 until 300).map(feature).mkString(
      """{"type":"FeatureCollection","features":[""", ",", "]}").getBytes("UTF-8"))
    val lines = (0 until 300).map(feature).mkString("", "\n", "\n").getBytes("UTF-8")
    val gjl = Paths.get(s"$dir/fds.geojsonl")
    Files.write(gjl, lines)
    val zip = Paths.get(s"$dir/fds.zip")
    val zo = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    zo.putNextEntry(new java.util.zip.ZipEntry("pts.geojsonl")); zo.write(lines); zo.closeEntry(); zo.close()
    val sources = Seq(gj.toString, gjl.toString, s"$zip!pts.geojsonl")
    def load(p: String) = spark.read.format("geo").load(p)
    def work(): Unit = {
      (0 until 50).foreach(i => load(sources(i % 2)).schema)
      sources.foreach(p => assert(load(p).count() == 300L, p))
      assert(load(gjl.toString).limit(1).collect().length == 1)
    }
    work() // loads the classes and jars the reads use
    val before = fd.list().length
    work()
    val after = fd.list().length
    assert(math.abs(after - before) <= 2, s"open files $before -> $after")
  }
}

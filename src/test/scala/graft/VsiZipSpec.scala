package graft

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.Coordinate

/** Zip-archive input for every reader — the `/vsizip/` equivalent (reference:
  * test/sql/gdal/gdal_vsi.test reads zipped datasets via GDAL's virtual
  * filesystem). Spellings: `archive.zip!entry`, GDAL's
  * `/vsizip/archive.zip/entry`, and a bare `archive.zip` (expands to every
  * known-extension entry). Entries localize lazily to a per-JVM cache on the
  * executor that reads them. */
class VsiZipSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val fac = graft.geom.Geo.factory

  private def zipOf(entries: (String, Array[Byte])*): String = {
    val dir = tempDir("graft_vsizip")
    val p = dir.resolve("data.zip")
    val zo = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(p))
    entries.foreach { case (name, bytes) =>
      zo.putNextEntry(new java.util.zip.ZipEntry(name))
      zo.write(bytes)
      zo.closeEntry()
    }
    zo.close()
    p.toString
  }

  private def shpFamily(n: Int): Seq[(String, Array[Byte])] = {
    val dir = tempDir("graft_vsizip_shp")
    val base = dir.resolve("pts").toString
    graft.io.ShapefileWriter.write(base,
      Seq(graft.io.ShapefileWriter.Field("name", 'C', 16, 0)),
      (1 to n).iterator.map(i =>
        (fac.createPoint(new Coordinate(i, i)): org.locationtech.jts.geom.Geometry,
          Array[Any](s"p$i"))))
    Seq(".shp", ".shx", ".dbf", ".cpg").flatMap { ext =>
      val f = java.nio.file.Paths.get(base + ext)
      if (java.nio.file.Files.exists(f))
        Some(("inner/pts" + ext) -> java.nio.file.Files.readAllBytes(f))
      else None
    }
  }

  test("zipped shapefile reads via archive.zip!entry and /vsizip/ spelling") {
    val zip = zipOf(shpFamily(4): _*)
    val df = spark.read.format("geo").load(s"$zip!inner/pts.shp")
    assert(df.count() == 4)
    val names = df.selectExpr("name").collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("p1", "p2", "p3", "p4"))
    // GDAL spelling
    val vsi = spark.read.format("geo").load(s"/vsizip$zip/inner/pts.shp")
    assert(vsi.count() == 4)
    // SQL surface
    Graft.register(spark)
    assert(spark.sql(s"SELECT count(*) FROM st_read('$zip!inner/pts.shp')")
      .collect()(0).getLong(0) == 4)
  }

  test("bare .zip expands to its known-extension entries (zipped geojsonl)") {
    val gj = (1 to 3).map(i =>
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$i,$i]},"properties":{"n":"$i"}}""")
      .mkString("\n")
    val zip = zipOf(
      "a.geojsonl" -> gj.getBytes("UTF-8"),
      "b.geojsonl" -> gj.getBytes("UTF-8"),
      "readme.txt" -> "ignored".getBytes("UTF-8"))
    val df = spark.read.format("geo").load(zip)
    assert(df.count() == 6)
    val xs = df.selectExpr("st_x(st_geomfromwkb(geom)) AS x").collect().map(_.getDouble(0))
    assert(xs.sorted.toSeq == Seq(1.0, 1.0, 2.0, 2.0, 3.0, 3.0))
  }

  test("bare zip with mixed formats demands an explicit entry") {
    val zip = zipOf(
      "a.geojsonl" -> """{"type":"Feature","geometry":{"type":"Point","coordinates":[1,2]},"properties":{}}""".getBytes("UTF-8"),
      "b.csv" -> "wkt\nPOINT (1 2)\n".getBytes("UTF-8"))
    val err = intercept[Exception] {
      spark.read.format("geo").load(zip).collect()
    }
    assert(err.getMessage.contains("mixed formats"), err.getMessage)
    // explicit entry still reads
    assert(spark.read.format("geo").load(s"$zip!b.csv").count() == 1)
  }

  test("enable_external_access=false blocks archive extraction") {
    val zip = zipOf("x.geojsonl" ->
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[1,2]},"properties":{}}"""
        .getBytes("UTF-8"))
    spark.conf.set("enable_external_access", "false")
    try {
      val err = intercept[Exception] {
        spark.read.format("geo").load(zip).collect()
      }
      def rootChain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
      assert(rootChain(err).exists(_.contains("External access is disabled")), err.getMessage)
    } finally spark.conf.set("enable_external_access", "true")
  }

  test("extracted entries stay under the byte budget and a rewritten archive re-extracts") {
    val cache = graft.io.GeoFiles.downloads
    def bytes = LruCache.counters("downloadCache.bytes")
    val payload = (1 to 200).map(i =>
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$i,$i]},"properties":{}}""")
      .mkString("\n").getBytes("UTF-8")
    // room for three of these entries (each weighs its bytes plus 4 KiB)
    val budget = 3L * (payload.length + 4096) + 100
    val previous = cache.rebound(budget)
    try {
      val zips = (1 to 5).map(_ => zipOf("pts.geojsonl" -> payload))
      val dirs = zips.map { z =>
        assert(spark.read.format("geo").load(s"$z!pts.geojsonl").count() == 200)
        java.nio.file.Paths.get(graft.io.GeoFiles.withLocal(s"$z!pts.geojsonl")(p => p)).getParent
      }
      assert(bytes <= budget, s"cache holds $bytes bytes over a $budget budget")
      // whole entries leave, oldest first, and take their directories along
      assert(dirs.take(2).forall(d => !java.nio.file.Files.exists(d)), dirs.toString)
      assert(dirs.drop(2).forall(d => java.nio.file.Files.exists(d)), dirs.toString)
      // one per-JVM root holds them all
      assert(dirs.map(_.getParent).distinct.size == 1, dirs.toString)
      // a hit serves the same copy; an evicted entry re-extracts on demand
      val hits = LruCache.counters("downloadCache.hits")
      assert(graft.io.GeoFiles.withLocal(s"${zips(4)}!pts.geojsonl")(_.startsWith(dirs(4).toString)))
      assert(LruCache.counters("downloadCache.hits") == hits + 1)
      assert(spark.read.format("geo").load(s"${zips(0)}!pts.geojsonl").count() == 200)
      // rewriting an archive changes its version: the new bytes are read and
      // the old copy is dropped
      val z = zips(4)
      val zo = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(z)))
      zo.putNextEntry(new java.util.zip.ZipEntry("pts.geojsonl"))
      zo.write(payload.take(payload.indexOf('\n'.toByte)))
      zo.closeEntry(); zo.close()
      assert(spark.read.format("geo").load(s"$z!pts.geojsonl").count() == 1)
      assert(!java.nio.file.Files.exists(dirs(4)))
      assert(bytes <= budget, s"cache holds $bytes bytes over a $budget budget")
    } finally cache.rebound(previous)
  }

  test("an entry held open is never evicted, and leaves once released") {
    val cache = graft.io.GeoFiles.downloads
    def bytes = LruCache.counters("downloadCache.bytes")
    val payload = (1 to 200).map(i =>
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$i,$i]},"properties":{}}""")
      .mkString("\n").getBytes("UTF-8")
    // room for one entry
    val budget = payload.length + 4096L + 100
    val previous = cache.rebound(budget)
    try {
      val zips = (1 to 3).map(_ => zipOf("pts.geojsonl" -> payload))
      val held = graft.io.GeoFiles.open(s"${zips(0)}!pts.geojsonl")
      val others = zips.drop(1).map { z =>
        assert(spark.read.format("geo").load(s"$z!pts.geojsonl").count() == 200)
        java.nio.file.Paths.get(graft.io.GeoFiles.withLocal(s"$z!pts.geojsonl")(p => p))
      }
      // the held copy outlives entries that came after it
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(held.path)))
      assert(!java.nio.file.Files.exists(others(0)) && java.nio.file.Files.exists(others(1)))
      assert(bytes > budget, "a held entry counts against the budget")
      held.close()
      held.close() // a second close releases nothing more
      assert(bytes <= budget, s"cache holds $bytes bytes over a $budget budget")
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(held.path)) !=
        java.nio.file.Files.exists(others(1)), "one of the two is evicted")
    } finally cache.rebound(previous)
  }
}

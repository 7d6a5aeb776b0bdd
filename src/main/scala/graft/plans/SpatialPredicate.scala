package graft.plans

import graft.functions.FnExpr
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The spatial join predicates graft's join rules rewrite, and the matcher
  * that finds one in a join condition. [[SpatialJoinRule]] (tile join) and
  * [[BroadcastSpatialJoinRule]] (broadcast R-tree join) both match through
  * it; [[BboxSkippingRule]] prunes on the same predicate set. */
private[plans] object SpatialPredicate extends PredicateHelper {

  /** Predicates whose truth implies envelope overlap — the set
    * optimizer_rules.cpp:96-98 rewrites (st_disjoint excluded: bbox overlap
    * does not imply it). */
  val bboxImplying: Set[String] = Set(
    "st_intersects", "st_equals", "st_touches", "st_crosses", "st_within",
    "st_contains", "st_overlaps", "st_covers", "st_coveredby", "st_containsproperly")

  /** One matched spatial-join predicate: the conjunct itself, its function
    * name AS WRITTEN (before any side-swap), the left/right-side geometry
    * args after side normalization, whether the args were swapped to get
    * there, and the envelope expansion (st_dwithin's constant distance). */
  case class Matched(pred: Expression, fn: String, lGeom: Expression,
                     rGeom: Expression, swapped: Boolean, expand: Double)

  /** Locate a rewritable predicate whose two geometry args resolve to
    * opposite join sides. Bbox-implying predicates expand by 0; st_dwithin
    * with a CONSTANT, non-negative distance d expands by d (dwithin(a, b, d)
    * implies the envelopes lie within d of each other; the exact predicate
    * still runs as residual). A condition that already carries the tile
    * rewrite's `__graft_tile` keys matches nothing. */
  def find(cond: Expression, left: LogicalPlan, right: LogicalPlan): Option[Matched] = {
    def sides(a: Expression, b: Expression): Option[(Expression, Expression, Boolean)] =
      if (a.references.nonEmpty && b.references.nonEmpty &&
          a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) Some((a, b, false))
      else if (a.references.nonEmpty && b.references.nonEmpty &&
          b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet)) Some((b, a, true))
      else None
    if (tiled(cond)) None
    else splitConjunctivePredicates(cond).iterator.flatMap {
      case p @ FnExpr(fn, Seq(a, b)) if bboxImplying(fn) =>
        sides(a, b).map { case (l, r, sw) => Matched(p, fn, l, r, sw, 0.0) }
      case p @ FnExpr("st_dwithin", Seq(a, b, d)) if d.foldable =>
        val dist = d.eval() match {
          case n: java.lang.Number => n.doubleValue()
          case _ => Double.NaN
        }
        if (dist.isNaN || dist < 0) None
        else sides(a, b).map { case (l, r, sw) => Matched(p, "st_dwithin", l, r, sw, dist) }
      case _ => None
    }.nextOption()
  }

  private def tiled(cond: Expression): Boolean = cond.exists {
    case a: AttributeReference => a.name.startsWith("__graft_tile")
    case _ => false
  }
}

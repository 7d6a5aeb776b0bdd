package graft.plans

import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/**
 * Replacement scan for bare file paths (reference: st_read.cpp:538-553 lets
 * `FROM 'roads.shp'` resolve through ST_Read). Spark's grammar spells it with
 * backticks — `` SELECT * FROM `/data/roads.shp` `` — and the parser splits
 * unquoted dotted names, so the rule re-joins the identifier parts and only
 * fires when the joined name has the extension of a format that declares
 * bare paths (generic tabular and JSON extensions do not) AND exists on
 * disk; real catalog tables can never be shadowed by a non-existent path.
 */
object BarePathRelationRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedRelation =>
      val joined = u.multipartIdentifier.mkString(".")
      val onDisk = joined.stripPrefix("file:")
      if (graft.io.GeoFormat.byExtension(joined).exists(_.barePath) && new java.io.File(onDisk).isFile)
        org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
          graft.io.GeoSource(Seq(onDisk)).table(), None, None)
      else u
  }
}

package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution,
  IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.locationtech.jts.geom.Envelope
import org.locationtech.jts.index.strtree.STRtree
import scala.jdk.CollectionConverters._

/**
 * Broadcast R-tree spatial join — the right plan for the dominant production
 * shape: a huge fact table of geometries joined against a small dimension
 * table (zones, regions, admin boundaries).
 *
 * The tile join (SpatialJoinRule) shuffles BOTH sides by tile id; that is the
 * scalable general plan, but when one side fits in a broadcast it pays an
 * unnecessary full shuffle of the big side. Spark's own fallback for a
 * non-equi join with one small side is BroadcastNestedLoopJoin — which
 * evaluates the predicate against EVERY build row per streamed row
 * (O(|stream| × |build|) exact-predicate calls). This operator broadcasts the
 * small side, builds a JTS STRtree over its geometry envelopes once per
 * executor, and probes it with each streamed row's envelope — candidates drop
 * from |build| to the bbox-overlapping few, then the ORIGINAL join condition
 * runs as the exact residual (so semantics are identical to the Inner join it
 * replaces, for predicates that imply bbox overlap).
 *
 * This is the (c)-tier extension path from the design brief: a custom
 * LogicalPlan + Rule + SparkStrategy + SparkPlan, registered through
 * SparkSessionExtensions. The rule runs BEFORE SpatialJoinRule in the same
 * batch: small-side joins take this plan, everything else falls through to
 * the tile rewrite.
 *
 * Reference parallel: optimizer_rules.cpp rewrites its blockwise-NL join to a
 * bbox IEJoin; on a cluster the broadcast-index probe is the equivalent
 * "avoid the quadratic pair loop" move for the small-dimension case.
 */
case class SpatialBroadcastJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    lGeom: Expression,
    rGeom: Expression,
    condition: Expression,
    buildLeft: Boolean,
    expand: Double) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): SpatialBroadcastJoin =
    copy(left = newLeft, right = newRight)
}

class BroadcastSpatialJoinRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.get("spark.graft.spatialJoin.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val threshold = BroadcastIndex.budget(spark)
    if (!enabled || threshold <= 0) return plan
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _) if j.resolved =>
        SpatialPredicate.find(cond, left, right) match {
          case Some(m) =>
            val lSize = left.stats.sizeInBytes
            val rSize = right.stats.sizeInBytes
            if (rSize <= threshold && rSize <= lSize)
              SpatialBroadcastJoin(left, right, m.lGeom, m.rGeom, cond, buildLeft = false, m.expand)
            else if (lSize <= threshold)
              SpatialBroadcastJoin(left, right, m.lGeom, m.rGeom, cond, buildLeft = true, m.expand)
            else j
          case None => j
        }
    }
  }
}

/** Plans SpatialBroadcastJoin into its physical operator. */
class GraftJoinStrategy(spark: SparkSession)
    extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SpatialBroadcastJoin(l, r, lg, rg, cond, buildLeft, expand) =>
      SpatialBroadcastJoinExec(planLater(l), planLater(r), lg, rg, cond, buildLeft, expand) :: Nil
    case _ => Nil
  }
}

case class SpatialBroadcastJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    lGeom: Expression,
    rGeom: Expression,
    condition: Expression,
    buildLeft: Boolean,
    expand: Double) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output
  override def outputPartitioning: Partitioning = streamed.outputPartitioning

  // The build side arrives through Spark's own BroadcastExchangeExec, as for
  // BroadcastNestedLoopJoinExec: exchange reuse, AQE query stages, the
  // broadcast timeout and the exchange's size/time metrics come with it.
  override def requiredChildDistribution: Seq[Distribution] = {
    val bcast = BroadcastDistribution(IdentityBroadcastMode)
    if (buildLeft) bcast :: UnspecifiedDistribution :: Nil
    else UnspecifiedDistribution :: bcast :: Nil
  }

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numCandidates" -> SQLMetrics.createMetric(sparkContext, "number of R-tree candidates"))

  private def streamed: SparkPlan = if (buildLeft) right else left
  private def build: SparkPlan = if (buildLeft) left else right

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SpatialBroadcastJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val buildGeom = BindReferences.bindReference(
      if (buildLeft) lGeom else rGeom, build.output)
    val streamGeom = if (buildLeft) rGeom else lGeom
    val boundStreamGeom = BindReferences.bindReference(streamGeom, streamed.output)
    val bc = build.executeBroadcast[Array[InternalRow]]()
    // A reused exchange hands one broadcast to joins that may index different
    // build columns, so the tree is keyed by the geometry as well as the id.
    val key = (bc.id, buildGeom.canonicalized)
    val numOutputRows = longMetric("numOutputRows")
    val numCandidates = longMetric("numCandidates")
    val bLeft = buildLeft
    val expandBy = expand
    val condExpr = condition
    val outAttrs = output
    streamed.execute().mapPartitions { iter =>
      val tree = BroadcastIndex.tree(key) {
        val t = new STRtree()
        bc.value.foreach { row =>
          val env = SpatialBroadcastJoinExec.envelope(buildGeom.eval(row))
          if (env != null) t.insert(env, row)
        }
        t
      }
      val joiner = new JoinedRow
      val pred = Predicate.create(condExpr, outAttrs)
      pred.initialize(org.apache.spark.TaskContext.getPartitionId())
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      iter.flatMap { streamRow =>
        val env = SpatialBroadcastJoinExec.envelope(boundStreamGeom.eval(streamRow))
        if (env == null) Iterator.empty
        else {
          env.expandBy(expandBy)
          val cands = tree.query(env)
          numCandidates += cands.size
          // Lazy map/filter keeps the operator-row contract: proj reuses its
          // UnsafeRow buffer, so it must run exactly once per next() and the
          // emitted row stays valid until the consumer pulls again. (An eager
          // lookahead here overwrote emitted rows whenever a streamed row had
          // more than one match.)
          cands.asScala.iterator
            .map { b =>
              val buildRow = b.asInstanceOf[InternalRow]
              if (bLeft) joiner(buildRow, streamRow) else joiner(streamRow, buildRow)
            }
            .filter(pred.eval(_))
            .map { r => numOutputRows += 1; proj(r) }
        }
      }
    }
  }
}

object SpatialBroadcastJoinExec {
  /** The envelope of a WKB value, or null for null, empty or unparsable. */
  private def envelope(gv: Any): Envelope = {
    val e = if (gv == null) null
      else try graft.geom.Wkb.envelope(gv.asInstanceOf[Array[Byte]])
      catch { case _: Exception => null }
    if (e == null) null else new Envelope(e(0), e(2), e(1), e(3))
  }
}

/** The executor-side R-trees over broadcast build sides, shared by
 *  [[SpatialBroadcastJoinExec]] and [[graft.operators.KnnJoin]]: one tree per
 *  (JVM, key) instead of one per task, LRU-bounded at 8 trees. A key starts
 *  with the broadcast id and names what the tree indexes, so two users of
 *  one broadcast never share a tree. Lookups are serialized, so tasks that
 *  start together build a tree once; `broadcastIndex.{hits,misses}` in
 *  [[graft.LruCache.counters]] count them. */
object BroadcastIndex {
  private val trees = new graft.LruCache[(Long, AnyRef), STRtree]("broadcastIndex", 8)

  /** The byte budget for a broadcast build side, shared by the broadcast
    * R-tree join and kNN: spark.graft.spatialJoin.broadcastThreshold, else
    * Spark's autoBroadcastJoinThreshold. A budget <= 0 (e.g. -1) turns off
    * both the broadcast R-tree join and kNN's broadcast path. */
  def budget(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.spatialJoin.broadcastThreshold").map(_.toLong)
      .getOrElse(spark.sessionState.conf.autoBroadcastJoinThreshold)

  def tree(key: (Long, AnyRef))(build: => STRtree): STRtree = synchronized {
    trees.getOrElseUpdate(key) { val t = build; t.build(); t }
  }
}

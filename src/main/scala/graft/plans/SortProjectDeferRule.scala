package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, AttributeSet,
  Expression, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Offset,
  Project, RepartitionByExpression, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/**
 * Defer expensive projections past a global sort.
 *
 * A global ORDER BY plans as Exchange(rangepartitioning) + Sort, and the
 * range exchange SAMPLES its child to compute partition bounds — i.e. it
 * executes the child plan twice (once for the reservoir sample of keys, once
 * for the real shuffle). When the child is a projection of expensive kernel
 * expressions (graft FnExprs: buffers, transforms, WKT serialization) over
 * narrow numeric columns, that doubles every kernel evaluation and ships the
 * computed values — often wide strings — through the range shuffle.
 *
 * This rule rewrites
 *     Sort(k, global, Project([k, expensive...], child))
 * to
 *     Project([k, expensive...], Sort(k, global, Project([k, inputs...], child)))
 * so the sampling pass evaluates only the cheap key projection, the range
 * shuffle carries only fixed-width inputs, and each kernel runs exactly once
 * per row, after the sort (guide §2.4 sort cost / §4 per-row work). A Project
 * above Sort preserves ordering and partitioning, and every ORDER BY key in
 * the declared queries is a total order, so results are byte-identical.
 *
 * A STACK of deterministic Projects under the sort (a geometry built one
 * projection below and read by several kernels above, which CollapseProject
 * keeps apart) moves above the sort whole. Below it stay only the sort keys,
 * substituted down the stack, and the fixed-width base columns the stack
 * reads, so the built geometry is rebuilt after the sort and its bytes never
 * cross the shuffle. This needs key expressions free of kernels and base
 * columns that are all fixed-width primitives (numeric / boolean / date /
 * timestamp). Otherwise only the top Project is split, alias by alias: an
 * alias defers when it holds a graft kernel, is deterministic, is not a sort
 * key, and reads only fixed-width columns; a kernel fed by a string or binary
 * column (say, a real WKB column of the table) stays below the sort, because
 * shipping its raw input instead of its value could widen the shuffle.
 *
 * With everything kernel-heavy above it, the range shuffle's input is narrow,
 * so AQE would coalesce it to one partition and run every deferred kernel in
 * one task. A deferral therefore also fixes the range exchange at one
 * partition per core, min(defaultParallelism, spark.sql.shuffle.partitions),
 * through a RepartitionByExpression on the sort order: its REPARTITION_BY_NUM
 * origin is one AQE does not coalesce, and a range partitioning satisfies the
 * sort, so no exchange is added. That holds only while the below-sort
 * estimate fits that many advisory-size partitions (larger inputs keep AQE's
 * sizing), and never under a LIMIT: ORDER BY ... LIMIT plans as
 * TakeOrderedAndProject over a single Project, which must keep that shape
 * and gain no shuffle, so there only the top Project is split.
 *
 * A one-file scan below spark.sql.files.openCostInBytes is planned as one
 * partition (`SinglePartitionScanStrategy`) and needs no exchange for the
 * sort, so over such a scan this per-core range exchange is the one place
 * its rows fan out to the cores.
 *
 * Disable with spark.graft.sortDefer.enabled=false.
 */
class SortProjectDeferRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def narrow(dt: DataType): Boolean = dt match {
    case _: NumericType | BooleanType | DateType | _: TimestampType => true
    case _ => false
  }

  private def expensive(e: Expression): Boolean =
    e.exists(x => x.getClass.getName.startsWith("graft."))

  /** Sorts that a limit sits on, through Projects and other limits. */
  private def limitedSorts(p: LogicalPlan): Seq[Sort] = p match {
    case s: Sort => Seq(s)
    case _: Project | _: GlobalLimit | _: LocalLimit | _: Tail | _: Offset => limitedSorts(p.children.head)
    case _ => Nil
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (spark.conf.get("spark.graft.sortDefer.enabled", "true") != "true") return plan
    val limited = plan.collect {
      case l @ (_: GlobalLimit | _: LocalLimit | _: Tail | _: Offset) => limitedSorts(l.children.head)
    }.flatten.toSet
    plan.transform {
      case s @ Sort(order, true, top: Project, hint) =>
        val underLimit = limited.contains(s)
        val split = if (underLimit) None else deferStack(order, top)
        split.orElse(deferTop(order, top)) match {
          case Some((above, below)) =>
            above(Sort(order, global = true, if (underLimit) below else perCore(order, below), hint))
          case None => s
        }
    }
  }

  /** The whole Project stack under the sort rebuilt above it, over the sort
    * keys and fixed-width base columns; None when the stack does not qualify. */
  private def deferStack(order: Seq[SortOrder],
                         top: Project): Option[(LogicalPlan => LogicalPlan, LogicalPlan)] = {
    val stack = Iterator.iterate[LogicalPlan](top)(_.children.head)
      .takeWhile(_.isInstanceOf[Project]).map(_.asInstanceOf[Project]).toList
    if (!stack.forall(_.projectList.forall(_.deterministic)) ||
        !stack.exists(_.projectList.exists(expensive))) return None
    val keys = AttributeSet(order.flatMap(_.references)).toSeq.map { k =>
      val e = stack.foldLeft(k: Expression) { (x, p) =>
        val defs = AttributeMap(p.projectList.collect { case a: Alias => a.toAttribute -> a.child })
        x.transformUp { case r: Attribute => defs.getOrElse(r, r) }
      }
      e match {
        case a: Attribute if a.exprId == k.exprId => a
        case _ => Alias(e, k.name)(exprId = k.exprId, qualifier = k.qualifier)
      }
    }
    if (keys.exists(expensive)) return None
    val keyAttrs = AttributeSet(keys.map(_.toAttribute))
    // each Project reads the keys from the sort and passes them up
    val rebuilt = stack.map { p =>
      val list = p.projectList.map {
        case a: Alias if keyAttrs.contains(a.toAttribute) => a.toAttribute
        case ne => ne
      }
      list ++ keyAttrs.toSeq.filterNot(k => list.exists(_.exprId == k.exprId))
    }
    val base = (AttributeSet(rebuilt.last.flatMap(_.references)) -- keyAttrs).toSeq
    if (!base.forall(a => narrow(a.dataType))) return None
    val above = (sorted: LogicalPlan) => rebuilt.foldRight(sorted)((list, c) => Project(list, c))
    Some((above, Project(keys ++ base, stack.last.child)))
  }

  /** The top Project's deferrable kernel aliases moved above the sort, the
    * rest and the deferred aliases' inputs kept below; None when none defers. */
  private def deferTop(order: Seq[SortOrder],
                       top: Project): Option[(LogicalPlan => LogicalPlan, LogicalPlan)] = {
    val orderRefs = AttributeSet(order.flatMap(_.references))
    val (defer, keep) = top.projectList.partition {
      case a: Alias =>
        expensive(a.child) && a.child.deterministic &&
          !orderRefs.contains(a.toAttribute) &&
          a.child.references.forall(r => narrow(r.dataType))
      case _ => false
    }
    if (defer.isEmpty) return None
    val deferIds = defer.map(_.exprId).toSet
    val neededBelow = AttributeSet(defer.flatMap(_.references))
    val keptAttrs = AttributeSet(keep.collect { case a: Attribute => a })
    val passThru = (neededBelow -- keptAttrs).toSeq
    val aboveList: Seq[NamedExpression] = top.projectList.map {
      case a: Alias if deferIds.contains(a.exprId) => a
      case ne => ne.toAttribute
    }
    Some((Project(aboveList, _), Project(keep ++ passThru, top.child)))
  }

  /** `below` range-partitioned on the sort order into one partition per core,
    * when its estimate fits that many advisory-size partitions. */
  private def perCore(order: Seq[SortOrder], below: LogicalPlan): LogicalPlan = {
    val conf = spark.sessionState.conf
    val n = math.min(spark.sparkContext.defaultParallelism, conf.numShufflePartitions)
    if (below.stats.sizeInBytes <= BigInt(n) * conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      RepartitionByExpression(order, below, Some(n))
    else below
  }
}

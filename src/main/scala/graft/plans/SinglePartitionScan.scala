package graft.plans

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}

/**
 * Plans a file scan that Spark reads as one partition so that it reports
 * `SinglePartition`, and the joins, aggregates, windows and global sorts
 * above it need no exchange.
 *
 * A file no larger than min(spark.sql.files.openCostInBytes,
 * spark.sql.files.maxPartitionBytes) is never split by the file planner
 * (`FilePartition.maxSplitBytes` is at least that large), so a scan of
 * exactly one such file is one partition. Spark still reports it as
 * `UnknownPartitioning(1)`, which satisfies no clustered or ordered
 * distribution: `EnsureRequirements` adds a hash or range exchange above
 * it, each a map-stage job of its own, and a range exchange also a
 * sampling job. On a small interactive query those fixed costs are most of
 * the latency.
 *
 * The scan qualifies when it is a non-streaming `LogicalRelation` over a
 * non-bucketed `HadoopFsRelation` whose file index already lists exactly
 * one file of at most that size (no new listing). It is planned as
 * `FileSourceStrategy` plans it, under a `CoalesceExec(1)`: the placement
 * is a guarantee rather than an estimate, so the result stays correct even
 * if the file changes between planning and execution. The logical plan is
 * not changed, so no optimizer rule, statistic or cache match sees a
 * difference. Explicit repartitions (`SortProjectDeferRule`'s per-core
 * range exchange, `SpatialJoinRule`'s sized exchange) are logical nodes and
 * stay; the sized exchange is planned only above the session's partition
 * count times its target bytes, so a tile join of two such scans runs in
 * one task.
 */
class SinglePartitionScanStrategy(spark: SparkSession) extends SparkStrategy with Logging {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, _, l: LogicalRelation) if !l.isStreaming =>
      oneSplitFile(l) match {
        case Some((path, len)) =>
          val planned = FileSourceStrategy(plan)
          if (planned.nonEmpty)
            logInfo(s"one-split scan of $path ($len B) planned as one partition")
          planned.map(CoalesceExec(1, _))
        case None => Nil
      }
    case _ => Nil
  }

  /** The one file (path, length) of `l` when the file planner reads it as
    * one partition. */
  private def oneSplitFile(l: LogicalRelation): Option[(String, Long)] = l.relation match {
    case fs: HadoopFsRelation if fs.bucketSpec.isEmpty =>
      fs.location match {
        case index: PartitioningAwareFileIndex =>
          val files = index.allFiles()
          val conf = spark.sessionState.conf
          val limit = math.min(conf.filesOpenCostInBytes, conf.filesMaxPartitionBytes)
          if (files.size == 1 && files.head.getLen <= limit)
            Some((files.head.getPath.toString, files.head.getLen))
          else None
        case _ => None
      }
    case _ => None
  }
}

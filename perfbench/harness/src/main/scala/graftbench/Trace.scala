package graftbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.AllTuples
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import scala.collection.mutable

/** Local properties that tie a Spark job to the query execution and the
  * benchmark phase (construct, plan, exec) that submitted it. */
object Props {
  val Exec = "graftbench.exec"
  val Phase = "graftbench.phase"
}

final class JobRec(val jobId: Int, val exec: String, val phase: String, val start: Long,
    val stageIds: Seq[Int], val callSite: String, val sqlExecution: Option[String]) {
  var end: Long = -1L
  var ok: Boolean = true
  def seconds: Double = if (end < 0) 0.0 else (end - start) / 1e3
  /** True when the job was submitted from inside `pkg` (its call-site stack names it). */
  def from(pkg: String): Boolean = callSite.contains(pkg)
}

final class StageRec(val stageId: Int, val attempt: Int) {
  var name = ""
  var submitted = -1L
  var completed = -1L
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

/** Records every job, stage and task that carries a [[Props.Exec]] id.
  * Events arrive on the listener-bus thread; readers drain the bus first. */
final class BenchListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Props.Exec))).foreach { exec =>
      val phase = props.flatMap(p => Option(p.getProperty(Props.Phase))).getOrElse("exec")
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      val sqlExecution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobs(e.jobId) = new JobRec(e.jobId, exec, phase, e.time, e.stageIds, site, sqlExecution)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  private def stage(id: Int, attempt: Int): Option[StageRec] =
    if (stageJob.contains(id)) Some(stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt)))
    else None

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber()).foreach { s =>
      s.name = i.name
      s.submitted = i.submissionTime.getOrElse(-1L)
      s.completed = i.completionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stage(e.stageId, e.stageAttemptId).foreach { s =>
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.waitMs += schedulerDelay(e.taskInfo, m)
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Spark UI's scheduler delay: task duration not spent running,
    * (de)serializing or fetching the result. */
  private def schedulerDelay(t: TaskInfo, m: org.apache.spark.executor.TaskMetrics): Long = {
    val duration = t.finishTime - t.launchTime
    val fetch = if (t.gettingResultTime > 0) t.finishTime - t.gettingResultTime else 0L
    math.max(0L, duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - fetch)
  }

  def stagesOf(j: JobRec): Seq[StageRec] = synchronized {
    val ids = j.stageIds.toSet
    stages.values.filter(s => ids(s.stageId)).toSeq
  }
}

/** Counts over a physical plan, descending into adaptive query stages and subqueries. */
object PlanStats extends AdaptiveSparkPlanHelper with PredicateHelper {
  def isTileFn(e: Expression): Boolean = e match {
    case graft.functions.FnExpr(fn, _) => fn.startsWith("st_tile_id")
    case _ => false
  }

  def tileJoins(plan: SparkPlan): Seq[BaseJoinExec] = collectWithSubqueries(plan) {
    case j: BaseJoinExec if j.condition.exists(_.exists(isTileFn)) => j
  }

  def apply(plan: SparkPlan): Map[String, Double] = {
    def count(pf: PartialFunction[SparkPlan, Unit]): Double =
      collectWithSubqueries(plan) { case p if pf.isDefinedAt(p) => p }.size.toDouble
    val tiles = tileJoins(plan)
    Map(
      "exchanges" -> count { case _: Exchange => },
      "broadcast_spatial_joins" -> count { case _: graft.plans.SpatialBroadcastJoinExec => },
      "tile_joins" -> tiles.size.toDouble,
      "single_partition_nodes" -> count {
        case p if !p.isInstanceOf[BaseAggregateExec] &&
          p.requiredChildDistribution.contains(AllTuples) =>
      },
      "tile_join_rows" -> tiles.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum.toDouble)
  }

  /** The tile joins of an optimized plan with only their tile-key equalities
    * kept: counting their rows gives the candidate pairs the residual sees. */
  def candidateJoins(optimized: LogicalPlan): Seq[LogicalPlan] = optimized.collect {
    case j @ Join(l, r, _, Some(cond), _) if cond.exists(isTileFn) =>
      val keys = splitConjunctivePredicates(cond).collect {
        case eq @ EqualTo(a, b) if !eq.exists(isTileFn) &&
            ((a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)) ||
             (a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet))) => eq
      }
      j.copy(condition = keys.reduceOption[Expression](And))
  }
}

final case class Span(id: Int, parent: Int, name: String, exec: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def ms: Double = endMs - startMs
}

/** Span trees per query execution. Self time of a span is its duration less
  * the part of it that its children cover. */
final class SpanLog {
  val spans = mutable.ArrayBuffer[Span]()
  def add(parent: Int, name: String, exec: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Int = {
    val id = spans.size
    spans += Span(id, parent, name, exec, startMs, endMs, attrs)
    id
  }

  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> math.max(0.0, s.ms - covered)
    }.toMap
  }

  def rows: Seq[Map[String, Any]] = {
    val self = selfMs
    spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "exec" -> s.exec, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "self_ms" -> self(s.id), "attrs" -> s.attrs))
  }
}

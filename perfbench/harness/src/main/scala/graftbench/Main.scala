package graftbench

import graft.{Graft, SparkEntry}
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Access
import scala.collection.mutable

/** Benchmark harness: runs one workload's query list against graft as a
  * closed loop with one client (each query is submitted only after the
  * previous one completed) and writes a run record for `run.py`.
  *
  * Every timed execution constructs the query through `SparkEntry.queries`,
  * plans it and runs `queryExecution.toRdd.count()`, with the kernel memos
  * cleared first. With `--trace 1` untraced and traced passes alternate and
  * the traced ones record a span tree per execution. */
object Main {
  /** Untimed passes run after the check pass, at least this many and for
    * at least this long: before that the JIT is still compiling the query
    * paths and pass times fall from pass to pass. */
  val WarmupPasses = 3
  val WarmupSeconds = 18.0
  /** Timed passes at least, so pass_s is a median of this many or more. */
  val MinPasses = 4

  final case class Args(data: String, out: String, queries: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toSeq
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    Args(one("data"), one("out"), one("queries").split(',').toSeq, one("seed").toLong,
      one("seconds").toDouble, one("trace") == "1", one("cpus").toInt)
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  // nanoTime ↔ epoch milliseconds, so spans line up with listener event times
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis().toDouble
  private def epochMs(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(a.out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.out, "warehouse").getAbsolutePath)
      // the data are 1/100 of the sizes the workloads model, so is this threshold
      .config("spark.sql.autoBroadcastJoinThreshold", "100k")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Graft.register(s)
    s
  }

  /** Fixed warm-up, the same for every workload: one kernel and one fixture scan. */
  def warmUp(s: SparkSession, data: String): Unit = {
    s.range(1000).selectExpr("st_astext(st_point(cast(id AS DOUBLE), 1.0d))")
      .queryExecution.toRdd.count()
    s.read.parquet(s"$data/region.parquet").queryExecution.toRdd.count()
  }

  final case class Exec(pass: Int, name: String, id: String, ok: Boolean, error: String,
      t0: Long, t1: Long, t2: Long, t3: Long, rows: Long,
      phases: Map[String, (Long, Long)], rules: Map[String, (Double, Double)],
      plan: Map[String, Double]) {
    def latency: Double = secs(t0, t3)
  }
  final case class Pass(no: Int, traced: Boolean, wall: Double, cpu: Double, execs: Seq[Exec])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = now() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val hostStart = Host.snapshot()
    val unknown = a.queries.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(3)
    }
    // set-up: from JVM start until the session is built, graft is registered
    // and the warm-up is done, so one-time costs (class loading, static
    // initialisers, the first registration) are in it
    val spark = session(a)
    warmUp(spark, a.data)
    val setupS = secs(jvmStart, now())
    val checkStart = now()
    val checkErrors = checkPass(spark, a)
    val checkS = secs(checkStart, now())

    // ---- warm-up passes, then timed passes ---------------------------------
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // the listener is attached during traced passes only, so untraced passes
    // pay none of its cost and trace.overhead_s includes it
    val listener = new BenchListener
    def pass(no: Int, traced: Boolean): Pass = {
      // the order depends on the seed and the pass number only
      val order = new scala.util.Random(a.seed * 1000003L + no).shuffle(a.queries)
      if (traced) spark.sparkContext.addSparkListener(listener)
      val c0 = os.getProcessCpuTime
      val w0 = now()
      val execs = order.map(name => execute(spark, a.data, no, name, traced))
      val p = Pass(no, traced, secs(w0, now()), (os.getProcessCpuTime - c0) / 1e9, execs)
      if (traced) {
        Access.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      p
    }
    // passes while the JIT settles: their samples are kept, not used
    val warmStart = now()
    val warmups = mutable.ArrayBuffer[Pass]()
    while (warmups.size < WarmupPasses || now() < warmStart + (WarmupSeconds * 1e9).toLong)
      warmups += pass(-(warmups.size + 1), traced = false)
    val passes = mutable.ArrayBuffer[Pass]()
    val start = now()
    // whole passes until --seconds have gone and at least MinPasses ran;
    // a traced run needs two traced ones
    def more: Boolean = passes.size < MinPasses || now() < start + (a.seconds * 1e9).toLong ||
      (a.trace && passes.count(_.traced) < 2)
    while (more) {
      val no = passes.size
      // untraced/traced in ABBA order, so warm-up drift cancels in the overhead
      passes += pass(no, a.trace && (no % 4 == 1 || no % 4 == 2))
    }
    val measured = secs(start, now())

    val probeStart = now()
    val layers = if (a.trace) traceFigures(spark, a, passes.toSeq, listener) else Map.empty[String, Double]
    val record = Map(
      "setup_s" -> setupS,
      "check_s" -> checkS,
      "warmup_s" -> secs(warmStart, start),
      "measured_s" -> measured,
      "probes_s" -> (if (a.trace) secs(probeStart, now()) else 0.0),
      "warmup_passes" -> warmups.map(passJson),
      "passes" -> passes.map(passJson),
      "check_errors" -> checkErrors,
      "peak_rss_mb" -> Host.vmHwmKb() / 1024.0,
      "layers" -> layers,
      "host" -> Map("start" -> hostStart, "end" -> Host.snapshot()))
    Files.writeString(Paths.get(a.out, "record.json"), Json(record))
    spark.stop()
    sys.exit(0)
  }

  /** Untimed: each query's result to parquet, with the oracle SQL beside them. */
  def checkPass(spark: SparkSession, a: Args): Map[String, String] = {
    val checkDir = new File(a.out, "check")
    val errors = a.queries.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, a.data).coalesce(1).write.mode("overwrite")
          .parquet(new File(checkDir, name).getPath)
        None
      } catch { case e: Throwable => Some(name -> String.valueOf(e.getMessage).take(500)) }
    }
    val tag = SparkEntry.fixtureTag(a.data)
    Files.writeString(Paths.get(checkDir.getPath, "oracle_sql.json"), Json(a.queries.flatMap(n =>
      SparkEntry.oracleSql.get(n).map(sql => n -> sql.replace("__SFTAG__", tag))).toMap))
    errors.toMap
  }

  /** Per-layer figures of a traced run (medians over traced passes, plus the
    * probes); writes the span trees and per-query values to trace.json. */
  def traceFigures(spark: SparkSession, a: Args, passes: Seq[Pass],
      listener: BenchListener): Map[String, Double] = {
    val spans = new SpanLog
    val (traced, untraced) = passes.partition(_.traced)
    val perPass = traced.map(p => layerPass(p, listener, spans))
    val medians = perPass.flatMap(_.keys).distinct
      .map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap
    val execs = traced.flatMap(_.execs)
    val residual = residualKeepRatio(spark, execs)
    val fns = Layers.functions(spark, 10000, a.seed, 3)
    val io = Layers.io(spark, new File(a.out, "io"), 2000, a.seed, 3)
    Files.writeString(Paths.get(a.out, "trace.json"), Json(Map(
      "spans" -> spans.rows,
      "executions" -> execs.map(e => Map(
        "pass" -> e.pass, "query" -> e.name, "exec" -> e.id, "ok" -> e.ok,
        "latency_s" -> e.latency, "construct_s" -> secs(e.t0, e.t1),
        "plan_s" -> secs(e.t1, e.t2), "exec_s" -> secs(e.t2, e.t3), "rows" -> e.rows,
        "plan" -> e.plan, "rules" -> e.rules.map { case (r, (ms, eff)) =>
          r -> Map("ms" -> ms, "effective" -> eff) })))))
    medians ++ fns ++ io ++ Map(
      "plans.tile_join.residual_keep_ratio" -> residual,
      "trace.overhead_s" -> (median(traced.map(_.wall)) - median(untraced.map(_.wall))))
  }

  def passJson(p: Pass): Map[String, Any] = Map("pass" -> p.no, "traced" -> p.traced,
    "wall_s" -> p.wall, "cpu_s" -> p.cpu,
    "executions" -> p.execs.map(e => Map("query" -> e.name, "latency_s" -> e.latency,
      "ok" -> e.ok, "error" -> e.error)))

  /** One execution: construct, plan, run; spans and plan counts when traced. */
  def execute(spark: SparkSession, data: String, pass: Int, name: String, traced: Boolean): Exec = {
    val sc = spark.sparkContext
    val id = s"p$pass.$name"
    def phase(p: String): Unit = if (traced) sc.setLocalProperty(Props.Phase, p)
    if (traced) sc.setLocalProperty(Props.Exec, id)
    Graft.clearKernelMemos()
    val t0 = now()
    var t1, t2 = t0
    var rows = -1L
    var error: String = null
    var qe: org.apache.spark.sql.execution.QueryExecution = null
    try {
      phase("construct")
      val df = SparkEntry.queries(name)(spark, data)
      t1 = now()
      phase("plan")
      qe = df.queryExecution
      qe.executedPlan
      t2 = now()
      phase("exec")
      rows = qe.toRdd.count()
    } catch { case e: Throwable => error = String.valueOf(e.getMessage).take(500) }
    val t3 = now()
    if (t1 == t0) t1 = t3
    if (t2 == t0) t2 = t3
    sc.setLocalProperty(Props.Exec, null)
    sc.setLocalProperty(Props.Phase, null)
    val (phases, rules, plan) =
      if (!traced || qe == null) (Map.empty[String, (Long, Long)], Map.empty[String, (Double, Double)],
        Map.empty[String, Double])
      else (
        qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) },
        qe.tracker.rules.map { case (k, v) =>
          k -> (v.totalTimeNs / 1e6, v.numEffectiveInvocations.toDouble) },
        if (error == null) PlanStats(qe.executedPlan) else Map.empty[String, Double])
    if (traced && qe != null && plan.getOrElse("tile_joins", 0.0) > 0) tileQe(id) = qe
    Exec(pass, name, id, error == null, error, t0, t1, t2, t3, rows, phases, rules, plan)
  }

  /** The executions whose final plan holds a tile join, for the residual ratio. */
  private val tileQe = mutable.LinkedHashMap[String, org.apache.spark.sql.execution.QueryExecution]()

  /** Rows out of the tile joins over the candidate pairs their tile keys
    * produce, pooled over one traced execution of each tile-joining query;
    * 0 when no tile join ran. */
  def residualKeepRatio(spark: SparkSession, execs: Seq[Exec]): Double = {
    val firstPerQuery = execs.filter(e => tileQe.contains(e.id)).groupBy(_.name).values.map(_.head)
    val (kept, candidates) = firstPerQuery.foldLeft((0.0, 0.0)) { case ((k, c), e) =>
      val qe = tileQe(e.id)
      val cand = PlanStats.candidateJoins(qe.optimizedPlan)
        .map(j => Access.ofRows(spark, j).count().toDouble).sum
      (k + e.plan("tile_join_rows"), c + cand)
    }
    if (candidates > 0) kept / candidates else 0.0
  }

  private val injectedRules = Seq("MeasureFusionRule", "BroadcastSpatialJoinRule",
    "SpatialJoinRule", "RangeJoinRule", "BboxSkippingRule", "SaltedUnionAggRule",
    "SortProjectDeferRule", "BarePathRelationRule")

  /** Per-layer sums for one traced pass; records its spans on the way. */
  def layerPass(p: Pass, listener: BenchListener, log: SpanLog): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = m(k) = m(k) + v
    val jobsByExec = listener.synchronized(listener.jobs.values.toSeq).groupBy(_.exec)
    p.execs.foreach { e =>
      val root = log.add(-1, "query", e.id, epochMs(e.t0), epochMs(e.t3),
        Map("query" -> e.name, "pass" -> e.pass, "ok" -> e.ok, "rows" -> e.rows))
      val construct = log.add(root, "SparkEntry.construct", e.id, epochMs(e.t0), epochMs(e.t1))
      val plan = log.add(root, "plans.plan", e.id, epochMs(e.t1), epochMs(e.t2))
      val run = log.add(root, "exec.run", e.id, epochMs(e.t2), epochMs(e.t3))
      e.phases.foreach { case (ph, (s, end)) =>
        val parent = if (s < epochMs(e.t1)) construct else plan
        log.add(parent, s"plans.$ph", e.id, s.toDouble, end.toDouble)
        add(s"plans.${ph}_s", (end - s) / 1e3)
      }
      add("SparkEntry.construct_s", secs(e.t0, e.t1))
      add("plans.plan_s", secs(e.t1, e.t2))
      add("exec.s", secs(e.t2, e.t3))
      if (e.rows > 0) add("exec.output_rows", e.rows.toDouble)
      injectedRules.foreach { r =>
        val hit = e.rules.collect { case (k, v) if k.endsWith("." + r) || k == r => v }
        add(s"plans.rule.$r.ms", hit.map(_._1).sum)
        add(s"plans.rule.$r.effective", hit.map(_._2).sum)
      }
      Seq("exchanges", "broadcast_spatial_joins", "tile_joins", "single_partition_nodes")
        .foreach(k => add(s"plans.$k", e.plan.getOrElse(k, 0.0)))
      jobsByExec.getOrElse(e.id, Nil).foreach { j =>
        val parent = j.phase match {
          case "construct" => construct
          case "plan" => plan
          case _ => run
        }
        val jobSpan = log.add(parent, "job", e.id, j.start.toDouble, math.max(j.start, j.end).toDouble,
          Map("job" -> j.jobId, "phase" -> j.phase, "ok" -> j.ok,
            "site" -> j.callSite.linesIterator.filter(_.startsWith("graft.")).take(3).toSeq))
        val stages = listener.stagesOf(j)
        stages.foreach { s =>
          log.add(jobSpan, "stage", e.id, s.submitted.toDouble, math.max(s.submitted, s.completed).toDouble,
            Map("stage" -> s.stageId, "attempt" -> s.attempt, "name" -> s.name, "tasks" -> s.tasks,
              "task_run_ms" -> s.runMs, "shuffle_write_bytes" -> s.shuffleWrite,
              "shuffle_read_bytes" -> s.shuffleRead))
        }
        j.phase match {
          case "construct" => add("SparkEntry.construct_jobs", 1)
          case "plan" =>
            add("plans.sampling_jobs", 1)
            add("plans.sampling_s", j.seconds)
          case _ =>
            add("exec.jobs", 1)
            add("exec.stages", stages.size)
            stages.foreach { s =>
              add("exec.tasks", s.tasks)
              add("exec.failed_tasks", s.failedTasks)
              add("exec.task_run_s", s.runMs / 1e3)
              add("exec.task_cpu_s", s.cpuNs / 1e9)
              add("exec.gc_s", s.gcMs / 1e3)
              add("exec.task_wait_s", s.waitMs / 1e3)
              add("exec.shuffle_write_mb", s.shuffleWrite / 1048576.0)
              add("exec.shuffle_read_mb", s.shuffleRead / 1048576.0)
              add("exec.spill_mb", s.spill / 1048576.0)
              add("exec.input_mb", s.inputBytes / 1048576.0)
              add("exec.input_rows", s.inputRows.toDouble)
            }
        }
      }
      // One SQL execution's jobs (its adaptive stages included) belong to the
      // call that started it: an operator's driver loop or a Ckpt.stage.
      jobsByExec.getOrElse(e.id, Nil)
        .groupBy(j => j.sqlExecution.getOrElse(s"job-${j.jobId}")).values.foreach { group =>
          val wall = (group.map(_.end).max - group.map(_.start).min) / 1e3
          if (group.exists(j => j.from("graft.operators.") || j.from("graft.ann."))) {
            add("operators.jobs", group.size)
            add("operators.s", wall)
          }
          if (group.exists(_.from("graft.Ckpt$.stage"))) add("Ckpt.stage_s", wall)
        }
    }
    m.toMap
  }
}

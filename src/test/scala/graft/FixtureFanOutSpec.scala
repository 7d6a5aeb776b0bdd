package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** The catalog's fan-out rule (`SparkEntry.fixture`): an under-split input
  * table is shuffled to the cores only when it is persisted (the shuffle is
  * paid once), or when its files total at least
  * `spark.sql.files.openCostInBytes` (it pays in every query). Every other
  * table is read as it lies. The tables are sf0.001-sized (6,000 lineitem
  * rows, 1,500 orders, one file each), written to a fresh dir per test: the
  * fixture map is keyed by dir, so no test sees another's entries. */
class FixtureFanOutSpec extends AnyFunSuite with TempDirs with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkTestSession.spark
  private lazy val cores = spark.sparkContext.defaultParallelism
  private val cacheKey = "spark.graft.fixtureCache.enabled"
  private val openCostKey = "spark.sql.files.openCostInBytes"
  // each query with the tables it registers
  private val queries = Seq("q_point_xy" -> 1, "q_dwithin_selective" -> 2)

  private def tables(): String = {
    val dir = tempDir("graft_fanout").toString
    spark.range(0, 6000, 1, 1).selectExpr("id div 4 AS l_orderkey",
        "(id * 7) % 200 AS l_partkey", "(id * 13) % 10 AS l_suppkey",
        "CAST(id % 4 + 1 AS INT) AS l_linenumber")
      .write.parquet(s"$dir/lineitem.parquet")
    spark.range(0, 1500, 1, 1).selectExpr("id AS o_orderkey", "(id * 17) % 150 AS o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    dir
  }

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def run(name: String, dir: String): (SparkPlan, Seq[Row]) = {
    val df = SparkEntry.queries(name)(spark, dir)
    val rows = df.collect().toSeq
    (df.queryExecution.executedPlan, rows)
  }

  /** The widths of the round-robin exchanges in `plan`, outside any cached
    * relation (an `InMemoryTableScanExec` is a leaf here). */
  private def roundRobins(plan: SparkPlan): Seq[Int] = collect(plan) {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] =>
      e.outputPartitioning.numPartitions
  }

  private def cachedScans(plan: SparkPlan): Seq[InMemoryTableScanExec] =
    collect(plan) { case s: InMemoryTableScanExec => s }

  test("cache off: a table below the open cost is read as it lies, with the same rows") {
    val dir = tables()
    withConf(cacheKey -> "false") {
      queries.foreach { case (q, _) =>
        val (plan, rows) = run(q, dir)
        assert(roundRobins(plan).isEmpty, s"$q:\n$plan")
        val fanned = withConf(openCostKey -> "1")(run(q, dir))._2
        assert(rows.nonEmpty && rows == fanned, q)
      }
    }
  }

  test("a table at or above the open cost fans out: one round-robin exchange per table") {
    val dir = tables()
    withConf(cacheKey -> "false", openCostKey -> "1") {
      queries.foreach { case (q, n) =>
        val (plan, _) = run(q, dir)
        assert(roundRobins(plan) == Seq.fill(n)(cores), s"$q:\n$plan")
      }
    }
  }

  test("cache on: the table fans out once, is persisted, and later queries read it") {
    val dir = tables()
    withConf(cacheKey -> "true") {
      run("q_point_xy", dir)
      assert(spark.catalog.isCached("lineitem"))
      assert(spark.table("lineitem").rdd.getNumPartitions == cores)
      val (plan, _) = run("q_point_xy", dir)
      val scans = cachedScans(plan)
      assert(scans.size == 1, plan.toString)
      assert(roundRobins(plan).isEmpty, plan.toString)
      assert(roundRobins(scans.head.relation.cachedPlan) == Seq(cores))
    }
  }

  test("flipping the cache flag never serves a one-partition persisted table") {
    val dir = tables()
    val rows = Seq(false, true, false, true, false).map { on =>
      withConf(cacheKey -> on.toString) {
        val (plan, rows) = run("q_point_xy", dir)
        assert(spark.catalog.isCached("lineitem") == on, s"cache $on")
        if (on) assert(spark.table("lineitem").rdd.getNumPartitions == cores)
        else assert(cachedScans(plan).isEmpty && roundRobins(plan).isEmpty, plan.toString)
        rows
      }
    }
    assert(rows.distinct.size == 1)
  }
}

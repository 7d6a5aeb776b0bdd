package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** `SinglePartitionScanStrategy`: a scan of one file that the file planner
  * reads as one partition (at most min(openCostInBytes, maxPartitionBytes))
  * reports `SinglePartition`, so a join, an aggregate, a window and a global
  * sort over it plan no shuffle, with the rows of the same data written as
  * two files. Larger files, a lowered maxPartitionBytes and bucketed tables
  * keep today's exchanges, and an explicit repartition stays. */
class SinglePartitionScanSpec extends AnyFunSuite with TempDirs with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkTestSession.spark
  private val openCost = "spark.sql.files.openCostInBytes"
  private val maxPartition = "spark.sql.files.maxPartitionBytes"
  // a join of two small inputs would broadcast; it must shuffle to test
  private val noBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  /** The tables `a` (ids 0..1999) and `b` (keys 0..49) written under `dir`
    * as `files` parquet files each. */
  private def tables(files: Int): String = {
    val dir = tempDir("graft_onesplit").toString
    spark.range(0, 2000, 1, 1).selectExpr("id", "id % 50 AS k", "(id * 37) % 1000 AS v")
      .repartition(files).write.parquet(s"$dir/a")
    spark.range(0, 50, 1, 1).selectExpr("id AS k", "id * 3 AS w")
      .repartition(files).write.parquet(s"$dir/b")
    dir
  }

  private def dataFiles(path: String): Seq[java.io.File] =
    new java.io.File(path).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))

  private val queries = Seq(
    "join" -> "SELECT a.id, a.v, b.w FROM a JOIN b ON a.k = b.k",
    "group by" -> "SELECT k, count(*) AS n, sum(v) AS s FROM a GROUP BY k",
    "window" -> "SELECT id, row_number() OVER (PARTITION BY k ORDER BY v, id) AS r FROM a",
    "order by" -> "SELECT id, v FROM a ORDER BY v, id")

  /** `sql` over the tables of `dir`: its rows and its executed plan. */
  private def run(dir: String, sql: String): (Seq[Row], SparkPlan) = {
    spark.read.parquet(s"$dir/a").createOrReplaceTempView("a")
    spark.read.parquet(s"$dir/b").createOrReplaceTempView("b")
    val df: DataFrame = spark.sql(sql)
    val rows = df.collect().toSeq
    (rows, df.queryExecution.executedPlan)
  }

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case e: ShuffleExchangeExec => e }

  test("a join, a GROUP BY, a window and an ORDER BY over one small file plan no shuffle") {
    val one = tables(1)
    val two = tables(2)
    assert(dataFiles(s"$one/a").size == 1 && dataFiles(s"$two/a").size == 2)
    TestFiles.withConfs(noBroadcast) {
      queries.foreach { case (name, sql) =>
        val (rows, plan) = run(one, sql)
        assert(shuffles(plan).isEmpty, s"$name over one file:\n$plan")
        val (rows2, plan2) = run(two, sql)
        assert(shuffles(plan2).nonEmpty, s"$name over two files:\n$plan2")
        if (name == "order by") assert(rows == rows2, name)
        else assert(rows.map(_.toString).sorted == rows2.map(_.toString).sorted, name)
        assert(rows.nonEmpty, name)
      }
    }
  }

  test("a file above the open cost, or above maxPartitionBytes, keeps its exchanges") {
    val dir = tables(1)
    val size = dataFiles(s"$dir/a").head.length
    Seq(openCost -> (size - 1).toString, maxPartition -> (size / 2).toString).foreach { conf =>
      TestFiles.withConfs(noBroadcast, conf) {
        queries.foreach { case (name, sql) =>
          val (_, plan) = run(dir, sql)
          assert(shuffles(plan).nonEmpty, s"$name with ${conf._1}=${conf._2}:\n$plan")
        }
      }
    }
  }

  test("a bucketed one-file table keeps its exchanges") {
    val dir = tempDir("graft_onesplit_bucketed").toString
    spark.sql(s"CREATE TABLE onesplit_bucketed (id BIGINT, k BIGINT, v BIGINT) USING parquet " +
      s"CLUSTERED BY (k) INTO 1 BUCKETS LOCATION '$dir/t'")
    try {
      spark.range(0, 2000, 1, 1).selectExpr("id", "id % 50 AS k", "(id * 37) % 1000 AS v")
        .write.insertInto("onesplit_bucketed")
      assert(dataFiles(s"$dir/t").size == 1)
      val df = spark.sql("SELECT v, count(*) AS n FROM onesplit_bucketed GROUP BY v")
      assert(df.collect().length == 1000)
      assert(shuffles(df.queryExecution.executedPlan).nonEmpty, df.queryExecution.executedPlan.toString)
    } finally spark.sql("DROP TABLE IF EXISTS onesplit_bucketed")
  }

  test("a deferred-kernel ORDER BY over a one-split scan keeps its per-core range exchange") {
    Graft.register(spark)
    val dir = tables(1)
    val (rows, plan) = run(dir,
      """SELECT id, st_astext(st_buffer(st_point(cast(k AS DOUBLE), 0d), 1d, 4)) AS wkt
        |FROM a ORDER BY v, id""".stripMargin)
    val perCore =
      math.min(spark.sparkContext.defaultParallelism, spark.sessionState.conf.numShufflePartitions)
    assert(perCore > 1, s"needs more than one core: $perCore")
    val all = shuffles(plan)
    assert(all.map(_.shuffleOrigin) == Seq(REPARTITION_BY_NUM), plan.toString)
    assert(all.map(_.outputPartitioning.numPartitions) == Seq(perCore), plan.toString)
    assert(rows.length == 2000)
  }
}

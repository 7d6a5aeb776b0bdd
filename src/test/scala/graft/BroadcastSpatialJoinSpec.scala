package graft

import graft.TestFiles.withConfs
import graft.operators.KnnJoin
import graft.plans.SpatialBroadcastJoinExec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Broadcast R-tree spatial join: small-side joins must take the
  * SpatialBroadcastJoinExec plan (no shuffle of the big side, no
  * BroadcastNestedLoopJoin pair scan), receive the build side through Spark's
  * broadcast exchange, and produce results identical to both the tile rewrite
  * and the naive join. */
class BroadcastSpatialJoinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark: SparkSession = SparkTestSession.spark

  /** A pinned cell for the joins that fall back to the tile rewrite. */
  override def withFixture(test: NoArgTest): Outcome =
    withConfs("spark.graft.spatialJoin.cellSize" -> "10.0")(super.withFixture(test))

  /** The join nodes of `df`'s executed plan (the AQE-final one once run). */
  private def joinsOf(df: DataFrame): Seq[SpatialBroadcastJoinExec] =
    collect(df.queryExecution.executedPlan) { case j: SpatialBroadcastJoinExec => j }

  private def nodes(df: DataFrame)(pf: PartialFunction[SparkPlan, Unit]): Int =
    collect(df.queryExecution.executedPlan) { case p if pf.isDefinedAt(p) => p }.size

  private def indexMisses: Long = LruCache.counters.getOrElse("broadcastIndex.misses", 0L)

  private def withNaive[T](body: => T): T =
    withConfs("spark.graft.spatialJoin.enabled" -> "false")(body)

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def setup(): Unit = {
    spark.sql("""
      SELECT id AS pid, st_point(cast(id % 97 AS DOUBLE), cast((id * 7) % 89 AS DOUBLE)) AS pt
      FROM range(0, 2000)""").createOrReplaceTempView("bpts")
    spark.sql("""
      SELECT id AS cell,
             st_makeenvelope(cast((id % 10) * 10 AS DOUBLE), cast((id DIV 10) * 10 AS DOUBLE),
                             cast((id % 10) * 10 + 10 AS DOUBLE), cast((id DIV 10) * 10 + 10 AS DOUBLE)) AS env
      FROM range(0, 100)""").createOrReplaceTempView("bcells")
  }

  private def collectPairs(sql: String): Set[(Long, Long)] =
    spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("small right side plans as SpatialBroadcastJoinExec and matches the naive join") {
    setup()
    val sql = "SELECT pid, cell FROM bpts JOIN bcells ON st_contains(env, pt)"
    val df = spark.sql(sql)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SpatialBroadcastJoin"), s"broadcast plan not chosen:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    val fast = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val j = joinsOf(df).head
    (if (j.buildLeft) j.left else j.right) match {
      case _: BroadcastQueryStageExec | _: BroadcastExchangeExec | _: ReusedExchangeExec =>
      case other => fail(s"build child is not a broadcast exchange:\n$other")
    }

    val naive = withNaive(collectPairs(sql))
    assert(fast == naive && fast.nonEmpty,
      s"broadcast join changed results: only-fast=${(fast -- naive).take(5)} only-naive=${(naive -- fast).take(5)}")
  }

  test("small LEFT side builds left (streamed side keeps its partitioning)") {
    setup()
    val sql = "SELECT cell, pid FROM bcells JOIN bpts ON st_contains(env, pt)"
    val df = spark.sql(sql)
    assert(df.queryExecution.executedPlan.toString.contains("SpatialBroadcastJoin"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same pairs as the right-build orientation, columns swapped
    val other = collectPairs("SELECT pid, cell FROM bpts JOIN bcells ON st_contains(env, pt)")
    assert(got == other.map(_.swap) && got.nonEmpty)
  }

  test("extra conjuncts run as exact residual") {
    setup()
    val sql = "SELECT pid, cell FROM bpts JOIN bcells ON st_intersects(pt, env) AND pid % 2 = 0"
    val df = spark.sql(sql)
    assert(df.queryExecution.executedPlan.toString.contains("SpatialBroadcastJoin"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got.forall(_._1 % 2 == 0))
    assert(got == withNaive(collectPairs(sql)))
  }

  test("threshold 0 falls back to the tile rewrite") {
    setup()
    withConfs("spark.graft.spatialJoin.broadcastThreshold" -> "0") {
      val df = spark.sql("SELECT pid, cell FROM bpts JOIN bcells ON st_contains(env, pt)")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SpatialBroadcastJoin"), s"broadcast chosen despite threshold 0:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
      assert(df.count() > 0)
    }
  }

  test("st_dwithin radius join expands the probe envelope and matches the naive join") {
    setup()
    spark.sql("""
      SELECT id AS poi, st_point(cast((id * 13) % 97 AS DOUBLE), cast((id * 29) % 89 AS DOUBLE)) AS cpt
      FROM range(0, 50)""").createOrReplaceTempView("bpois")
    val sql = "SELECT pid, poi FROM bpts JOIN bpois ON st_dwithin(pt, cpt, 3.0)"
    val df = spark.sql(sql)
    assert(df.queryExecution.executedPlan.toString.contains("SpatialBroadcastJoin"),
      s"dwithin not broadcast:\n${df.queryExecution.executedPlan}")
    val rows = df.collect()
    val fast = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val metrics = joinsOf(df).head.metrics
    assert(metrics("numOutputRows").value == rows.length)
    assert(metrics("numCandidates").value >= rows.length)
    val naive = withNaive(collectPairs(sql))
    assert(fast == naive && fast.nonEmpty,
      s"dwithin mismatch: only-fast=${(fast -- naive).take(5)} only-naive=${(naive -- fast).take(5)}")
  }

  test("matches the tile path result for result") {
    setup()
    val sql = "SELECT pid, cell FROM bpts JOIN bcells ON st_within(pt, env)"
    val broadcast = collectPairs(sql)
    val tiled = withConfs("spark.graft.spatialJoin.broadcastThreshold" -> "-1")(collectPairs(sql))
    assert(broadcast == tiled && broadcast.nonEmpty)
  }

  private def setupReuse(): Unit = {
    // env2 is env shifted half a cell, so the two geometries index different
    // trees; points sit off every cell edge.
    spark.sql("""
      SELECT id AS k, st_point(cast(id % 50 AS DOUBLE) + 0.25d, cast(id DIV 50 AS DOUBLE) + 0.25d) AS pt
      FROM range(0, 2500)""").createOrReplaceTempView("rp")
    spark.sql("""
      SELECT id AS c,
             st_makeenvelope(cast((id % 10) * 5 AS DOUBLE), cast((id DIV 10) * 5 AS DOUBLE),
                             cast((id % 10) * 5 + 5 AS DOUBLE), cast((id DIV 10) * 5 + 5 AS DOUBLE)) AS env,
             st_makeenvelope(cast((id % 10) * 5 AS DOUBLE) + 2.5d, cast((id DIV 10) * 5 AS DOUBLE) + 2.5d,
                             cast((id % 10) * 5 AS DOUBLE) + 7.5d, cast((id DIV 10) * 5 AS DOUBLE) + 7.5d) AS env2
      FROM range(0, 100)""").createOrReplaceTempView("rz")
  }

  test("a reused build probed on two different geometries returns the naive rows") {
    setup()
    setupReuse()
    val sql = """
      SELECT k, c FROM rp JOIN rz ON st_contains(env, pt) AND st_ymin(env2) <= st_y(pt) + 100.0d
      UNION ALL
      SELECT k, c FROM rp JOIN rz ON st_contains(env2, pt) AND st_ymin(env) <= st_y(pt) + 100.0d"""
    val df = spark.sql(sql)
    val fast = sortedRows(df)
    assert(joinsOf(df).size == 2)
    assert(nodes(df) { case _: ReusedExchangeExec => } >= 1,
      s"build not reused:\n${df.queryExecution.executedPlan}")
    val naive = withNaive(sortedRows(spark.sql(sql)))
    // every point lies in one env cell; env2 covers the points from 2.5 up
    assert(naive.size == 2500 + 47 * 47)
    val (onlyFast, onlyNaive) = (fast.diff(naive).size, naive.diff(fast).size)
    assert(onlyFast == 0 && onlyNaive == 0, s"fast=${fast.size} naive=${naive.size} rows")
  }

  test("a union of two identical joins builds one broadcast and one tree") {
    setup()
    val sql = """
      SELECT pid, cell FROM bpts JOIN bcells ON st_contains(env, pt)
      UNION ALL
      SELECT pid, cell FROM bpts JOIN bcells ON st_contains(env, pt)"""
    val df = spark.sql(sql)
    val before = indexMisses
    val rows = sortedRows(df)
    assert(indexMisses - before == 1)
    assert(joinsOf(df).size == 2)
    assert(nodes(df) { case _: ReusedExchangeExec => } == 1)
    assert(nodes(df) { case _: BroadcastExchangeExec => } == 1,
      s"expected a single build:\n${df.queryExecution.executedPlan}")
    assert(rows == withNaive(sortedRows(spark.sql(sql))) && rows.nonEmpty)
  }

  test("the join and kNN share one index: one miss per distinct build") {
    setup()
    spark.sql("""
      SELECT id, st_aswkb(st_point(CAST((id * 7) % 50 AS DOUBLE), CAST((id * 11) % 50 AS DOUBLE))) AS g
      FROM range(0, 200, 1, 4)""").createOrReplaceTempView("ix_p")
    spark.sql("""
      SELECT id, st_aswkb(st_point(CAST((id * 3) % 50 AS DOUBLE), CAST((id * 13) % 50 AS DOUBLE))) AS g
      FROM range(0, 60)""").createOrReplaceTempView("ix_b")
    val m0 = indexMisses
    val join = spark.sql("SELECT pid, cell FROM bpts JOIN bcells ON st_contains(env, pt)")
    join.collect()
    assert(indexMisses == m0 + 1)
    join.collect() // same executed plan, same broadcast: a hit
    assert(indexMisses == m0 + 1)
    val knn = KnnJoin.knn(spark, spark.table("ix_p"), spark.table("ix_b"), 3)
    assert(knn.count() == 200 * 3)
    assert(indexMisses == m0 + 2)
    spark.sql("SELECT pid, cell FROM bpts JOIN bcells ON st_contains(env, pt)").collect()
    assert(indexMisses == m0 + 3)
  }
}

package graft

import graft.TestFiles.withConfs
import graft.functions.FnExpr
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Divide, EqualTo, Floor, In, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.funsuite.AnyFunSuite

/** Work done for unchanged data is reused across executions of a query:
  * plan-time join samples (SkewSampler's cache) and built fixture relations
  * (SparkEntry's fixture map). Both report hits and misses in
  * `LruCache.counters`. */
class QueryReuseSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  /** Stage names of the Spark jobs `f` starts. */
  private def jobsDuring[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val names = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        names.add(e.stageInfos.map(_.name).mkString(";"))
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val v = f
      ListenerBusAccess.drain(sc)
      (v, names.toArray.toSeq.map(_.toString))
    } finally sc.removeSparkListener(l)
  }

  private def delta[T](keys: String*)(f: => T): (T, Map[String, Long]) = {
    val before = LruCache.counters
    val v = f
    val after = LruCache.counters
    (v, keys.map(k => k -> (after.getOrElse(k, 0L) - before.getOrElse(k, 0L))).toMap)
  }

  /** The plan-time choices in an optimized plan: tile cell sizes, bin
    * widths and hot keys (an IN list on a tile or bin key, which the
    * optimizer turns into an equality when it holds one key). */
  private def choices(p: LogicalPlan): Seq[String] = {
    def key(a: Attribute) = a.name.startsWith("__graft_tile") || a.name.startsWith("__graft_bin")
    p.collect { case n => n.expressions }.flatten.flatMap(_.collect {
      case FnExpr("st_tile_ids_env", Seq(_, Literal(cell, _), _*)) => s"cell=$cell"
      case Floor(Divide(_, Literal(w, _), _)) => s"width=$w"
      case In(a: Attribute, list) if key(a) => s"hot=${list.mkString(",")}"
      case InSet(a: Attribute, set) if key(a) => s"hot=${set.toSeq.map(_.toString).sorted.mkString(",")}"
      case EqualTo(a: Attribute, Literal(v, _)) if key(a) => s"hot=$v"
    })
  }

  /** Builds `build` twice; the second plan must start no Spark job, hit the
    * sample cache without a miss, and carry the first plan's choices and
    * rows. Returns the choices. */
  private def plansTwiceWithoutResampling(what: String)(build: => DataFrame): Seq[String] = {
    val (df1, d1) = delta("planSample.hits", "planSample.misses") {
      val df = build
      df.queryExecution.executedPlan
      df
    }
    assert(d1.values.sum > 0, s"$what: the first plan must consult the sample cache")
    val ((df2, jobs2), d2) = delta("planSample.hits", "planSample.misses") {
      jobsDuring {
        val df = build
        df.queryExecution.executedPlan
        df
      }
    }
    assert(jobs2.isEmpty, s"$what: the second plan started Spark jobs: ${jobs2.mkString(" | ")}")
    assert(d2("planSample.misses") == 0 && d2("planSample.hits") > 0, s"$what: counters $d2")
    val c1 = choices(df1.queryExecution.optimizedPlan)
    val c2 = choices(df2.queryExecution.optimizedPlan)
    assert(c1.nonEmpty, s"$what: no tile/bin rewrite in\n${df1.queryExecution.optimizedPlan}")
    assert(c1 == c2, s"$what: plan-time choices differ: $c1 vs $c2")
    val rows = df1.collect().toSeq
    assert(rows.nonEmpty && rows == df2.collect().toSeq, s"$what: rows differ or are empty")
    c1
  }

  test("a repeated query plans without Spark jobs and reuses its cell, hot keys and bin width") {
    withConfs(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.graft.spatialJoin.cellSize" -> "auto",
        "spark.graft.spatialJoin.salt" -> "auto",
        "spark.graft.rangeJoin.salt" -> "auto",
        "spark.graft.rangeJoin.binWidth" -> "auto",
        // sf0.001's lineitem is below the tiny-side bypass
        "spark.graft.rangeJoin.maxBroadcastBypass" -> "0") {
      // the columns the two queries read, at about sf0.001's row counts
      val dir = tempDir("graft_plan_reuse").toString
      spark.range(0, 6000).selectExpr("id DIV 4 + 1 AS l_orderkey", "id % 4 + 1 AS l_linenumber",
          "(id * 7919) % 2000 + 1 AS l_partkey", "(id * 104729) % 100 + 1 AS l_suppkey")
        .write.parquet(s"$dir/lineitem.parquet")
      spark.range(0, 1500).selectExpr("id + 1 AS o_orderkey", "(id * 31) % 150 + 1 AS o_custkey")
        .write.parquet(s"$dir/orders.parquet")
      Seq("q_dwithin_selective", "q_interval_join").foreach { n =>
        plansTwiceWithoutResampling(n)(SparkEntry.queries(n)(spark, dir))
      }
      // a skewed join, so the reused choices include a hot-tile IN list:
      // half the points sit in one 10x10 cell
      val hotSql = """
        SELECT pid, cell FROM
          (SELECT id AS pid,
                  CASE WHEN id % 2 = 0
                    THEN st_point(55.0d + cast(id % 9 AS DOUBLE) / 10.0d,
                                  55.0d + cast(id % 7 AS DOUBLE) / 10.0d)
                    ELSE st_point(cast(id % 97 AS DOUBLE), cast((id * 7) % 89 AS DOUBLE)) END AS pt
           FROM range(0, 2000))
        JOIN
          (SELECT id AS cell,
                  st_makeenvelope(cast((id % 10) * 10 AS DOUBLE), cast((id DIV 10) * 10 AS DOUBLE),
                                  cast((id % 10) * 10 + 10 AS DOUBLE),
                                  cast((id DIV 10) * 10 + 10 AS DOUBLE)) AS env
           FROM range(0, 100))
        ON st_contains(env, pt)"""
      val hot = plansTwiceWithoutResampling("hot join")(spark.sql(hotSql))
      assert(hot.exists(_.startsWith("hot=")), s"no hot tile: $hot")
    }
  }

  private def writeLineitem(dir: String, rows: Int): Unit = {
    import spark.implicits._
    (0 until rows).map(i => (i.toLong * 10 + 1, 1L, 1.0, "N"))
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .withColumn("l_extendedprice", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("l_discount", org.apache.spark.sql.functions.lit(0.0))
      .withColumn("l_tax", org.apache.spark.sql.functions.lit(0.0))
      .withColumn("l_linestatus", org.apache.spark.sql.functions.lit("O"))
      .withColumn("l_shipdate", org.apache.spark.sql.functions.lit(java.sql.Date.valueOf("1995-01-01")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  private def sumQty(dir: String): Double =
    SparkEntry.queries("q_tpch_q1")(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("sum_qty")).collect()(0).getDouble(0)

  test("an unchanged fixture is registered without reading it again") {
    val dir = tempDir("graft_fixture_memo").toString
    withConfs("spark.graft.fixtureCache.enabled" -> "false") {
      writeLineitem(dir, 50)
      val ((_, first), d1) = delta("fixture.hits", "fixture.misses") {
        jobsDuring(SparkEntry.queries("q_tpch_q1")(spark, dir))
      }
      assert(first.exists(_.contains("parquet at SparkEntry")),
        s"the first registration reads the parquet schema: ${first.mkString(" | ")}")
      assert(d1("fixture.misses") == 1 && d1("fixture.hits") == 0, s"counters $d1")
      val ((_, second), d2) = delta("fixture.hits", "fixture.misses") {
        jobsDuring(SparkEntry.queries("q_tpch_q1")(spark, dir))
      }
      assert(second.isEmpty, s"a second registration started jobs: ${second.mkString(" | ")}")
      assert(d2("fixture.misses") == 0 && d2("fixture.hits") == 1, s"counters $d2")
      assert(sumQty(dir) == 50.0)
    }
  }

  test("a rewritten fixture returns the new rows, on the default path and under the fixture cache") {
    // under the fixture cache the stale persisted relation would otherwise
    // be substituted for the new read of the same path
    Seq("false", "true").foreach { flag =>
      val dir = tempDir("graft_fixture_rewrite").toString
      withConfs("spark.graft.fixtureCache.enabled" -> flag) {
        writeLineitem(dir, 100)
        assert(sumQty(dir) == 100.0)
        writeLineitem(dir, 40)
        val (n2, d) = delta("fixture.misses")(sumQty(dir))
        assert(n2 == 40.0, s"fixtureCache.enabled=$flag: the rewritten fixture must be read again, got $n2")
        assert(d("fixture.misses") == 1, s"counters $d")
      }
    }
  }
}

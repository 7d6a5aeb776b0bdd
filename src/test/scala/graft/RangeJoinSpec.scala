package graft

import graft.TestFiles.withConfs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Binned interval join: a BETWEEN join with no equi-key must leave the
  * BroadcastNestedLoopJoin/CartesianProduct class and become a bin equi-join
  * (hash-partitionable), with results identical to the naive plan. */
class RangeJoinSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkTestSession.spark

  /** The cost bailout defers tiny build sides to Spark's BNLJ; force the
    * rewrite for plan-shape tests (the bailout has its own test below). */
  override def withFixture(test: NoArgTest): Outcome =
    withConfs("spark.graft.rangeJoin.maxBroadcastBypass" -> "0")(super.withFixture(test))

  private def withRuleOff[T](f: => T): T = withConfs("spark.graft.rangeJoin.enabled" -> "false")(f)

  private def setup(): Unit = {
    spark.sql("""
      SELECT id AS pid, CAST((id * 13) % 9973 AS DOUBLE) AS x
      FROM range(0, 20000)""").createOrReplaceTempView("rj_points")
    spark.sql("""
      SELECT id AS iid,
             CAST((id * 37) % 9900 AS DOUBLE) AS lo,
             CAST((id * 37) % 9900 + (id % 17) AS DOUBLE) AS hi
      FROM range(0, 3000)""").createOrReplaceTempView("rj_intervals")
  }

  private def pairs(sql: String): Set[(Long, Long)] =
    spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("BETWEEN join rewrites to a bin equi-join and matches the naive result") {
    setup()
    val sql = "SELECT pid, iid FROM rj_points p JOIN rj_intervals i ON p.x BETWEEN i.lo AND i.hi"
    val df = spark.sql(sql)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_bin"), s"range-join rewrite did not fire:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"still a pair-scan join:\n$plan")
    val fast = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val naive = withRuleOff(pairs(sql))
    assert(fast == naive && fast.nonEmpty,
      s"rewrite changed results: n_fast=${fast.size} n_naive=${naive.size} " +
        s"only-fast=${(fast -- naive).take(5)} only-naive=${(naive -- fast).take(5)}")
  }

  test("strict bounds, reversed operand order, point side on the right") {
    setup()
    // interval table first, bounds written as lo < x / hi > x
    val sql = """SELECT iid, pid FROM rj_intervals i JOIN rj_points p
                 ON i.lo < p.x AND i.hi > p.x"""
    val df = spark.sql(sql)
    assert(df.queryExecution.executedPlan.toString.contains("__graft_bin"))
    val fast = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = withRuleOff(pairs(sql))
    assert(fast == naive && fast.nonEmpty)
  }

  test("tiny build sides defer to Spark's broadcast nested loop by default") {
    setup()
    withConfs("spark.graft.rangeJoin.maxBroadcastBypass" -> (64 * 1024).toString) { // the default
      spark.sql("""
        SELECT id AS iid, CAST(id * 10 AS DOUBLE) AS lo, CAST(id * 10 + 5 AS DOUBLE) AS hi
        FROM range(0, 20)""").createOrReplaceTempView("rj_tiny")
      val df = spark.sql(
        "SELECT pid, iid FROM rj_points p JOIN rj_tiny i ON p.x BETWEEN i.lo AND i.hi")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("__graft_bin"),
        s"rewrite fired on a 20-row build side (BNLJ is cheaper there):\n$plan")
    }
  }

  test("unbounded (infinite) intervals bail out instead of exploding bins") {
    setup()
    spark.sql("""
      SELECT id AS iid, CAST(id * 10 AS DOUBLE) AS lo,
             CASE WHEN id = 0 THEN CAST('Infinity' AS DOUBLE) ELSE CAST(id * 10 + 5 AS DOUBLE) END AS hi
      FROM range(0, 3000)""").createOrReplaceTempView("rj_inf")
    val sql = "SELECT pid, iid FROM rj_points p JOIN rj_inf i ON p.x BETWEEN i.lo AND i.hi"
    val df = spark.sql(sql)
    assert(!df.queryExecution.executedPlan.toString.contains("__graft_bin"),
      "rewrite fired on an unbounded interval set")
    assert(df.count() > 0) // the infinite interval matches everything — still correct
  }

  test("equi-conjunct joins are left alone") {
    setup()
    val sql = """SELECT pid, iid FROM rj_points p JOIN rj_intervals i
                 ON p.pid % 100 = i.iid % 100 AND p.x BETWEEN i.lo AND i.hi"""
    val df = spark.sql(sql)
    assert(!df.queryExecution.executedPlan.toString.contains("__graft_bin"),
      "rewrite fired despite an existing equi-key")
  }

  test("reversed (hi < lo) and NULL intervals produce no pairs and no errors") {
    spark.sql("SELECT id AS pid, CAST(id AS DOUBLE) AS x FROM range(0, 100)")
      .createOrReplaceTempView("rj_p2")
    spark.sql("""
      SELECT id AS iid,
             CASE WHEN id = 0 THEN CAST(NULL AS DOUBLE) WHEN id = 1 THEN 90.0d ELSE 10.0d END AS lo,
             CASE WHEN id = 1 THEN 5.0d ELSE 20.0d END AS hi
      FROM range(0, 3)""").createOrReplaceTempView("rj_i2")
    val got = pairs("SELECT pid, iid FROM rj_p2 p JOIN rj_i2 i ON p.x >= i.lo AND p.x <= i.hi")
    assert(got == (10L to 20L).map(p => (p, 2L)).toSet)
  }

  test("interval-overlap join: both sides explode, anchor dedupe, exact pairs") {
    spark.sql("""
      SELECT id AS aid, CAST((id * 53) % 2000 AS DOUBLE) AS alo,
             CAST((id * 53) % 2000 + (id % 29) AS DOUBLE) AS ahi
      FROM range(0, 4000)""").createOrReplaceTempView("rj_a")
    spark.sql("""
      SELECT id AS bid, CAST((id * 71) % 2000 AS DOUBLE) AS blo,
             CAST((id * 71) % 2000 + (id % 11) AS DOUBLE) AS bhi
      FROM range(0, 2000)""").createOrReplaceTempView("rj_b")
    val sql = """SELECT aid, bid FROM rj_a a JOIN rj_b b
                 ON a.alo <= b.bhi AND b.blo <= a.ahi"""
    val df = spark.sql(sql)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_bin_l") && plan.contains("__graft_bin_r"),
      s"overlap rewrite did not fire:\n$plan")
    // exact multiset: the anchor dedupe must emit each pair exactly once
    val fast = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fast.size == fast.toSet.size, "anchor dedupe emitted duplicates")
    val naive = withRuleOff(pairs(sql))
    assert(fast.toSet == naive && fast.nonEmpty)
  }

  test("overlap join with reversed pseudo-intervals (lo > hi) stays exact") {
    // columns that do NOT form real intervals: hi < lo for odd ids
    spark.sql("""
      SELECT id AS aid, CAST(id * 10 AS DOUBLE) AS alo,
             CAST(id * 10 + CASE WHEN id % 2 = 1 THEN -5 ELSE 5 END AS DOUBLE) AS ahi
      FROM range(0, 200)""").createOrReplaceTempView("rj_ra")
    spark.sql("""
      SELECT id AS bid, CAST(id * 15 AS DOUBLE) AS blo,
             CAST(id * 15 + 8 AS DOUBLE) AS bhi
      FROM range(0, 150)""").createOrReplaceTempView("rj_rb")
    val sql = """SELECT aid, bid FROM rj_ra a JOIN rj_rb b
                 ON a.alo <= b.bhi AND b.blo <= a.ahi"""
    val fast = pairs(sql)
    val naive = withRuleOff(pairs(sql))
    assert(fast == naive && fast.nonEmpty,
      s"n_fast=${fast.size} n_naive=${naive.size} only-naive=${(naive -- fast).take(5)}")
  }

  test("band join abs(a - b) <= d rewrites and matches the naive result") {
    setup()
    val sql = """SELECT pid, iid FROM rj_points p JOIN rj_intervals i
                 ON abs(p.x - i.lo) <= 3.0d"""
    val df = spark.sql(sql)
    assert(df.queryExecution.executedPlan.toString.contains("__graft_bin"),
      "band-join rewrite did not fire")
    val fast = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = withRuleOff(pairs(sql))
    assert(fast == naive && fast.nonEmpty)
  }

  /** Skewed fixtures: half the points stacked on one value (a spike at one
    * timestamp / one price band — the hot-bin shape), the rest uniform;
    * intervals cover the whole domain so the hot bin really joins. And the
    * mirror: half the intervals starting in one narrow band, met by uniform
    * points, so the interval side is the dense one. */
  private def setupSkewed(): Unit = {
    setup()
    spark.sql("""
      SELECT id AS pid,
             CASE WHEN id % 2 = 0 THEN 500.0d
                  ELSE CAST((id * 13) % 9973 AS DOUBLE) END AS x
      FROM range(0, 20000)""").createOrReplaceTempView("rj_skewp")
    spark.sql("""
      SELECT iid, lo, lo + CAST(iid % 17 AS DOUBLE) AS hi FROM (
        SELECT id AS iid,
               CASE WHEN id % 2 = 0 THEN 500.0d + CAST(id % 5 AS DOUBLE)
                    ELSE CAST((id * 37) % 9900 AS DOUBLE) END AS lo
        FROM range(0, 3000))""").createOrReplaceTempView("rj_skewi")
  }

  /** The salted bin-join inputs, each with the side its salt must split:
    * dense points, then dense intervals (point side on the left in both). */
  private val skewedJoins = Seq(
    "SELECT pid, iid FROM rj_skewp p JOIN rj_intervals i ON p.x BETWEEN i.lo AND i.hi" -> "left",
    "SELECT pid, iid FROM rj_points p JOIN rj_skewi i ON p.x BETWEEN i.lo AND i.hi" -> "right")

  /** The side of each rewritten join whose rows the salt sub-splits: the
    * child carrying the `__graft_bin_salt_v` sub-key. */
  private def splitSides(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case j: LJoin if j.left.output.exists(_.name == "__graft_bin_salt_v") => "left"
      case j: LJoin if j.right.output.exists(_.name == "__graft_bin_salt_v") => "right"
    }

  test("salt=auto self-enables on a hot bin and keeps exact results") {
    setupSkewed()
    skewedJoins.foreach { case (sql, dense) =>
      withConfs(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1", // shuffle-shaped
          "spark.graft.rangeJoin.salt" -> "auto") {
        val df = spark.sql(sql)
        assert(df.queryExecution.optimizedPlan.toString.contains("__graft_bin_salt"),
          "salt=auto must fire on a hot bin in a shuffle-shaped join")
        assert(splitSides(df) == Seq(dense), sql)
        val salted = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val naive = withRuleOff(pairs(sql))
        assert(salted == naive && salted.nonEmpty,
          s"salting changed results: only-salted=${(salted -- naive).take(5)} " +
            s"only-naive=${(naive -- salted).take(5)}")
      }
    }
  }

  test("salt=auto leaves a skew-free bin join's plan unchanged (no replication tax)") {
    setup() // uniform: ~2 points per value, no bin near the hot bar
    val sql = "SELECT pid, iid FROM rj_points p JOIN rj_intervals i ON p.x BETWEEN i.lo AND i.hi"
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val auto = withConfs("spark.graft.rangeJoin.salt" -> "auto") {
        spark.sql(sql).queryExecution.optimizedPlan.toString
      }
      assert(!auto.contains("__graft_bin_salt"),
        "uniform data must not pay the salt machinery")
      val off = withConfs("spark.graft.rangeJoin.salt" -> "1") {
        spark.sql(sql).queryExecution.optimizedPlan.toString
      }
      assert(auto.replaceAll("#\\d+", "#") == off.replaceAll("#\\d+", "#"),
        "salt=auto on skew-free data must produce the identical plan to salt=1")
    }
  }

  test("manual salt targets hot bins and keeps exact results") {
    setupSkewed()
    skewedJoins.foreach { case (sql, dense) =>
      withConfs(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.graft.rangeJoin.salt" -> "4") {
        val df = spark.sql(sql)
        assert(df.queryExecution.optimizedPlan.toString.contains("__graft_bin_salt"))
        assert(splitSides(df) == Seq(dense), sql)
        val fast = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val naive = withRuleOff(pairs(sql))
        assert(fast == naive && fast.nonEmpty)
      }
    }
  }

  test("salt is skipped when a join side is broadcast-sized (no shuffle, no skew)") {
    setupSkewed()
    // default broadcast threshold: these small views broadcast, so even a
    // hot bin cannot serialize a task and salting would be pure overhead
    withConfs("spark.graft.rangeJoin.salt" -> "8") {
      val df = spark.sql(
        "SELECT pid, iid FROM rj_skewp p JOIN rj_intervals i ON p.x BETWEEN i.lo AND i.hi")
      assert(!df.queryExecution.optimizedPlan.toString.contains("__graft_bin_salt"),
        "salt must not fire on a broadcast-shaped bin join")
      assert(df.count() > 0)
    }
  }

  test("randomized parity: 30 generated interval tables match the naive plan") {
    import org.scalacheck.{Gen, rng}
    val tbl = for {
      nP <- Gen.choose(50, 400)
      nI <- Gen.choose(20, 200)
      scale <- Gen.oneOf(1, 7, 100)
      neg <- Gen.choose(-500, 0)
      maxLen <- Gen.choose(0, 40)
    } yield (nP, nI, scale, neg, maxLen)
    val params = Gen.Parameters.default
    (0 until 30).foreach { i =>
      val (nP, nI, scale, neg, maxLen) = tbl.apply(params, rng.Seed(4242L + i)).get
      spark.sql(s"""
        SELECT id AS pid, CAST((id * 131 + $neg) % (997 * $scale) AS DOUBLE) / $scale AS x
        FROM range(0, $nP)""").createOrReplaceTempView("rj_fp")
      spark.sql(s"""
        SELECT id AS iid,
               CAST((id * 173 + $neg * 2) % (997 * $scale) AS DOUBLE) / $scale AS lo,
               CAST((id * 173 + $neg * 2) % (997 * $scale) + id % ${maxLen + 1} AS DOUBLE) / $scale AS hi
        FROM range(0, $nI)""").createOrReplaceTempView("rj_fi")
      val sql = "SELECT pid, iid FROM rj_fp p JOIN rj_fi i ON p.x BETWEEN i.lo AND i.hi"
      val fast = pairs(sql)
      val naive = withRuleOff(pairs(sql))
      assert(fast == naive, s"case $i ($nP,$nI,$scale,$neg,$maxLen): " +
        s"fast=${fast.size} naive=${naive.size} onlyN=${(naive -- fast).take(3)}")
    }
  }

  test("timestamp intervals bin correctly") {
    spark.sql("""
      SELECT id AS pid, timestamp_seconds(1700000000 + id * 60) AS ts
      FROM range(0, 5000)""").createOrReplaceTempView("rj_tsp")
    spark.sql("""
      SELECT id AS iid, timestamp_seconds(1700000000 + id * 3600) AS lo,
             timestamp_seconds(1700000000 + id * 3600 + 600) AS hi
      FROM range(0, 50)""").createOrReplaceTempView("rj_tsi")
    val sql = "SELECT pid, iid FROM rj_tsp p JOIN rj_tsi i ON p.ts BETWEEN i.lo AND i.hi"
    val df = spark.sql(sql)
    assert(df.queryExecution.executedPlan.toString.contains("__graft_bin"))
    val fast = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = withRuleOff(pairs(sql))
    assert(fast == naive && fast.nonEmpty)
  }
}

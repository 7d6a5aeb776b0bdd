package graft

import graft.operators.SemDeDup
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The previous SemDeDup plan: a broadcast cross join scored by a
  * `row_number` window per id, then a `(cid, sub)` self-join, `distinct` and
  * an id anti-join. Kept as the differential reference for the one-shuffle
  * operator. (Its eager `Ckpt.stage` of `celled` only materialized the stage,
  * so it is left out here.) */
private object SemDeDupReference {
  def dedup(emb: DataFrame, idCol: String, vecCol: String,
            centroids: Seq[(Int, Array[Double])], tau: Double,
            maxClusterSize: Int = 4096): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._

    val cents = F.broadcast(
      centroids.toDF("__sem_cid", "__sem_cv").withColumn("__sem_cv", F.col("__sem_cv").cast("array<double>")))
    val src = emb.select(F.col(idCol).cast("long").as("__sem_id"),
      F.col(vecCol).cast("array<double>").as("__sem_v"))

    val assigned = src.crossJoin(cents)
      .withColumn("__sem_sim", F.expr("vec_cosine(__sem_v, __sem_cv)"))
      .withColumn("__sem_rn", F.row_number().over(
        Window.partitionBy("__sem_id").orderBy(F.col("__sem_sim").desc, F.col("__sem_cid"))))
      .where(F.col("__sem_rn") === 1)
      .select(F.col("__sem_id"), F.col("__sem_v"), F.col("__sem_cid"))

    val sized = assigned.withColumn("__sem_n",
      F.count(F.lit(1)).over(Window.partitionBy("__sem_cid")))
    val celled = sized.withColumn("__sem_sub",
      F.when(F.col("__sem_n") <= maxClusterSize, F.lit(0))
        .otherwise(F.pmod(F.xxhash64(F.col("__sem_id")),
          F.ceil(F.col("__sem_n") / maxClusterSize).cast("int"))))
      .select(F.col("__sem_id"), F.col("__sem_v"), F.col("__sem_cid"), F.col("__sem_sub"))

    val a = celled.select(F.col("__sem_cid").as("ca"), F.col("__sem_sub").as("sa"),
      F.col("__sem_id").as("ia"), F.col("__sem_v").as("va"))
    val b = celled.select(F.col("__sem_cid").as("cb"), F.col("__sem_sub").as("sb"),
      F.col("__sem_id").as("ib"), F.col("__sem_v").as("vb"))
    val dropped = a.join(b,
        F.col("ca") === F.col("cb") && F.col("sa") === F.col("sb") &&
          F.col("ia") < F.col("ib"))
      .where(F.expr("vec_cosine(va, vb)") >= tau && !F.isnan(F.expr("vec_cosine(va, vb)")))
      .select(F.col("ib").as("__sem_drop")).distinct()

    celled.join(dropped, celled("__sem_id") === dropped("__sem_drop"), "left_anti")
      .select(F.col("__sem_id").as(idCol), F.col("__sem_cid").as("cid"))
  }
}

class SemDeDupSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkTestSession.spark

  private val cents = Seq(
    0 -> Array(1.0, 0.0, 0.0),
    1 -> Array(0.0, 1.0, 0.0))

  test("upper-triangular rule: earlier survivor, later near-dups drop") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0, 0.01, 0.0)),  // cluster 0, earliest — survives
      (2L, Array(1.0, 0.012, 0.0)), // ~identical to 1 — drops
      (3L, Array(0.9, 0.4, 0.0)),   // cluster 0 but dissimilar — survives
      (10L, Array(0.0, 1.0, 0.1)),  // cluster 1, earliest — survives
      (11L, Array(0.0, 1.0, 0.1))   // exact dup — drops
    ).toDF("id", "vec")
    val got = SemDeDup.dedup(emb, "id", "vec", cents, tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((1L, 0), (3L, 0), (10L, 1)), got.toString)
  }

  test("skewed mega-cluster stays bounded: sub-cells cap the pairwise join") {
    import spark.implicits._
    // 500 identical vectors all land in cluster 0 — unbounded SemDeDup would
    // compare 500*499/2 pairs in ONE cell; with maxClusterSize=50 the plan
    // must split into ceil(500/50)=10 hash cells
    val emb = spark.range(500).selectExpr("id", "array(1.0d, 0.0d, 0.0d) AS vec")
    val result = SemDeDup.dedup(emb, "id", "vec", cents, tau = 0.99, maxClusterSize = 50)
    // the per-cell rule must group by the sub-cell, not just the cluster
    val plan = result.queryExecution.optimizedPlan.toString
    assert(plan.contains("__sem_sub"), s"cells not sub-cell keyed:\n$plan")
    val survivors = result.collect().map(_.getLong(0)).sorted
    // identical vectors: exactly one survivor per sub-cell (the earliest id
    // in that cell) — bounded recall loss vs the single global survivor,
    // never more than the number of cells
    assert(survivors.length >= 1 && survivors.length <= 10,
      s"${survivors.length} survivors — cap not effective")
    // determinism: same input, same survivors
    val again = SemDeDup.dedup(emb, "id", "vec", cents, tau = 0.99, maxClusterSize = 50)
      .collect().map(_.getLong(0)).sorted
    assert(survivors.sameElements(again))
  }

  test("under the cap, results equal the uncapped rule") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0 until 80).map { i =>
      val base = if (i % 2 == 0) Array(1.0, 0.0, 0.0) else Array(0.0, 1.0, 0.0)
      (i.toLong, base.map(_ + rnd.nextDouble() * 0.3))
    }.toDF("id", "vec")
    val capped = SemDeDup.dedup(emb, "id", "vec", cents, tau = 0.995, maxClusterSize = 4096)
      .collect().map(_.getLong(0)).toSet
    val tiny = SemDeDup.dedup(emb, "id", "vec", cents, tau = 0.995, maxClusterSize = 1000)
      .collect().map(_.getLong(0)).toSet
    assert(capped == tiny, "caps above the cluster size must not change results")
    assert(capped.nonEmpty && capped.size < 80)
  }

  private val embSchema = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(DoubleType))))

  private def embDf(rows: Seq[(java.lang.Long, Array[Double])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, if (v == null) null else v.toSeq) }: _*),
      embSchema)

  private def idCids(df: DataFrame): Seq[(java.lang.Long, Int)] =
    df.collect().toSeq.map(r => (if (r.isNullAt(0)) null else Long.box(r.getLong(0)), r.getInt(1)))
      .sortBy(p => (Option(p._1).map(_.longValue), p._2))

  /** The catalog's `q_semdedup` formulation in SQL: no sub-split, so it
    * applies where every cluster is under the cap. */
  private def sqlDedup(emb: DataFrame, cents: Seq[(Int, Array[Double])], tau: Double): DataFrame = {
    import spark.implicits._
    emb.createOrReplaceTempView("semdedup_spec_corpus")
    cents.toDF("cid", "cv").createOrReplaceTempView("semdedup_spec_cents")
    spark.sql(s"""
      WITH scored AS (
        SELECT c.id, c.vec, t.cid,
               row_number() OVER (PARTITION BY c.id
                                  ORDER BY vec_cosine(c.vec, t.cv) DESC, t.cid) AS rn
        FROM semdedup_spec_corpus c CROSS JOIN semdedup_spec_cents t),
      assigned AS (SELECT id, vec, cid FROM scored WHERE rn = 1),
      dropped AS (
        SELECT DISTINCT id
        FROM (SELECT b.id, vec_cosine(a.vec, b.vec) AS sim
              FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.id < b.id)
        WHERE sim >= ${tau}d AND NOT isnan(sim))
      SELECT s.id, s.cid FROM assigned s LEFT ANTI JOIN dropped d ON s.id = d.id""")
  }

  /** A seeded corpus over a small integer grid, so it holds exact duplicate
    * vectors and exact similarity ties, plus zero vectors, NaN components and
    * null vectors. Ids are unique, non-null and shuffled. */
  private def corpus(rnd: scala.util.Random, n: Int, d: Int): Seq[(java.lang.Long, Array[Double])] = {
    val ids = rnd.shuffle((0 until n).map(i => i * 3L + rnd.nextInt(3)))
    ids.map { id =>
      val v = rnd.nextInt(20) match {
        case 0 => null
        case 1 => Array.fill(d)(0.0)
        case 2 => Array.tabulate(d)(i => if (i == 0) Double.NaN else rnd.nextInt(3).toDouble)
        case _ => Array.fill(d)(rnd.nextInt(4) - 1.0)
      }
      (Long.box(id), v)
    }
  }

  /** k centroids from the same grid, with a repeated vector under two cids
    * (an exact tie for every row) whenever k > 1. */
  private def centroidsFor(rnd: scala.util.Random, k: Int, d: Int): Seq[(Int, Array[Double])] = {
    val vs = Array.fill(k)(Array.fill(d)(rnd.nextInt(3) - 0.5 * rnd.nextInt(2)))
    if (k > 1) vs(k - 1) = vs(rnd.nextInt(k - 1)).clone()
    rnd.shuffle((0 until k).map(i => 10 + 7 * i)).zip(vs)
  }

  test("one lazy plan: no job while built, one shuffle, no cross join") {
    val emb = spark.range(0, 40, 1, 4)
      .selectExpr("id", "array(double(id % 2), double((id + 1) % 2), 0d) AS vec")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    val result = try {
      val df = SemDeDup.dedup(emb, "id", "vec", cents, tau = 0.99)
      ListenerBusAccess.drain(sc)
      df
    } finally sc.removeSparkListener(l)
    assert(jobs.get == 0, s"${jobs.get} Spark jobs ran while the plan was built")
    assert(idCids(result) == Seq((Long.box(0L), 1), (Long.box(1L), 0)))
    val plan = result.queryExecution.executedPlan
    assert(collect(plan) { case s: ShuffleExchangeExec => s }.size == 1, plan.toString)
    assert(collect(plan) {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }.isEmpty, plan.toString)
  }

  test("id contract: null ids drop, every other row is judged on its own") {
    val emb = embDf(Seq(
      (null, Array(1.0, 0.0, 0.0)),        // null id: dropped
      (Long.box(5L), Array(1.0, 0.0, 0.0)), // id 5 twice, in two clusters:
      (Long.box(5L), Array(0.0, 1.0, 0.0)), // both survive
      (Long.box(7L), Array(0.0, 1.0, 0.001)), // later near-dup of a 5: drops
      (Long.box(9L), Array(1.0, 0.0, 0.0)),   // later exact dup of a 5: drops
      (Long.box(20L), Array(1.0, 1.0, 0.0)),  // id 20 twice, identical: neither
      (Long.box(20L), Array(1.0, 1.0, 0.0))   // is earlier, so both survive
    ))
    val got = idCids(SemDeDup.dedup(emb, "id", "vec", cents, tau = 0.99))
    assert(got == Seq((Long.box(5L), 0), (Long.box(5L), 1), (Long.box(20L), 0), (Long.box(20L), 0)),
      got.toString)
  }

  test("differential: same (id, cid) set as the previous plan and the SQL formulation") {
    val rnd = new scala.util.Random(20231)
    val special = Seq(
      // k = 1: every row in one cluster, over and under the cap
      (1, 24, 2, 0.99, 4096), (1, 24, 2, 0.99, 5),
      // duplicate centroids under a tight cap
      (3, 30, 3, 0.9, 3))
    val randomCases = (0 until 9).map { _ =>
      (1 + rnd.nextInt(5), 10 + rnd.nextInt(40), 2 + rnd.nextInt(3),
        Seq(0.7, 0.9, 0.99, 1.0)(rnd.nextInt(4)), Seq(2, 4, 7, 4096)(rnd.nextInt(4)))
    }
    (special ++ randomCases).zipWithIndex.foreach { case ((k, n, d, tau, cap), i) =>
      val rows = corpus(rnd, n, d)
      val cs = centroidsFor(rnd, k, d)
      val emb = embDf(rows)
      val ctx = s"case $i: k=$k n=$n d=$d tau=$tau cap=$cap"
      val got = idCids(SemDeDup.dedup(emb, "id", "vec", cs, tau, cap))
      val ref = idCids(SemDeDupReference.dedup(emb, "id", "vec", cs, tau, cap))
      assert(got == ref, ctx)
      if (cap >= n) assert(got == idCids(sqlDedup(emb, cs, tau)), s"$ctx (SQL)")
    }
  }

  test("a NaN similarity never drops a row, whatever tau") {
    // k = 1 puts every row in one cell; tau = 2.0 is above any real cosine
    val emb = embDf(Seq(
      (Long.box(1L), Array(Double.NaN, 1.0, 0.0)),
      (Long.box(2L), Array(1.0, 0.0, 0.0)),
      (Long.box(3L), Array(1.0, 0.0, 0.0)),
      (Long.box(4L), Array(Double.NaN, 0.0, 1.0))))
    val one = Seq(0 -> Array(1.0, 1.0, 0.0))
    val got = idCids(SemDeDup.dedup(emb, "id", "vec", one, tau = 2.0))
    assert(got.map(_._1.longValue) == Seq(1L, 2L, 3L, 4L), got.toString)
    assert(got == idCids(sqlDedup(emb, one, 2.0)))
  }

  test("differential: NaN centroid components and every similarity tied") {
    val rnd = new scala.util.Random(4242)
    val rows = corpus(rnd, 30, 3)
    val emb = embDf(rows)
    val tied = Seq(40 -> Array(1.0, 1.0, 0.0), 3 -> Array(1.0, 1.0, 0.0), 17 -> Array(1.0, 1.0, 0.0))
    val nan = Seq(8 -> Array(1.0, 0.0, 0.0), 6 -> Array(0.0, Double.NaN, 1.0), 2 -> Array(0.0, Double.NaN, 0.0))
    Seq(tied, nan).foreach { cs =>
      val got = idCids(SemDeDup.dedup(emb, "id", "vec", cs, 0.95))
      assert(got == idCids(SemDeDupReference.dedup(emb, "id", "vec", cs, 0.95)))
      assert(got == idCids(sqlDedup(emb, cs, 0.95)))
      assert(got.map(_._2).distinct == Seq(if (cs eq tied) 3 else 2), got.toString)
    }
  }
}

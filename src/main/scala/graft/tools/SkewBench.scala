package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Pathological-skew harness for the tile spatial join (SURVEY §7.4's hard
  * case: city-sized hot spots meeting point clouds). Generates a deterministic
  * dataset where ONE grid tile holds ~20% of all points AND a stack of
  * polygons, runs the tile-join count under each salt setting, and reports the
  * join stage's per-task time histogram — the direct measurement of whether a
  * hot tile serializes onto one task.
  *
  * The reference sidesteps this class of problem with a single-node IEJoin
  * (optimizer_rules.cpp); a distributed tile join must instead prove its salt
  * knob (spark.graft.spatialJoin.salt) and/or AQE skew-split actually level
  * the task histogram. This harness measures it instead of asserting it.
  *
  * Usage: tools/run_main.sh graft.tools.SkewBench [nPoints] [nPolys]
  * Prints one JSON line per configuration plus a `skew_summary` line.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val nPts = if (args.length > 0) args(0).toLong else 20_000_000L
    val nPolys = if (args.length > 1) args(1).toLong else 2000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .appName("graft-skewbench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.register(spark)
    // force the distributed tile join — a broadcast of the poly side would
    // hide the skew this harness exists to measure
    spark.conf.set("spark.graft.spatialJoin.broadcastThreshold", "-1")
    spark.conf.set("spark.graft.spatialJoin.cellSize", "1.0")

    // --- deterministic skewed fixture --------------------------------------
    // Points: 20% in the hot unit cell [50,51)^2 (the "city"), 80% uniform
    // over [0,100)^2. hash() is Murmur3 — deterministic across runs/JVMs.
    spark.range(nPts).selectExpr(
      "id",
      """CASE WHEN id % 5 = 0
           THEN 50.0d + pmod(hash(id, 1), 100000) / 100000.0d
           ELSE pmod(hash(id, 2), 1000000) / 10000.0d END AS x""",
      """CASE WHEN id % 5 = 0
           THEN 50.0d + pmod(hash(id, 3), 100000) / 100000.0d
           ELSE pmod(hash(id, 4), 1000000) / 10000.0d END AS y""")
      .selectExpr("id", "st_point(x, y) AS pt")
      .createOrReplaceTempView("pts")
    // Polygons: 1% stacked on the hot cell, the rest 1x1 boxes uniform over
    // the extent (so the non-hot tiles carry realistic background matches).
    spark.range(nPolys).selectExpr(
      "id AS poly_id",
      """CASE WHEN id % 100 = 0 THEN 50.0d
           ELSE pmod(hash(id, 5), 990000) / 10000.0d END AS px""",
      """CASE WHEN id % 100 = 0 THEN 50.0d
           ELSE pmod(hash(id, 6), 990000) / 10000.0d END AS py""")
      .selectExpr("poly_id", "st_makeenvelope(px, py, px + 1.0d, py + 1.0d) AS poly")
      .createOrReplaceTempView("polys")

    // --- per-task metrics ---------------------------------------------------
    val taskMs = TrieMap.empty[Int, Vector[Long]]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null && t.taskInfo.successful)
          taskMs.updateWith(t.stageId) {
            case Some(v) => Some(v :+ t.taskInfo.duration)
            case None => Some(Vector(t.taskInfo.duration))
          }
    }
    spark.sparkContext.addSparkListener(listener)

    def pct(v: Vector[Long], p: Double): Long =
      if (v.isEmpty) 0L else v((p * (v.size - 1)).round.toInt)

    val query =
      """SELECT count(*) AS pairs FROM polys JOIN pts
         ON st_intersects(polys.poly, pts.pt)"""

    def run(label: String, salt: String, aqeSkew: Boolean,
            allowBroadcast: Boolean): (Long, String) = {
      spark.conf.set("spark.graft.spatialJoin.salt", salt)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqeSkew.toString)
      // The poly side is small, so by default Catalyst BROADCASTS the
      // rewritten equi-join — the hot tile's probe work then distributes
      // with the point partitions and no skew exists (the moot case,
      // measured by the first config). The shuffled tile join — the shape
      // salt exists for, and the shape both sides being huge forces at
      // 100 TB — is measured with the broadcast threshold off.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        if (allowBroadcast) "10485760" else "-1")
      taskMs.clear()
      val t0 = System.nanoTime()
      val pairs = spark.sql(query).head().getLong(0)
      val wall = (System.nanoTime() - t0) / 1e9
      // the join stage = the stage with the largest total task time
      val (stage, tasks) = taskMs.maxBy(_._2.sum)
      val v = tasks.sorted
      val line =
        f"""{"config":"$label","salt":"$salt","aqe_skew":$aqeSkew,"pairs":$pairs,""" +
        f""""wall_sec":${wall}%.2f,"join_stage":$stage,"tasks":${v.size},""" +
        f""""task_max_sec":${v.last / 1e3}%.2f,"task_p95_sec":${pct(v, 0.95) / 1e3}%.2f,""" +
        f""""task_p50_sec":${pct(v, 0.50) / 1e3}%.2f,""" +
        f""""task_sum_sec":${v.sum / 1e3}%.2f,"commit":"${graft.RunStamp.commit}"}"""
      println(line)
      (pairs, line)
    }

    // warmup: plan + codegen + fixture materialization outside the measured runs
    spark.sql(
      """SELECT count(*) FROM polys JOIN (SELECT pt FROM pts LIMIT 100000) w
         ON st_intersects(polys.poly, w.pt)""").head()

    val results = Seq(
      run("broadcast_moot_case", salt = "1", aqeSkew = false, allowBroadcast = true),
      run("broadcast_salt_auto", salt = "auto", aqeSkew = false, allowBroadcast = true),
      run("shuffle_no_mitigation", salt = "1", aqeSkew = false, allowBroadcast = false),
      run("shuffle_aqe_skew_only", salt = "1", aqeSkew = true, allowBroadcast = false),
      run("shuffle_salt8", salt = "8", aqeSkew = false, allowBroadcast = false),
      run("shuffle_salt8_aqe", salt = "8", aqeSkew = true, allowBroadcast = false),
      run("shuffle_salt32_aqe", salt = "32", aqeSkew = true, allowBroadcast = false),
      run("shuffle_salt_auto", salt = "auto", aqeSkew = false, allowBroadcast = false),
      run("shuffle_salt_auto_aqe", salt = "auto", aqeSkew = true, allowBroadcast = false))
    val counts = results.map(_._1).distinct
    require(counts.size == 1, s"configs disagree on pair count: $counts")
    println(s"""{"skew_summary":"ok","pairs":${counts.head},"n_points":$nPts,"n_polys":$nPolys,"configs":${results.size}}""")
    spark.stop()
    sys.exit(0)
  }
}

package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.index.strtree.STRtree

/**
 * k-nearest-neighbor join: for each probe geometry, the k closest build
 * geometries with exact planar distances.
 *
 * Scale shape: the build side is broadcast (same budget as any broadcast
 * hash join) and ONE STRtree is built per executor, held in the
 * [[graft.plans.BroadcastIndex]] the broadcast spatial join also uses;
 * probes stream through mapPartitions with no shuffle. Each probe runs an
 * EXPANDING-RADIUS search: query the tree with a growing envelope until at
 * least k candidates lie within the radius and the k-th distance is
 * covered — exact regardless of tree node layout, and ties resolve
 * deterministically by (distance, id), so results are reproducible row for
 * row (a plain JTS nearestNeighbour(k) is tie-order-arbitrary at the cutoff).
 *
 * Inputs are (id, WKB) pairs to keep the encoder simple and the broadcast
 * compact; output is (pid, nid, dist, rank) with rank 1..k.
 */
object KnnJoin {

  private def tree(bc: Broadcast[Array[(Long, Array[Byte])]]): STRtree =
    graft.plans.BroadcastIndex.tree((bc.id, "knn")) {
      val t = new STRtree()
      bc.value.foreach { case (id, wkb) =>
        val g = graft.geom.Geo.read(wkb)
        if (g != null && !g.isEmpty) t.insert(g.getEnvelopeInternal, (id, g))
      }
      t
    }

  /** Exact kNN of `probe` against `build`; both DataFrames must have exactly
   *  (id: Long/Int, geom: WKB binary) columns.
   *
   *  The build side is driver-collected and broadcast, so it is gated by the
   *  SAME budget as the broadcast R-tree join
   *  ([[graft.plans.BroadcastIndex.budget]]): an over-budget build side
   *  automatically takes the distributed tile-partitioned path
   *  ([[knnTiled]]) instead of OOMing the driver — same results, row for
   *  row (both orders ties by (distance, id)).
   */
  def knn(spark: SparkSession, probe: DataFrame, build: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    require(k > 0, "k must be positive")
    val threshold = graft.plans.BroadcastIndex.budget(spark)
    val est = build.queryExecution.optimizedPlan.stats.sizeInBytes
    if (!(threshold > 0 && est <= threshold)) return knnTiled(spark, probe, build, k)
    val buildRows = build.collect().map(r =>
      (r.get(0) match { case l: Long => l; case i: Int => i.toLong },
       r.get(1).asInstanceOf[Array[Byte]]))
    val bc = spark.sparkContext.broadcast(buildRows)
    val probeDs = probe.map(r =>
      (r.get(0) match { case l: Long => l; case i: Int => i.toLong },
       r.get(1).asInstanceOf[Array[Byte]]))
    probeDs.mapPartitions { it =>
      val t = tree(bc)
      // count INSERTED items, not raw build rows — null/empty build
      // geometries are skipped at tree build, and k > tree size would make
      // the expanding-radius search loop forever
      val n = t.size()
      it.flatMap { case (pid, wkb) =>
        val g = graft.geom.Geo.read(wkb)
        if (g == null || g.isEmpty || n == 0) Iterator.empty
        else {
          val kk = math.min(k, n)
          val res = search(t, g, kk)
          res.iterator.zipWithIndex.map { case ((nid, d), i) => (pid, nid, d, i + 1) }
        }
      }
    }.toDF("pid", "nid", "dist", "rank")
  }

  /** Distributed exact kNN for build sides beyond broadcast budget: rounds
   *  of tile equi-joins with a doubling search radius over the SHRINKING
   *  unresolved-probe set. Round t tiles BOTH sides at cell = r_t (probes
   *  expanded by r_t, so each probe covers ≤ ~16 tiles), joins on tile,
   *  keeps pairs with dist ≤ r_t, and resolves every probe that has ≥
   *  min(k, |build|) candidates — for those the k-th distance ≤ r_t, and
   *  every geometry within that distance lies inside the searched
   *  envelope, so the top-k is exact. Unresolved probes re-enter with
   *  r *= 2 (× 8 when a round was globally empty — far-apart data sets).
   *
   *  Scale shape: never all-pairs — candidates are tile equi-join matches
   *  only; the per-round shuffle is bounded by build + unresolved probes;
   *  per-round outputs are localCheckpoint'ed so lineage stays flat. The
   *  starting radius is density-derived (expected k-NN radius for a
   *  uniform field) and floored by both sides' max geometry extent so the
   *  per-geometry tile cap cannot blow up. Ties order by (distance, id) —
   *  identical to the broadcast path, row for row. */
  def knnTiled(spark: SparkSession, probe: DataFrame, build: DataFrame, k: Int,
               startRadius: Option[Double] = None, maxRounds: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k > 0, "k must be positive")
    graft.Graft.register(spark)
    val p0 = probe.toDF("pid", "pg")
      .selectExpr("CAST(pid AS BIGINT) AS pid", "pg")
      .where("pg IS NOT NULL AND NOT st_isempty(pg)")
      .transform(df => graft.Ckpt.stage(df))
    val b0 = build.toDF("nid", "ng")
      .selectExpr("CAST(nid AS BIGINT) AS nid", "ng")
      .where("ng IS NOT NULL AND NOT st_isempty(ng)").cache()
    val empty = p0.limit(0).selectExpr(
      "pid", "CAST(0 AS BIGINT) AS nid", "CAST(0.0 AS DOUBLE) AS dist", "CAST(1 AS INT) AS rank")
    val bs = b0.selectExpr("count(*) AS n",
      "min(st_xmin(ng)) AS x0", "max(st_xmax(ng)) AS x1",
      "min(st_ymin(ng)) AS y0", "max(st_ymax(ng)) AS y1",
      "max(greatest(st_xmax(ng) - st_xmin(ng), st_ymax(ng) - st_ymin(ng))) AS ext").head()
    val n = bs.getLong(0)
    // probe count + max extent in ONE aggregate job (was a separate isEmpty
    // scan plus a head()): every driver action here is a scheduled Spark job,
    // and this loop's wall-clock floor is job count × scheduling latency.
    val ps = p0.selectExpr("count(*) AS n", "count(DISTINCT pid) AS nd",
      "max(greatest(st_xmax(pg) - st_xmin(pg), st_ymax(pg) - st_ymin(pg))) AS e").head()
    val pCount = ps.getLong(0)
    // The arithmetic unresolved tracking below retires kEff rows per DISTINCT
    // pid; duplicate pids would make unresolvedCount never reach 0 and spin
    // the loop to maxRounds. Fail fast with a usable message instead.
    require(ps.getLong(1) == pCount,
      s"knnTiled requires distinct probe ids: got $pCount rows over ${ps.getLong(1)} distinct pids")
    if (n == 0 || pCount == 0) { b0.unpersist(); return empty }
    val kEff = math.min(k.toLong, n).toInt
    val area = math.max(0.0, (bs.getDouble(2) - bs.getDouble(1)) * (bs.getDouble(4) - bs.getDouble(3)))
    val pExt = ps.getDouble(2)
    var r = startRadius.getOrElse(Seq(
      if (area > 0) math.sqrt(area * k / n) else 0.0, bs.getDouble(5), pExt, 1e-9).max)
    var unresolved = p0
    // Track the unresolved count arithmetically instead of probing with
    // isEmpty actions: `resolved` holds EXACTLY kEff rows per resolved probe
    // (rank <= kEff under cnt >= kEff), so resolved.count()/kEff is the
    // number of probes retired this round. One count on a checkpointed
    // (materialized) frame replaces two isEmpty jobs per round, and an
    // all-empty round skips the anti-join + checkpoint entirely — the
    // unresolved set is provably unchanged.
    var unresolvedCount = pCount
    var out: DataFrame = empty
    var round = 0
    while (round < maxRounds && unresolvedCount > 0) {
      val bt = b0.selectExpr("nid", "ng", s"explode(st_tile_ids(ng, ${r}d)) AS tile")
      val pt = unresolved.selectExpr("pid", "pg", s"explode(st_tile_ids(pg, ${r}d, ${r}d)) AS tile")
      val cand = pt.join(bt, "tile")
        .selectExpr("pid", "nid", "st_distance(pg, ng) AS dist")
        .where(s"dist <= ${r}d")
        .groupBy("pid", "nid").agg(min("dist").as("dist")) // multi-tile pair dedupe
      val byPid = org.apache.spark.sql.expressions.Window.partitionBy("pid")
      val ranked = cand
        .withColumn("rank", row_number().over(byPid.orderBy(col("dist"), col("nid"))))
        .withColumn("cnt", count(lit(1)).over(byPid))
      val resolved = ranked.where(col("cnt") >= kEff && col("rank") <= kEff)
        .select(col("pid"), col("nid"), col("dist"), col("rank").cast("int").as("rank"))
        .transform(df => graft.Ckpt.stage(df))
      val resolvedCount = resolved.count()
      if (resolvedCount > 0) {
        out = out.union(resolved)
        unresolvedCount -= resolvedCount / kEff
        if (unresolvedCount > 0)
          unresolved = unresolved
            .join(resolved.select("pid").distinct(), Seq("pid"), "left_anti")
            .transform(df => graft.Ckpt.stage(df))
      }
      r *= (if (resolvedCount == 0) 8 else 2)
      round += 1
    }
    require(unresolvedCount == 0,
      s"knnTiled did not converge in $maxRounds doubling rounds (degenerate extents?)")
    b0.unpersist()
    out
  }

  /** Expand the query envelope until the k-th (dist, id)-ordered candidate
   *  is within the searched radius — then no closer item can be outside. */
  private def search(t: STRtree, g: Geometry, k: Int): Array[(Long, Double)] = {
    val base = g.getEnvelopeInternal
    var r = math.max(math.max(base.getWidth, base.getHeight), 1e-9)
    while (true) {
      val env = new Envelope(base)
      env.expandBy(r)
      val cands = t.query(env).toArray.map { o =>
        val (id, bg) = o.asInstanceOf[(Long, Geometry)]
        (id, g.distance(bg))
      }.filter(_._2 <= r)
      if (cands.length >= k) {
        val sorted = cands.sortBy { case (id, d) => (d, id) }
        return sorted.take(k)
      }
      r *= 2
    }
    throw new IllegalStateException("unreachable")
  }
}

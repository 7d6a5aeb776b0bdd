package graft.operators

import graft.functions.VecFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}

/**
 * Lloyd k-means over 2-D points (the semantics PostGIS exposes as
 * ST_ClusterKMeans, with DETERMINISTIC seeding so results are
 * oracle-checkable): initial centroids are the first k points in id order
 * (cluster ids 0..k-1), a fixed number of assign/update rounds, ties broken
 * by cluster id. Points with a null or NaN coordinate have no distance and
 * are dropped (a NaN point would turn its centroid NaN).
 *
 * Scale shape: centroids live on the driver (k rows); each round is ONE
 * map-side-combined groupBy over the points ([[refine]]). Assignment is
 * `ivf_probe(array(x, y), centroids, 1)[0]` over one plan literal that
 * `cx`/`cy` read too ([[graft.functions.VecFns.Centroids]]: `dx*dx + dy*dy`,
 * ties to the smallest cluster id), about 15 bytes per value in every task
 * binary; measured up to k = 10^5 (SCALING.md).
 * With integral input coordinates every centroid is an exact integer-sum /
 * count division, so independent engines reproduce the trajectory bit for
 * bit.
 */
object KMeans {

  /** @param points columns (id, x, y); k ≤ first-point count
   *  @return DataFrame(id, cluster INT, cx, cy) — assignment against the
   *          centroids after `iters` update rounds */
  def cluster(spark: SparkSession, points: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0)
    val p = points.selectExpr("CAST(id AS LONG) AS id", "CAST(x AS DOUBLE) AS x",
      "CAST(y AS DOUBLE) AS y")
      .where("id IS NOT NULL AND x IS NOT NULL AND y IS NOT NULL AND NOT isnan(x) AND NOT isnan(y)")
      // Eager localCheckpoint, not .cache(): the seed collect and every round
      // read materialized blocks, and with no CacheManager registration no
      // later invocation can be served from this run's rows.
      .transform(df => graft.Ckpt.stage(df, eager = true))

    val seeds = p.orderBy("id").limit(k).collect().map(r => Array(r.getDouble(1), r.getDouble(2)))
    val xy = F.array(F.col("x"), F.col("y"))
    val cs = VecFns.centroidsLit(refine(p, xy, seeds, iters))
    p.withColumn("cluster", VecFns.probe(xy, cs, 1)(0))
      .select(F.col("id"), F.col("cluster"), cs(F.col("cluster"))(0).as("cx"), cs(F.col("cluster"))(1).as("cy"))
  }

  /** `iters` Lloyd rounds from `cs` over the vectors in `v`: each assigns
    * every row to its nearest centroid, then one (cluster, dimension) mean
    * aggregate moves the centroids; a centroid with no rows stays put. */
  def refine(df: DataFrame, v: Column, cs: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    graft.Graft.register(df.sparkSession)
    (0 until iters).foldLeft(cs) { (cs, _) =>
      val next = cs.map(_.clone())
      // c before the explode, so the kernel runs once per row
      df.select(VecFns.probe(v, VecFns.centroidsLit(cs), 1)(0).as("c"), v.as("v"))
        .select(F.col("c"), F.posexplode(F.col("v")))
        .groupBy("c", "pos").agg(F.avg("col"))
        .collect().foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      next
    }
  }
}

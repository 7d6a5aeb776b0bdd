package graft.operators

import graft.functions.VecFns
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/**
 * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the embedding
 * space, then inside each cluster drop every vector whose cosine similarity
 * to an EARLIER vector (id order) is at least tau — the released
 * implementation's upper-triangular max rule; a NaN similarity is never at
 * least tau, so a vector with a NaN component drops no row. Rows with a null
 * id are dropped (as `KMeans.cluster` drops null coordinates), and every
 * other row is judged on its own: rows sharing an id neither drop nor shadow
 * each other.
 *
 * Scale shape: one lazy plan with one shuffle. Each row picks its nearest
 * centroid by cosine with the `ivf_probe` kernel over the k centroids sorted
 * by cid, a plan literal (O(N·k·d) compute, no N·k rows): a NaN similarity
 * ranks highest, ties and null vectors go to the smallest cid. The
 * cluster-size window hash-partitions rows by cluster, and the pairwise step
 * is one aggregation per cell over that same partitioning, so it is
 * quadratic only WITHIN a cell. The paper's guidance is that k must grow
 * with corpus size to keep clusters bounded; this operator additionally
 * enforces a HARD per-cluster bound: clusters larger than `maxClusterSize`
 * are deterministically sub-split (hash of id modulo the needed cell count)
 * and the rule runs within each sub-cell. That caps a cell's membership near
 * maxClusterSize, and its pair count near maxClusterSize², regardless of
 * skew. All cells of one cluster share the cluster's partition, so one task
 * runs them one after another: a cluster of n rows costs that task about
 * n·maxClusterSize cosine comparisons, linear in n rather than quadratic,
 * but a mega-cluster is not spread over tasks. The cost is bounded recall
 * loss: near-dup pairs straddling two sub-cells of the same oversized
 * cluster are not compared (the same trade as raising k in the paper).
 */
object SemDeDup {

  /** @param emb DataFrame with (idCol: numeric, vecCol: array<double>)
   *  @param centroids (cid, centroid vector) pairs — a plan literal that every
   *         task binary and the plan string carry, about 15 bytes per value:
   *         keep k·d near 10^5 or below (SCALING.md)
   *  @param tau cosine threshold at or above which the later vector drops
   *  @param maxClusterSize hard bound on the membership a single pairwise
   *         cell may reach; oversized clusters sub-split deterministically
   *  @return (id, cid) rows that SURVIVE dedup */
  def dedup(emb: DataFrame, idCol: String, vecCol: String,
            centroids: Seq[(Int, Array[Double])], tau: Double,
            maxClusterSize: Int = 4096): DataFrame = {
    require(centroids.nonEmpty, "semdedup needs at least one centroid")
    require(maxClusterSize >= 2, "maxClusterSize must be at least 2")
    graft.Graft.register(emb.sparkSession)

    val src = emb.select(F.col(idCol).cast("long").as("__sem_id"),
        F.col(vecCol).cast("array<double>").as("__sem_v"))
      .where(F.col("__sem_id").isNotNull)

    // the index of the nearest centroid by cosine, mapped back to its cid;
    // a null vector has no index and takes the smallest cid
    val sorted = centroids.sortBy(_._1)
    val best = VecFns.probe(F.col("__sem_v"), VecFns.centroidsLit(sorted.map(_._2)), 1, "cosine")(0)
    val assigned = src.withColumn("__sem_cid",
      F.coalesce(F.typedLit(sorted.map(_._1)).apply(best), F.lit(sorted.head._1)))

    // hard per-cell bound: split clusters over maxClusterSize into
    // ceil(n / maxClusterSize) deterministic hash cells
    val sized = assigned.withColumn("__sem_n",
      F.count(F.lit(1)).over(Window.partitionBy("__sem_cid")))
    val celled = sized.withColumn("__sem_sub",
      F.when(F.col("__sem_n") <= maxClusterSize, F.lit(0))
        .otherwise(F.pmod(F.xxhash64(F.col("__sem_id")),
          F.ceil(F.col("__sem_n") / maxClusterSize).cast("int"))))

    // per cell, keep each member no earlier member is tau-similar to; the
    // window's partitioning by cid already clusters the cells. Spark ranks
    // NaN above every number, so a NaN similarity must be excluded by name
    // or one NaN vector would drop every later row of its cell.
    val members = F.col("__sem_m")
    val survivors = F.filter(members, x => !F.exists(members, y => {
      val sim = F.call_function("vec_cosine", y("v"), x("v"))
      F.coalesce(y("id") < x("id") && sim >= tau && !F.isnan(sim), F.lit(false))
    }))
    celled.groupBy("__sem_cid", "__sem_sub")
      .agg(F.collect_list(F.struct(F.col("__sem_id").as("id"), F.col("__sem_v").as("v"))).as("__sem_m"))
      .select(F.explode(survivors).as("__sem_x"), F.col("__sem_cid"))
      .select(F.col("__sem_x.id").as(idCol), F.col("__sem_cid").as("cid"))
  }
}

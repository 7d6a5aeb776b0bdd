package graft.ann

import graft.functions.VecFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * IVF-style approximate nearest neighbour search (the scale path of the
 * similarity-search mandate, alongside the random-hyperplane LSH in
 * [[graft.functions.VecFns]]).
 *
 * Index = partition the corpus by nearest centroid (coarse quantizer);
 * search = probe the `nprobe` nearest centroids only, then exact-rerank.
 * Centroids are a deterministic seeded sample of the corpus (hash-ordered)
 * in the plan as one literal — so assignment is the row-local `ivf_probe`
 * kernel ([[graft.functions.VecFns.Centroids]]), the candidate join is a
 * hash equi-join on cluster id, and nothing ever does all-pairs. At 100 TB:
 * centroids stay driver-small (k ≤ 2^16), assignments write once as a
 * clustered table, probes touch k/nprobe of the data.
 */
object Ivf {

  /** Deterministic centroid sample: k corpus vectors in seeded-hash order. */
  def centroids(df: DataFrame, idCol: String, vecCol: String, k: Int, seed: Int): Array[Array[Double]] =
    df.select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(hash(col(idCol), lit(seed)))
      .limit(k)
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** Lloyd-refined centroids: `iters` distributed k-means steps over the
    * seeded sample ([[graft.operators.KMeans.refine]]): the shuffle carries
    * partial sums, never vectors-to-driver. Better-balanced cells than the
    * raw sample → higher recall at the same nprobe; distributed float
    * summation makes the last ulp run-dependent, so pin-style tests should
    * keep using [[centroids]]. */
  def centroidsKmeans(df: DataFrame, idCol: String, vecCol: String, k: Int, seed: Int,
                      iters: Int = 2): Array[Array[Double]] =
    graft.operators.KMeans.refine(df, col(vecCol).cast("array<double>"),
      centroids(df, idCol, vecCol, k, seed), iters)

  /** Corpus → (id, cluster) assignment via the ivf_probe expression. */
  def assign(df: DataFrame, idCol: String, vecCol: String, cs: Array[Array[Double]]): DataFrame = {
    graft.Graft.register(df.sparkSession)
    df.withColumn("cluster", VecFns.probe(col(vecCol).cast("array<double>"), VecFns.centroidsLit(cs), 1)(0))
  }

  /** Top-k neighbours for each query row, probing `nprobe` clusters. */
  def search(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             cs: Array[Array[Double]], topK: Int, nprobe: Int): DataFrame = {
    val spark = corpus.sparkSession
    graft.Graft.register(spark)
    val assigned = assign(corpus, idCol, vecCol, cs)
      .select(col(idCol).as("nid"), col(vecCol).cast("array<double>").as("nvec"), col("cluster"))
    val probed = queries
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("cluster", explode(VecFns.probe(col("qvec"), VecFns.centroidsLit(cs), nprobe)))
    probed.join(assigned, "cluster")
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", expr("vec_cosine(qvec, nvec)"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid").orderBy(desc("sim"), col("nid"))))
      .where(col("rn") <= topK)
      .select("qid", "nid", "sim", "rn")
  }
}

package graft.ann

import graft.functions.VecFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Product quantization (Jegou/Douze/Schmid, "Product Quantization for
 * Nearest Neighbor Search", TPAMI 2011) — the memory-bound scale path of the
 * similarity-search mandate, composing with [[Ivf]]'s coarse quantizer the
 * way IVF-PQ indexes do.
 *
 * Index = per-subspace codebooks (m subspaces × k codewords); every corpus
 * vector is encoded once to m small ints (a 64-dim float[] becomes 8 bytes at
 * m=8 — 32× smaller, so 100 TB of embeddings scan as ~3 TB of codes).
 * Search = queries build an m×k lookup table row-locally, candidates are
 * scored by table lookups (ADC) without touching the original vectors.
 * Codebooks and centroids are driver-small and broadcast as literals;
 * encoding and scoring are pure row-local expressions; the candidate join is
 * the IVF cluster equi-join — nothing does all-pairs.
 */
object Pq {

  /** Deterministic codebooks: k seeded-sample vectors (hash order, like
    * [[Ivf.centroids]]) split into m contiguous subspaces. */
  def codebooks(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
                seed: Int): Array[Array[Array[Double]]] = {
    val sample = Ivf.centroids(df, idCol, vecCol, k, seed)
    require(sample.nonEmpty && sample(0).length % m == 0,
      s"dim ${sample.headOption.fold(0)(_.length)} not divisible by m=$m")
    val sub = sample(0).length / m
    Array.tabulate(m)(mi => sample.map(v => java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub)))
  }

  /** Lloyd-refined codebooks: `iters` distributed k-means steps per subspace.
    * Assignment is the row-local pq_encode expression; the update is a
    * per-(subspace, codeword, dimension) mean — the shuffle carries partial
    * sums, and only m×k×(dim/m) means collect (1 KB-scale, like the seeds).
    * Codewords that lose every member keep their previous value. Quantization
    * error drops a lot vs the raw sample (real corpora are clustered);
    * deterministic given (seed, iters) up to float-sum order, so exact-pin
    * tests should use [[codebooks]]. */
  def codebooksKmeans(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
                      seed: Int, iters: Int = 2): Array[Array[Array[Double]]] = {
    var cbs = codebooks(df, idCol, vecCol, m, k, seed)
    val sub = cbs(0)(0).length
    graft.Graft.register(df.sparkSession)
    var it = 0
    while (it < iters) {
      val next = cbs.map(_.map(_.clone()))
      df.selectExpr(s"cast($vecCol AS array<double>) AS v")
        .select(posexplode(expr(s"pq_encode(v, ${codebooksSql(cbs)})")).as(Seq("m", "code")), col("v"))
        .select(col("m"), col("code"),
          posexplode(expr(s"slice(v, m * $sub + 1, $sub)")).as(Seq("pos", "val")))
        .groupBy("m", "code", "pos").agg(avg("val").as("mean"))
        .collect()
        .foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      cbs = next
      it += 1
    }
    cbs
  }

  def codebooksSql(cbs: Array[Array[Array[Double]]]): String =
    cbs.map(_.map(_.mkString("array(", "d,", "d)")).mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")

  /** Corpus → (id, codes) — the write-once encoding pass. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             cbs: Array[Array[Array[Double]]]): DataFrame = {
    graft.Graft.register(df.sparkSession)
    df.withColumn("codes", expr(s"pq_encode(cast($vecCol AS array<double>), ${codebooksSql(cbs)})"))
  }

  /** IVF-PQ search: coarse-probe `nprobe` IVF cells, score candidates by ADC
    * table lookups (codes only — candidate vectors never shuffle). With
    * `rerank > 0`, the per-query top-`rerank` ADC shortlist is re-scored with
    * exact L2 against the original vectors — the standard IVF-PQ refinement;
    * the vector join touches only |queries|×rerank rows. */
  def search(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             ivfCs: Array[Array[Double]], cbs: Array[Array[Array[Double]]],
             topK: Int, nprobe: Int, rerank: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    graft.Graft.register(spark)
    val cbSql = codebooksSql(cbs)
    val assigned = Ivf.assign(corpus, idCol, vecCol, ivfCs)
      .withColumn("codes", expr(s"pq_encode(cast($vecCol AS array<double>), $cbSql)"))
      .select(col(idCol).as("nid"), col("codes"), col("cluster"))
    val probed = queries
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("lut", expr(s"pq_lut(qvec, $cbSql)"))
      .withColumn("cluster", explode(VecFns.probe(col("qvec"), VecFns.centroidsLit(ivfCs), nprobe)))
    val adcRanked = probed.join(assigned, "cluster")
      .where(col("qid") =!= col("nid"))
      .withColumn("adc", expr("pq_adc(codes, lut)"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("adc"), col("nid"))))
    if (rerank <= 0)
      adcRanked.where(col("rn") <= topK).select("qid", "nid", "adc", "rn")
    else {
      val shortlist = adcRanked.where(col("rn") <= math.max(rerank, topK))
        .select("qid", "qvec", "nid")
      shortlist
        .join(corpus.select(col(idCol).as("nid"),
          col(vecCol).cast("array<double>").as("nvec")), "nid")
        .withColumn("dist", expr("vec_l2(qvec, nvec)"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("dist"), col("nid"))))
        .where(col("rn") <= topK)
        .select("qid", "nid", "dist", "rn")
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scale-killer audit over the ENTIRE query surface: every SparkEntry query
  * is planned (not executed) against sf0.001 and its physical plan scanned
  * for the patterns that would break a 100 TB run — cartesian products,
  * broadcast nested-loop joins (the BNLJ class the tile/range/broadcast
  * rewrites exist to eliminate). Queries where a BNLJ is legitimately
  * bounded (explicit small-literal cross joins of k rows) are listed with
  * the bound that makes them safe.
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  // Queries with an intentional bounded cross join of a tiny literal side
  // (centroids/codebooks, k rows) — a BNLJ over k<=16 broadcast rows is the
  // correct plan, not a scale risk.
  private val boundedCross = Set(
    "q_semdedup",   // 8 broadcast centroid rows
    "q_ann_pq",     // 16 codebook vectors
    "q_ann_bruteforce", // 10 query rows vs corpus: intentional exact baseline
    "q_hybrid_rrf",     // 4 query vectors vs corpus: the semantic ranker side
    "q_embed_quant",    // 10 query rows vs corpus: exact + quantized rerank A/B
    "q_knn_join",   // probe side bounded in-query
    "q_dbscan", "q_kmeans", // k-bounded literals by construction
    "q_bm25", "q_dsir", "q_lm_quality", // 1-row corpus-stats side CROSS JOIN
    "q_tfidf" // 1-row corpus-count side CROSS JOIN (same shape as q_bm25)
  )

  test("no unbounded cartesian/BNLJ in any query plan") {
    assume(new java.io.File(s"$sfDir/lineitem.parquet").exists())
    Graft.register(spark)
    // the range-join rewrite legitimately bypasses to a broadcast join for
    // tiny build sides; force the scale path so the audit sees the plan a
    // 100 TB run would get
    spark.conf.set("spark.graft.rangeJoin.maxBroadcastBypass", "0")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      SparkEntry.queries.foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          val bad = plan.contains("CartesianProduct") ||
            plan.contains("BroadcastNestedLoopJoin")
          if (bad && !boundedCross(name)) offenders += name
        } catch {
          case e: Exception => offenders += s"$name (planning failed: ${e.getMessage.take(80)})"
        }
      }
    } finally spark.conf.unset("spark.graft.rangeJoin.maxBroadcastBypass")
    assert(offenders.isEmpty,
      s"scale-killer plans in: ${offenders.mkString(", ")}")
  }
}

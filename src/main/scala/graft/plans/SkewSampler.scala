package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.expressions.{Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}

/**
 * Plan-time skew sampling shared by [[SpatialJoinRule]] (hot TILES) and
 * [[RangeJoinRule]] (hot BINS). Both joins have the same failure shape at
 * scale: the rewritten equi-join hash-partitions by a derived key (tile id /
 * bin id), and one popular key serializes most of the join's PAIRS onto a
 * single task. The mitigation is also shared — sample both sides' anchor
 * keys, find the keys hot enough to own a task, and derive the split factor
 * from the hottest key's PAIR-MASS share — so the machinery lives here once.
 *
 * Sampling discipline (the r15 de-bias lesson): never a global first-rows
 * Limit — it executes partitions front-to-back, and on Hilbert/time-clustered
 * input (the layouts §4.3 recommends) the first partitions are one corner of
 * the key space, so a hot region at the tail of the file is invisible.
 * Instead draw the first rows of up to `maxParts` seeded-RANDOM partitions:
 * bounded planning cost at any table size (≤ maxParts short first-page
 * tasks), deterministic plans (fixed seed), full-file-order coverage.
 */
private[plans] object SkewSampler extends Logging {

  def pickPartitions(n: Int, maxParts: Int): Seq[Int] =
    if (n <= maxParts) 0 until n
    else new scala.util.Random(42).shuffle((0 until n).toVector).take(maxParts)

  def sampleDoubles(spark: SparkSession, plan: LogicalPlan, col: NamedExpression,
                    perPart: Int, maxParts: Int): Seq[Double] = {
    val rdd = spark.sessionState.executePlan(Project(Seq(col), plan))
      .executedPlan.execute()
    val k = perPart
    spark.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        it.take(k).filter(!_.isNullAt(0)).map(_.getDouble(0)).toArray,
      pickPartitions(rdd.getNumPartitions, maxParts)).toSeq.flatten
  }

  def sampleLongs(spark: SparkSession, plan: LogicalPlan, col: NamedExpression,
                  perPart: Int, maxParts: Int): Seq[Long] = {
    val rdd = spark.sessionState.executePlan(Project(Seq(col), plan))
      .executedPlan.execute()
    val k = perPart
    spark.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        it.take(k).filter(!_.isNullAt(0)).map(_.getLong(0)).toArray,
      pickPartitions(rdd.getNumPartitions, maxParts)).toSeq.flatten
  }

  /** Plan-time samples of both join rules, kept across queries. The cache
    * cannot live on a rule instance: Spark builds fresh optimizer rules for
    * every optimizer run (`Optimizer.batches` is a `def`, and the session
    * state re-runs `buildOptimizerRules` each time), so a per-instance map
    * never outlives one query. Keys come from [[sideKey]] and carry a data
    * signature, so unchanged data reuses its sample and changed data
    * resamples; the LRU bound keeps a long-lived session from growing it. */
  private val samples = new graft.LruCache[String, AnyRef]("planSample", 256)
  private val missNo = new java.util.concurrent.atomic.AtomicLong

  /** The cached sample under `kind|key`, or `sample`'s result. A miss logs
    * its wall time and the Spark jobs it ran, counted under a job tag. */
  def cached[V <: AnyRef](spark: SparkSession, kind: String, key: String)(sample: => V): V =
    samples.getOrElseUpdate(s"$kind|$key") {
      val sc = spark.sparkContext
      val tag = s"graft-plan-sample-${missNo.incrementAndGet()}"
      val t0 = System.nanoTime()
      sc.addJobTag(tag)
      val v = try sample finally sc.removeJobTag(tag)
      logInfo(f"plan-time $kind sample: ${(System.nanoTime() - t0) / 1e6}%.1f ms, " +
        s"${sc.statusTracker.getJobIdsForTag(tag).length} Spark job(s)")
      v
    }.asInstanceOf[V]

  /** Cache key for one join side: two independent 32-bit plan hashes (a
    * single hashCode collision silently reusing another join's sample was an
    * r14 advisory) plus stats.sizeInBytes as a DATA signature — overwriting a
    * path with different data changes the scan size, so a stale sample is
    * not reused. `e` is normalized against the side's output: a lone
    * attribute keeps its exprId under `canonicalized`, and exprIds change on
    * every analysis of the same SQL. */
  def sideKey(p: LogicalPlan, e: Expression): String = {
    val c = p.canonicalized
    s"${c.hashCode()}:${c.toString.hashCode}:${p.stats.sizeInBytes}:${exprKey(p, e)}"
  }

  /** Hash of `e` with its attributes normalized against `p`'s output. */
  def exprKey(p: LogicalPlan, e: Expression): Int =
    QueryPlan.normalizeExpressions(e, p.output).hashCode()

  /** Skew detection from two anchor-key samples (one per join side).
    *
    * A key is HOT when its sampled share exceeds 1/(2·parallelism) — the
    * level where one key's pairs start to dominate one task (floored at 16
    * absolute hits so a tiny sample can't flag noise). Returns:
    *   - the hot keys (capped at `cap` so downstream IN-literals stay
    *     codegen-friendly),
    *   - WHICH side to sub-split (the side whose sample is denser in the hot
    *     keys — splitting the dense side divides pairs-per-task by s while
    *     the sparse side's replication tax stays small precisely because it
    *     is sparse there),
    *   - the hottest key's estimated PAIR-MASS share: m(k) = shareL(k) ·
    *     shareR(k), severity = max over hot keys of m(k)/Σm. Pair mass, not
    *     row share — 20% of one side meeting a stack of the other side can
    *     be >90% of all pairs (SkewBench: the row-share factor s=7 left a
    *     6.7 s straggler that the pair-share factor levels). The split
    *     side's row share is kept as a floor for when the sparse side's
    *     sample misses the hot key entirely (the pair estimate then
    *     degenerates to 0 while a real, milder skew remains).
    *
    * A false positive only salts a key that didn't need it (bounded s×
    * replication of that key's rows on the sparse side); a false negative
    * equals the unsalted status quo. */
  def detectSkew(aL: Seq[Long], aR: Seq[Long], parallelism: Int,
                 cap: Int = 64): (Seq[Long], Boolean, Double) = {
    def hotOf(anchors: Seq[Long]): Seq[Long] =
      if (anchors.isEmpty) Nil
      else {
        val threshold = math.max(16.0, anchors.size.toDouble / (2.0 * parallelism))
        anchors.groupBy(identity).collect { case (t, hits) if hits.size >= threshold => t }.toSeq
      }
    val hot = (hotOf(aL) ++ hotOf(aR)).distinct.take(cap)
    val hotSet = hot.toSet
    val densL = if (aL.isEmpty) 0.0 else aL.count(hotSet).toDouble / aL.size
    val densR = if (aR.isEmpty) 0.0 else aR.count(hotSet).toDouble / aR.size
    val splitRight = densR >= densL
    def shares(a: Seq[Long]): Map[Long, Double] =
      if (a.isEmpty) Map.empty
      else a.groupBy(identity).view.mapValues(_.size.toDouble / a.size).toMap
    val sL = shares(aL); val sR = shares(aR)
    val mass = (sL.keySet ++ sR.keySet).iterator
      .map(t => t -> sL.getOrElse(t, 0.0) * sR.getOrElse(t, 0.0)).toMap
    val totalMass = mass.values.sum
    val pairShare =
      if (totalMass <= 0 || hot.isEmpty) 0.0
      else hot.map(t => mass.getOrElse(t, 0.0)).max / totalMass
    val splitSample = if (splitRight) aR else aL
    val rowShare =
      if (splitSample.isEmpty || hot.isEmpty) 0.0
      else hot.map(t => splitSample.count(_ == t).toDouble / splitSample.size).max
    (hot, splitRight, math.max(pairShare, rowShare))
  }

  /** salt=auto split factor: a key owning pair-mass share p needs s with
    * p/s ≤ 1/parallelism to level back to one fair task share, so
    * s = ceil(p × parallelism), clamped to [2, min(parallelism, 256)]. The
    * upper clamp tracks the cluster — splitting past the task count buys
    * nothing on this shuffle — and 256 bounds the sparse side's replication
    * tax on very large clusters. */
  def autoFactor(hottestShare: Double, parallelism: Int): Int =
    math.min(math.max(2, math.min(parallelism, 256)),
      math.max(2, math.ceil(hottestShare * parallelism).toInt))
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference,
  EqualTo, Explode, Expression, If, In, Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.types.{ArrayType, IntegerType}
import scala.reflect.ClassTag

/**
 * Plan-time skew sampling and hot-key salting shared by [[SpatialJoinRule]]
 * (hot TILES) and [[RangeJoinRule]] (hot BINS). Both joins have the same
 * failure shape at scale: the rewritten equi-join hash-partitions by a
 * derived key (tile id / bin id), and one popular key serializes most of the
 * join's PAIRS onto a single task. The mitigation is also shared — sample
 * both sides' anchor keys, find the keys hot enough to own a task, derive
 * the split factor from the hottest key's PAIR-MASS share, and sub-split only
 * those keys ([[salt]]) — so the machinery lives here once.
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

  /** The first `perPart` non-null values of `e` over `plan` from up to 64
    * seeded-random partitions (see the class doc). */
  def sample[T: ClassTag](spark: SparkSession, plan: LogicalPlan, e: Expression,
                          perPart: Int): Seq[T] = {
    val rdd = spark.sessionState.executePlan(Project(Seq(Alias(e, "__sample")()), plan))
      .executedPlan.execute()
    val dt = e.dataType
    spark.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) =>
        it.take(perPart).filter(!_.isNullAt(0)).map(_.get(0, dt).asInstanceOf[T]).toArray,
      pickPartitions(rdd.getNumPartitions, 64)).toSeq.flatten
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

  /** True when either side of `j` fits the session broadcast threshold:
    * Catalyst then picks a broadcast hash join for the rewritten equi-join,
    * so it never shuffles by its derived key. */
  def broadcastShaped(spark: SparkSession, j: Join): Boolean = {
    val abt = spark.sessionState.conf.autoBroadcastJoinThreshold
    abt > 0 && (j.left.stats.sizeInBytes <= abt || j.right.stats.sizeInBytes <= abt)
  }

  /** One side of a rewritten equi-join: its plan, the derived join key in
    * it, and the ANCHOR key a plan-time sample reads from the side's plan
    * before the rewrite — one key per row (a bbox's min-corner tile, an
    * interval's low bin), which under-counts a row spanning several keys
    * but never invents skew. */
  case class SaltSide(plan: LogicalPlan, key: Attribute, source: LogicalPlan, anchor: Expression)

  /** The two sides and the equi-condition of the join `j` rewritten to
    * `a.key = b.key`, salted against hot keys when the setting `conf` asks:
    * "auto" (default) salts when the plan-time sample finds hot keys, with
    * the factor from [[autoFactor]]; N > 1 pins the factor; any other number
    * is off. A salted join gains `<name>` and `<name>_v` sub-key columns and
    * the condition `a.key = b.key AND a-side sub-key = b-side sub-key`.
    *
    * TARGETED salting: only keys the sample flags as hot are sub-split.
    * Global salting replicated EVERY sparse-side row s× — on a 20M-row
    * hot-tile fixture that quadrupled total task time for a straggler it
    * didn't even level (SkewBench round-14 measurements); targeting confines
    * the replication tax to the hot keys' own rows, and a skew-free join
    * pays nothing and keeps its unsalted plan.
    *
    * Salt is a SHUFFLE-skew mitigation, so a [[broadcastShaped]] join is
    * never salted: a broadcast hash join distributes the probe work with the
    * big side's partitions and no key ever owns a task, so salting is pure
    * overhead (s× candidate replication plus a murmur per candidate:
    * measured 6× wall at salt=8 on a 20M-point hot-tile fixture,
    * graft.tools.SkewBench). */
  def salt(spark: SparkSession, conf: String, j: Join, name: String,
           a: SaltSide, b: SaltSide): (LogicalPlan, LogicalPlan, Expression) = {
    val keys = EqualTo(a.key, b.key)
    val unsalted = (a.plan, b.plan, keys)
    val setting = spark.conf.get(conf, "auto")
    val auto = setting.equalsIgnoreCase("auto")
    // N <= 1 is off: one bucket would add the explode + murmur machinery
    // with zero splitting — pure per-row overhead
    val pinned = if (auto) 0 else setting.toInt
    if (!auto && pinned <= 1) return unsalted
    if (broadcastShaped(spark, j)) {
      if (!auto) logInfo(s"$conf=$setting skipped: a join side fits the broadcast " +
        "threshold, so the join will not shuffle and has no skew to split")
      return unsalted
    }
    val (hot, splitB, hottestShare) = hotKeys(spark, a, b)
    // auto levels the hottest key to one fair task share (SkewBench measured
    // monotone improvement right up to s = parallelism at 20M/50M/100M points)
    val s = if (auto) autoFactor(hottestShare, spark.sparkContext.defaultParallelism) else pinned
    if (hot.isEmpty) {
      if (!auto) logInfo(s"$conf=$s requested but the sample found no hot keys — " +
        "salting nothing (a skew-free join pays no replication tax)")
      return unsalted
    }
    val (dense, sparse) = if (splitB) (b, a) else (a, b)
    logInfo(s"$conf=$s${if (auto) " (auto)" else ""} targeting ${hot.size} hot key(s), " +
      s"splitting the ${dense.key.name} side")
    def isHot(side: SaltSide): Expression = In(side.key, hot.map(Literal(_)))
    // The DENSE side's hot rows sub-split by a hash of the FULL row (every
    // column but the join key: a geometry- or value-only hash collapses
    // identical values — a stack of copies of one city polygon, a spike at
    // one timestamp — into one bucket, exactly the skew being split); the
    // sparse side's hot rows replicate s-fold. Fully identical rows still
    // co-bucket — that duplication factor is the one skew this scheme cannot
    // split.
    val rowCols = dense.plan.output.filterNot(_.exprId == dense.key.exprId)
    val sub = Alias(If(isHot(dense), Pmod(new Murmur3Hash(rowCols), Literal(s)), Literal(0)),
      s"${name}_v")()
    val gen = AttributeReference(name, IntegerType, nullable = false)()
    val all = Literal.create(0 until s, ArrayType(IntegerType))
    val one = Literal.create(Seq(0), ArrayType(IntegerType))
    val denseOut = Project(dense.plan.output :+ sub, dense.plan)
    val sparseOut = Generate(Explode(If(isHot(sparse), all, one)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(gen), child = sparse.plan)
    if (splitB) (sparseOut, denseOut, And(keys, EqualTo(gen, sub.toAttribute)))
    else (denseOut, sparseOut, And(keys, EqualTo(sub.toAttribute, gen)))
  }

  /** [[detectSkew]] over samples of both sides' anchor keys, cached under
    * what is sampled. A failed sample salts nothing for this query and is
    * not cached, so the next query samples again. */
  private def hotKeys(spark: SparkSession, a: SaltSide, b: SaltSide): (Seq[Long], Boolean, Double) = {
    val par = spark.sparkContext.defaultParallelism
    try cached(spark, "hotKeys",
        s"${sideKey(a.source, a.anchor)}|${sideKey(b.source, b.anchor)}:$par") {
      detectSkew(sample[Long](spark, a.source, a.anchor, perPart = 256),
        sample[Long](spark, b.source, b.anchor, perPart = 256), par)
    } catch {
      case e: Exception =>
        logWarning(s"hot-key sampling failed (${e.getClass.getSimpleName}: " +
          s"${e.getMessage}); salting nothing")
        (Nil, true, 0.0)
    }
  }
}

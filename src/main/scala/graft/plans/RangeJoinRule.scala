package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/**
 * Numeric/temporal interval-join acceleration — the 1-D analog of
 * [[SpatialJoinRule]]'s grid tile join (reference: the IEJoin the rewriter in
 * /root/reference/spatial/src/spatial/core/optimizer_rules.cpp:33-279 targets
 * handles exactly this class natively in the reference engine).
 *
 * Spark plans   a JOIN b ON a.x BETWEEN b.lo AND b.hi   with no equi-key as a
 * BroadcastNestedLoopJoin (small side) or CartesianProduct — O(|a|·|b|)
 * comparisons, quadratic at 100 TB. Rewrite to a BIN EQUI-JOIN:
 *
 *   bin(v)      = floor(v / w)                       -- w = bin width
 *   point side  : __graft_bin_p = bin(x)             -- exactly ONE bin
 *   interval side: explode(sequence(bin(lo), bin(hi))) AS __graft_bin_i
 *   JOIN ON __graft_bin_p = __graft_bin_i            -- hash-partitionable!
 *        AND <original condition>                    -- exact residual
 *
 * The point falls in exactly one bin, so every qualifying pair meets in
 * exactly one (binP, binI) bucket — no dedup pass needed. floor(v/w) is
 * monotone in v even under double rounding, so bin(x) ∈ [bin(lo), bin(hi)]
 * whenever lo ≤ x ≤ hi: no false negatives; false positives die in the
 * residual.
 *
 * Fires only when the join has NO equi-conjunct between the sides (with one,
 * Catalyst already picks a shuffled hash/sort-merge join keyed on it).
 * Strict bounds (<, >) qualify too — binning is bbox-style overcount.
 *
 * Cost bailout: when the smaller side is TINY (≤
 * spark.graft.rangeJoin.maxBroadcastBypass bytes, default 64 KB ≈ a couple
 * thousand rows) the join is left to Spark's BroadcastNestedLoopJoin —
 * measured at sf0.1, 600k×200 codegen'd comparisons beat the explode +
 * shuffle the rewrite pays. Above the threshold the quadratic probe cost
 * dominates and binning wins; set 0 to always rewrite.
 *
 * Tuning: spark.graft.rangeJoin.enabled (default true),
 * spark.graft.rangeJoin.binWidth (default "auto": sample up to 1000 interval
 * rows at planning time, use max(median length, tiny) so a typical interval
 * spans 1–2 bins; cached across queries like the spatial cell size),
 * and spark.graft.rangeJoin.salt (default "auto" — the same self-enabling
 * TARGETED skew mitigation as the spatial tile join, via the shared
 * [[SkewSampler]]: a plan-time sample of both sides' bins finds the bins hot
 * enough to serialize a task — a popular value band, a spike of events at
 * one timestamp — derives the split factor from the hottest bin's PAIR-MASS
 * share, and sub-splits ONLY those bins: the denser side's hot rows spread
 * across s sub-keys by full-row hash, the sparser side's hot rows replicate
 * s-fold; skew-free data pays nothing and its plan is unchanged. An integer
 * N > 1 pins the factor; any other number is off. When a side fits the
 * broadcast threshold the bin join never shuffles, so salting is pure
 * overhead and is skipped. Applies to the point-in-interval path;
 * the interval-overlap path's per-pair dedupe anchor makes per-bin salting
 * interact with the anchor condition and is left to AQE skew handling.
 * Degenerate/reversed intervals (hi < lo) explode to zero bins.
 */
class RangeJoinRule(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    spark.conf.get("spark.graft.rangeJoin.enabled", "true").toBoolean

  // Plan-time samples (bin width, hot bins) go through SkewSampler.cached:
  // one cross-query cache shared with SpatialJoinRule, which cannot live on
  // this instance because Spark builds fresh rules for every optimizer run.

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _)
          if j.resolved && !alreadyRewritten(cond) && !hasEquiConjunct(cond, left, right) =>
        findInterval(cond, left, right) match {
          case Some(iv) if !tinyBuildSide(j) => rewrite(j, cond, iv)
          case _ => j
        }
    }
  }

  private def tinyBuildSide(j: Join): Boolean = {
    val bypass = spark.conf.get("spark.graft.rangeJoin.maxBroadcastBypass",
      (64 * 1024).toString).toLong
    bypass > 0 &&
      j.left.stats.sizeInBytes.min(j.right.stats.sizeInBytes) <= BigInt(bypass)
  }

  private def alreadyRewritten(cond: Expression): Boolean =
    cond.exists {
      case a: AttributeReference => a.name.startsWith("__graft_bin")
      case _ => false
    }

  private def hasEquiConjunct(cond: Expression, left: LogicalPlan, right: LogicalPlan): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) =>
        (a.references.nonEmpty && b.references.nonEmpty) &&
          ((a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
           (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet)))
      case _ => false
    }

  private def supported(dt: DataType): Boolean = dt match {
    case _: NumericType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private sealed trait RangePred
  /** point expr x on one side; lo/hi exprs on the other; pointOnLeft. */
  private case class PointInInterval(x: Expression, lo: Expression, hi: Expression,
                                     pointOnLeft: Boolean) extends RangePred
  /** [lLo,lHi] from the left side overlapping [rLo,rHi] from the right. */
  private case class IntervalOverlap(lLo: Expression, lHi: Expression,
                                     rLo: Expression, rHi: Expression) extends RangePred

  /** Detect a binnable predicate among the conjuncts. Point-in-interval
   *  (x ≥/> lo AND x ≤/< hi, x one side / bounds the other) is preferred —
   *  no dedupe pass, one bin on the point side. Otherwise interval overlap
   *  (lLo ≤ rHi AND rLo ≤ lHi): both sides explode and pairs dedupe on the
   *  bin of max(lLo, rLo) — the 1-D anchor-corner trick from the tile join. */
  private def findInterval(cond: Expression, left: LogicalPlan,
                           right: LogicalPlan): Option[RangePred] = {
    def sideOf(e: Expression): Option[Boolean] = // Some(true)=left
      if (e.references.isEmpty) None
      else if (e.references.subsetOf(left.outputSet)) Some(true)
      else if (e.references.subsetOf(right.outputSet)) Some(false)
      else None
    def ok(e: Expression): Boolean = e.deterministic && supported(e.dataType)

    // band joins |a-b| ≤ d expand to both bounds (b-d ≤ a AND a ≤ b+d) so the
    // point detection below sees an ordinary interval around b
    def band(absE: Expression, d: Expression): Seq[(Expression, Expression)] = absE match {
      case Abs(Subtract(a, b, _), _)
          if d.foldable && d.deterministic && absE.deterministic =>
        Seq((Subtract(toD(b), toD(d)), a), (a, Add(toD(b), toD(d))))
      case _ => Seq.empty
    }
    // normalize every inequality conjunct to (smaller, larger)
    val ineqs: Seq[(Expression, Expression)] = splitConjunctivePredicates(cond).flatMap {
      case LessThanOrEqual(l: Abs, d)    => band(l, d)
      case LessThan(l: Abs, d)           => band(l, d)
      case GreaterThanOrEqual(d, l: Abs) => band(l, d)
      case GreaterThan(d, l: Abs)        => band(l, d)
      case GreaterThanOrEqual(a, b) => Seq((b, a))
      case GreaterThan(a, b)        => Seq((b, a))
      case LessThanOrEqual(a, b)    => Seq((a, b))
      case LessThan(a, b)           => Seq((a, b))
      case _ => Seq.empty
    }
    // lower bound: (lo, x); upper bound: (x, hi)
    val points = for {
      (lo, x1) <- ineqs
      (x2, hi) <- ineqs
      if x1.semanticEquals(x2) && !(lo eq hi)
      if ok(x1) && ok(lo) && ok(hi)
      ps <- sideOf(x1); ls <- sideOf(lo); hs <- sideOf(hi)
      if ls == hs && ps != ls
    } yield PointInInterval(x1, lo, hi, pointOnLeft = ps)
    points.headOption.orElse {
      // overlap: one conjunct (smaller=left-expr, larger=right-expr), a
      // second with the sides swapped — [l1, r2] × [l2, r1]
      val overlaps = for {
        (l1, r1) <- ineqs
        (l2, r2) <- ineqs
        if !(l1 eq l2)
        if ok(l1) && ok(r1) && ok(l2) && ok(r2)
        s1 <- sideOf(l1); s2 <- sideOf(r1); s3 <- sideOf(l2); s4 <- sideOf(r2)
        if s1 && !s2 && !s3 && s4
      } yield IntervalOverlap(l1, r2, l2, r1)
      overlaps.headOption
    }
  }

  // TimeZoneAwareExpressions (Cast, Sequence) built inside an optimizer rule
  // must carry an explicit zone or the plan flips back to unresolved
  private def tz: Option[String] = Some(spark.sessionState.conf.sessionLocalTimeZone)

  private def toD(e: Expression): Expression = e.dataType match {
    case DoubleType => e
    case _ => Cast(e, DoubleType, tz)
  }

  private def bin(e: Expression, w: Double): Expression =
    Floor(Divide(toD(e), Literal(w)))

  /** None = do not rewrite this join: a sampled interval is unbounded or so
   *  much longer than the median that it would explode to an absurd number
   *  of bins (Sequence would error at runtime) — leave Spark's plan alone. */
  private def binWidth(intervalPlan: LogicalPlan, lo: Expression,
                       hi: Expression): Option[Double] = {
    val conf = spark.conf.get("spark.graft.rangeJoin.binWidth", "auto")
    if (!conf.equalsIgnoreCase("auto")) return Some(conf.toDouble)
    val maxBins = spark.conf.get("spark.graft.rangeJoin.maxBinsPerInterval", "100000").toLong
    val key = s"${SkewSampler.sideKey(intervalPlan, lo)}:${SkewSampler.exprKey(intervalPlan, hi)}:$maxBins"
    // NaN caches "do not rewrite"; a failed sample falls back to 1.0 for
    // this query and is not cached
    val w = try SkewSampler.cached(spark, "binWidth", key) {
      val len = Alias(Subtract(toD(hi), toD(lo)), "__len")()
      val probe = Limit(Literal(1000), Project(Seq(len), intervalPlan))
      val raw = spark.sessionState.executePlan(probe).executedPlan.executeCollect()
        .filterNot(_.isNullAt(0)).map(_.getDouble(0))
      val lens = raw.filter(d => !d.isNaN && !d.isInfinite && d >= 0).sorted.toSeq
      java.lang.Double.valueOf(
        if (raw.exists(d => d.isInfinite || d.isNaN)) Double.NaN
        else if (lens.isEmpty) 1.0
        else {
          val w = math.max(lens(lens.length / 2), 1e-9) // all-degenerate: any width
          if (lens.last / w > maxBins) Double.NaN // outlier interval would explode
          else w
        })
    }.doubleValue() catch {
      case e: Exception =>
        logWarning(s"range-join binWidth=auto sampling failed (${e.getClass.getSimpleName}: " +
          s"${e.getMessage}); using 1.0")
        1.0
    }
    if (w.isNaN) None else Some(w)
  }

  /** bins lo..hi as array<long>; reversed/NULL bounds → zero bins. */
  private def binsExpr(lo: Expression, hi: Expression, w: Double): Expression = {
    val binLo = bin(lo, w)
    val binHi = bin(hi, w)
    val emptyBins = Literal.create(Array.empty[Long], ArrayType(LongType, containsNull = false))
    If(And(And(IsNotNull(binLo), IsNotNull(binHi)),
           LessThanOrEqual(binLo, binHi)),
      Sequence(binLo, binHi, Some(Literal(1L)), tz), emptyBins)
  }

  private def rewrite(j: Join, cond: Expression, pred: RangePred): LogicalPlan = pred match {
    case iv: PointInInterval => rewritePoint(j, cond, iv)
    case ov: IntervalOverlap => rewriteOverlap(j, cond, ov)
  }

  private def rewritePoint(j: Join, cond: Expression, iv: PointInInterval): LogicalPlan = {
    val (pointPlan, intvPlan) =
      if (iv.pointOnLeft) (j.left, j.right) else (j.right, j.left)
    val w = binWidth(intvPlan, iv.lo, iv.hi) match {
      case Some(v) => v
      case None => return j // unbounded/extreme intervals: keep Spark's plan
    }

    val binP = Alias(bin(iv.x, w), "__graft_bin_p")()
    val pointSide = Project(pointPlan.output :+ binP, pointPlan)

    // reversed/NULL intervals → zero bins (residual would reject them anyway)
    val binI = AttributeReference("__graft_bin_i", LongType, nullable = false)()
    val intvSide = Generate(Explode(binsExpr(iv.lo, iv.hi, w)), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(binI), child = intvPlan)

    // TARGETED skew salting (shared with the spatial tile join): only bins
    // the plan-time sample flags as hot are sub-split on the dense side and
    // replicated on the sparse one; an interval's anchor is its LOW bin
    val (pointSalted, intvSalted, equi) = SkewSampler.salt(spark, "spark.graft.rangeJoin.salt", j,
      "__graft_bin_salt",
      SkewSampler.SaltSide(pointSide, binP.toAttribute, pointPlan, bin(iv.x, w)),
      SkewSampler.SaltSide(intvSide, binI, intvPlan, bin(iv.lo, w)))
    val newCond = And(equi, cond)
    val (newL, newR) =
      if (iv.pointOnLeft) (pointSalted, intvSalted) else (intvSalted, pointSalted)
    Project(j.output, Join(newL, newR, Inner, Some(newCond), j.hint))
  }

  /** Both sides explode to their bin ranges; a matching pair meets in every
   *  shared bin, so keep only the bin holding max(lLo, rLo) — present in both
   *  ranges exactly when the intervals overlap, and unique. Bounds are
   *  Least/Greatest-normalized first: a row whose lo > hi can still satisfy
   *  the overlap conjuncts (the columns need not form a real interval), and
   *  min/max envelopes never miss — min(a) ≤ aLo ≤ bHi ≤ max(b) whenever the
   *  condition holds. */
  private def rewriteOverlap(j: Join, cond: Expression, ov: IntervalOverlap): LogicalPlan = {
    val w = (binWidth(j.left, ov.lLo, ov.lHi), binWidth(j.right, ov.rLo, ov.rHi)) match {
      case (Some(a), Some(b)) => math.max(a, b)
      case _ => return j // unbounded/extreme intervals: keep Spark's plan
    }
    val lLoN = Least(Seq(ov.lLo, ov.lHi)); val lHiN = Greatest(Seq(ov.lLo, ov.lHi))
    val rLoN = Least(Seq(ov.rLo, ov.rHi)); val rHiN = Greatest(Seq(ov.rLo, ov.rHi))
    val binL = AttributeReference("__graft_bin_l", LongType, nullable = false)()
    val binR = AttributeReference("__graft_bin_r", LongType, nullable = false)()
    val genL = Generate(Explode(binsExpr(lLoN, lHiN, w)), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(binL), child = j.left)
    val genR = Generate(Explode(binsExpr(rLoN, rHiN, w)), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(binR), child = j.right)
    val anchor = EqualTo(bin(Greatest(Seq(lLoN, rLoN)), w), binL)
    val newCond = And(And(EqualTo(binL, binR), anchor), cond)
    Project(j.output, Join(genL, genR, Inner, Some(newCond), j.hint))
  }
}

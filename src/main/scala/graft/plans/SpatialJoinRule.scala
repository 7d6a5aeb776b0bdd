package graft.plans

import graft.functions.FnExpr
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType}

/**
 * Spatial-join acceleration (reference: RangeJoinSpatialPredicateRewriter,
 * /root/reference/spatial/src/spatial/core/optimizer_rules.cpp:33-279, which
 * turns a blockwise-NL join into a bbox IEJoin + residual filter).
 *
 * Spark has no IEJoin, and a range join would still be a broadcast-nested-loop
 * — quadratic at 100 TB. The scalable Spark shape is a GRID TILE JOIN:
 *
 *   a JOIN b ON st_intersects(a.geom, b.geom)
 *   ⇒  explode(st_tile_ids(a.geom, cell)) AS ta on the left
 *      explode(st_tile_ids(b.geom, cell)) AS tb on the right
 *      JOIN ON ta = tb                                  -- hash-partitionable!
 *           AND st_tile_id(max(xmins), max(ymins)) = ta -- dedupe (emit once)
 *           AND st_intersects(a.geom, b.geom)           -- exact residual
 *
 * The equi-condition makes Catalyst pick a shuffled hash / sort-merge join, so
 * the work distributes over the cluster keyed by tile. The dedupe condition
 * keeps exactly the tile containing the top-left corner of the bbox
 * intersection, so no distinct pass is needed. Rewritable predicate set
 * mirrors optimizer_rules.cpp:96-98 (st_disjoint excluded: bbox overlap does
 * not imply it).
 *
 * Tuning: spark.graft.spatialJoin.enabled (default true),
 * spark.graft.spatialJoin.cellSize (default "auto" — samples bbox extents at
 * planning time and uses 2 × the median POSITIVE extent, so the tile size
 * tracks the data at any scale while halving the (1 + e/c)² fan-out term;
 * a numeric value pins the cell: too small explodes tiles, too large
 * degrades pruning), and
 * spark.graft.spatialJoin.salt (default "auto" — self-enabling skew
 * mitigation: a plan-time sample finds the tiles hot enough to serialize a
 * task, derives the split factor from the hottest tile's estimated PAIR-MASS
 * share — the product of both sides' sampled densities there, which is what
 * actually serializes a task — as ceil(share × parallelism) clamped to
 * [2, min(parallelism, 256)], the factor that levels that tile back to one
 * fair task share, and ONLY those tiles are
 * sub-split — dense-side rows across `s` sub-keys by full-row hash, sparse
 * side replicated per sub-key — so a city-sized tile no longer lands on one
 * task while the rest of the data pays no replication tax. An integer value
 * pins the factor manually (|salt| <= 1 = off in either sign); an integer
 * below -1 forces salting
 * at |salt| even when a join side looks broadcast-sized — the escape hatch
 * for unreliable size stats. Otherwise salting is skipped entirely when a
 * join side fits the broadcast threshold: a broadcast hash join never
 * shuffles by tile, so it has no tile skew to split).
 *
 * Two further scale moves (round 16), both free of semantic drift:
 *   - spark.graft.spatialJoin.preferHashJoin (default true): a forced-shuffle
 *     tile join is hinted SHUFFLE_HASH (build = smaller side by stats). The
 *     tile equi-join derives no benefit from sort order, and SMJ fully sorts
 *     BOTH fanned sides — at 600M×150M rows those two external sorts spilled
 *     more disk than the shuffle itself (measured: the sf100 polygon fan-out
 *     filled a 47 GB volume through SMJ sort spills).
 *   - envelope-exact residuals + WKB payload narrowing: when a geometry arg
 *     traces to a rect/point constructor, boundary-inclusive predicates
 *     evaluate as closed-form arithmetic on the st_extent sidecar and the
 *     WKB column is dropped from the shuffle entirely (rebuilt exactly from
 *     the sidecar where the output needs it) — see traceConstructor below.
 */
class SpatialJoinRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val rewritable = Set(
    "st_intersects", "st_equals", "st_touches", "st_crosses", "st_within",
    "st_contains", "st_overlaps", "st_covers", "st_coveredby", "st_containsproperly")

  private def enabled: Boolean =
    spark.conf.get("spark.graft.spatialJoin.enabled", "true").toBoolean

  // ---- plan-time sampling ---------------------------------------------------
  // Sampling discipline, the cross-query sample cache, its keying, and skew
  // detection live in [[SkewSampler]] (shared with RangeJoinRule — the 1-D
  // bin join has the identical hot-key failure shape and mitigation). The
  // cache cannot live on this instance: Spark builds fresh rules for every
  // optimizer run, so a field here would never outlive one query.
  private def sideKeys(left: LogicalPlan, lGeom: Expression,
                       right: LogicalPlan, rGeom: Expression): String =
    s"${SkewSampler.sideKey(left, lGeom)}|${SkewSampler.sideKey(right, rGeom)}"

  private def cellSize(left: LogicalPlan, lGeom: Expression,
                       right: LogicalPlan, rGeom: Expression): Double = {
    val conf = spark.conf.get("spark.graft.spatialJoin.cellSize", "auto")
    if (!conf.equalsIgnoreCase("auto")) return conf.toDouble
    // auto: a fixed cell is data-dependent and silently degrades at the
    // wrong scale. Cell = 2 × the median POSITIVE bbox extent over a bounded
    // sample of each side: zero-extent (point) rows don't constrain the cell
    // (a pure point cloud is happy with any tiling — they would only drag
    // the median to 0), and the ×2 factor halves the dominant shuffle term —
    // a bbox of extent e fans into ~(1 + e/c)² tile copies, so c = 2e costs
    // 2.25 copies where c = e costs 4 — while the residual's candidate
    // window (e + c)² stays within ~2× of the tight cell's. Measured on the
    // sf100 polygon fan-out: the difference between a shuffle that fits the
    // volume and one that doesn't.
    // A failed sample falls back for this query and is not cached, so the
    // next query samples again.
    def sampleExtents(plan: LogicalPlan, geom: Expression): Seq[Double] = {
      val ext = Alias(Greatest(Seq(
        Subtract(FnExpr("st_xmax", Seq(geom)), FnExpr("st_xmin", Seq(geom))),
        Subtract(FnExpr("st_ymax", Seq(geom)), FnExpr("st_ymin", Seq(geom))))), "__ext")()
      SkewSampler.sampleDoubles(spark, plan, ext, perPart = 32, maxParts = 64)
        .filter(d => !d.isNaN && !d.isInfinite)
    }
    try SkewSampler.cached(spark, "cell", sideKeys(left, lGeom, right, rGeom)) {
      val all = (sampleExtents(left, lGeom) ++ sampleExtents(right, rGeom)).filter(_ > 0).sorted
      // pure point clouds: any cell works; keep 1
      java.lang.Double.valueOf(if (all.isEmpty) 1.0 else 2.0 * all(all.length / 2))
    }.doubleValue() catch {
      case e: Exception =>
        logWarning(s"spatial-join cellSize=auto sampling failed (${e.getClass.getSimpleName}: " +
          s"${e.getMessage}); falling back to cellSize=1.0")
        1.0
    }
  }

  /** Tiles hot enough to serialize a task, detected from a bounded sample of
    * each side's ANCHOR tile (st_tile_id of the bbox min corner, expanded on
    * the left for st_dwithin so a tile that is only hot AFTER expansion is
    * still seen — exact for point clouds, the common skew shape; a
    * bbox-spanning geometry counts toward one of its tiles, which
    * under-counts but never invents skew). A tile is hot when its sampled
    * share exceeds 1/(2·parallelism) — the level where one tile's pairs
    * start to dominate one task. Also returns WHICH side to sub-split (the
    * side whose sample is denser in the hot tiles — the point cloud in the
    * city-polygons-vs-points shape; the other side replicates, which is
    * cheap precisely because it is sparse there) and the hottest tile's
    * sampled share on that side, which salt=auto turns into the split
    * factor. A false positive only salts a tile that didn't need it
    * (bounded s× replication of that tile's rows on the sparse side); a
    * false negative equals the unsalted status quo. Capped at 64 tiles so
    * the IN-literal stays codegen-friendly. */
  private def hotTiles(left: LogicalPlan, lGeom: Expression,
                       right: LogicalPlan, rGeom: Expression,
                       cell: Double, expand: Double): (Seq[Long], Boolean, Double) = {
    val par = spark.sparkContext.defaultParallelism
    def sampleAnchors(plan: LogicalPlan, geom: Expression, exp: Double): Seq[Long] = {
      def corner(fn: String): Expression =
        if (exp == 0.0) FnExpr(fn, Seq(geom))
        else Subtract(FnExpr(fn, Seq(geom)), Literal(exp))
      val anchor = Alias(FnExpr("st_tile_id", Seq(
        corner("st_xmin"), corner("st_ymin"), Literal(cell))), "__anchor")()
      SkewSampler.sampleLongs(spark, plan, anchor, perPart = 256, maxParts = 64)
    }
    // Hot-key + severity math is shared with RangeJoinRule: pair-mass share
    // (product of both sides' sampled densities — the quantity that actually
    // serializes a task), row-share floor, dense-side selection. See
    // SkewSampler.detectSkew for the full rationale and SkewBench numbers.
    try SkewSampler.cached(spark, "hotTiles",
        s"${sideKeys(left, lGeom, right, rGeom)}:$cell:$expand:$par") {
      SkewSampler.detectSkew(sampleAnchors(left, lGeom, expand), sampleAnchors(right, rGeom, 0.0), par)
    } catch {
      case e: Exception =>
        logWarning(s"spatial-join hot-tile sampling failed (${e.getClass.getSimpleName}: " +
          s"${e.getMessage}); salting nothing")
        (Nil, true, 0.0)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if j.resolved && !alreadyRewritten(cond) =>
        findSpatialPredicate(cond, left, right) match {
          case Some(m) => rewrite(j, cond, m)
          case None => j
        }
    }
  }

  private def alreadyRewritten(cond: Expression): Boolean =
    cond.exists {
      case a: AttributeReference => a.name.startsWith("__graft_tile")
      case _ => false
    }

  /** One matched spatial-join predicate: the conjunct itself, its function
   *  name AS WRITTEN (before any side-swap), the left/right-side geometry
   *  args after side normalization, whether the args were swapped to get
   *  there, and the tile expansion (st_dwithin's constant distance). */
  private case class Matched(pred: Expression, fn: String, lGeom: Expression,
                             rGeom: Expression, swapped: Boolean, expand: Double)

  /** Locate a rewritable predicate whose two geometry args resolve to opposite
   *  join sides. Plain bbox-implying predicates expand by 0; st_dwithin with a
   *  CONSTANT distance expands the LEFT side's tiles by it (bbox-within-d
   *  pairs then always share a tile; the exact predicate runs as residual). */
  private def findSpatialPredicate(
      cond: Expression,
      left: LogicalPlan,
      right: LogicalPlan): Option[Matched] = {
    def sides(a: Expression, b: Expression): Option[(Expression, Expression, Boolean)] =
      if (a.references.nonEmpty && b.references.nonEmpty &&
          a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) Some((a, b, false))
      else if (a.references.nonEmpty && b.references.nonEmpty &&
          b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet)) Some((b, a, true))
      else None
    splitConjuncts(cond).iterator.flatMap {
      case p @ FnExpr(fn, Seq(a, b)) if rewritable(fn) =>
        sides(a, b).map { case (l, r, sw) => Matched(p, fn, l, r, sw, 0.0) }
      case p @ FnExpr("st_dwithin", Seq(a, b, d)) if d.foldable =>
        val dist = d.eval() match {
          case n: java.lang.Number => n.doubleValue()
          case _ => Double.NaN
        }
        if (dist.isNaN || dist < 0) None
        else sides(a, b).map { case (l, r, sw) => Matched(p, "st_dwithin", l, r, sw, dist) }
      case _ => None
    }.nextOption()
  }

  // ---- envelope-exact shapes ------------------------------------------------
  // A geometry expression is a KNOWN RECT ('R') or KNOWN POINT ('P') when it
  // is (or traces through Project/Filter/SubqueryAlias chains to) a
  // constructor whose shape is syntactically certain. For those shapes the
  // st_extent sidecar struct carries ALL the information the geometry does
  // (a rect IS its envelope; a 2-arity point IS its min corner), which
  // unlocks two scale optimizations in rewrite():
  //   1. envelope-exact predicates (st_intersects / st_covers / st_coveredby
  //      between rect-or-point shapes) evaluate as closed-form arithmetic on
  //      the sidecar doubles — no WKB deserialization, no JTS, per candidate
  //      pair. (st_contains / st_within stay on the exact kernel: they are
  //      boundary-EXCLUSIVE, so a point on the rect edge makes bbox
  //      arithmetic disagree.)
  //   2. the WKB column itself stops traveling through the tile shuffle:
  //      residual references are substituted with a constructor over the
  //      sidecar fields, and the join's output column is reconstructed the
  //      same way AFTER the join (only rows that passed the predicate reach
  //      it, so null/empty inputs — which the predicate filters — never need
  //      reconstructing). At 940M fanned rows × ~120 B of polygon WKB this
  //      is the difference between a 150 GB shuffle and a 50 GB one.
  // Reconstruction is byte-exact for st_point (the env IS the point) and for
  // st_envelope (routed back through getEnvelope's canonical ring). For
  // st_makeenvelope with INVERTED min/max arguments the reconstructed ring
  // is the normalized winding of the same rectangle — identical point set,
  // so every downstream predicate/measure agrees; only WKT/WKB vertex order
  // of that pathological input would differ.
  private def traceConstructor(plan: LogicalPlan, e: Expression, depth: Int = 0): Option[String] =
    e match {
      case FnExpr("st_point", args) if args.length == 2 => Some("st_point")
      case FnExpr("st_makeenvelope", args) if args.length == 4 => Some("st_makeenvelope")
      case FnExpr("st_envelope", Seq(_)) => Some("st_envelope")
      case Alias(child, _) => traceConstructor(plan, child, depth)
      case a: AttributeReference if depth < 8 =>
        def findDef(p: LogicalPlan): Option[(Expression, LogicalPlan)] = p match {
          case proj: Project =>
            proj.projectList.collectFirst {
              case al @ Alias(child, _) if al.exprId == a.exprId => (child, proj.child)
            }.orElse(if (proj.child.outputSet.contains(a)) findDef(proj.child) else None)
          case f: Filter => findDef(f.child)
          case s: SubqueryAlias => findDef(s.child)
          case g: Generate => if (g.child.outputSet.contains(a)) findDef(g.child) else None
          case _ => None
        }
        findDef(plan).flatMap { case (expr, child) => traceConstructor(child, expr, depth + 1) }
      case _ => None
    }

  /** Rebuild a classified geometry from its st_extent sidecar struct —
   *  evaluated only where needed (residual substitution / post-join output). */
  private def reconstruct(origin: String, env: Attribute): Expression = {
    def f(i: Int, n: String): Expression = GetStructField(env, i, Some(n))
    origin match {
      case "st_point" => FnExpr("st_point", Seq(f(0, "min_x"), f(1, "min_y")))
      case "st_makeenvelope" =>
        FnExpr("st_makeenvelope", Seq(f(0, "min_x"), f(1, "min_y"), f(2, "max_x"), f(3, "max_y")))
      case "st_envelope" =>
        // getEnvelope's canonical ring, byte-equal to the original
        FnExpr("st_envelope", Seq(FnExpr("st_makeenvelope",
          Seq(f(0, "min_x"), f(1, "min_y"), f(2, "max_x"), f(3, "max_y")))))
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Raw salt setting: "auto" (default — self-enabling from the hot-tile
    * sample), |N|<=1 = off, N>1 = manual factor, N<-1 = FORCE factor |N| even
    * on a broadcast-shaped join (escape hatch for unreliable size stats). */
  private def saltSetting: String =
    spark.conf.get("spark.graft.spatialJoin.salt", "auto")

  private def rewrite(
      j: Join,
      cond: Expression,
      m: Matched): LogicalPlan = {
    val lGeom = m.lGeom
    val rGeom = m.rGeom
    val expand = m.expand
    val cell = Literal(cellSize(j.left, lGeom, j.right, rGeom))
    val tileL = AttributeReference("__graft_tile_l", LongType, nullable = false)()
    val tileR = AttributeReference("__graft_tile_r", LongType, nullable = false)()

    // Sidecar envelope: st_extent computed ONCE per input row (a projected
    // struct column), consumed by both the tile generator and the dedupe
    // condition below. Without it each candidate PAIR re-scanned both WKB
    // payloads four times (st_xmin/st_ymin per side) — per-pair byte scans
    // that dominate on hot tiles. Analogue of the reference's cached-bbox
    // geometry header (geometry_type.hpp:100-146).
    val envLA = Alias(FnExpr("st_extent", Seq(lGeom)), "__graft_env_l")()
    val envRA = Alias(FnExpr("st_extent", Seq(rGeom)), "__graft_env_r")()
    val envL = envLA.toAttribute
    val envR = envRA.toAttribute
    def fld(env: Attribute, i: Int, name: String): Expression =
      GetStructField(env, i, Some(name))

    // ---- envelope-exact residual + shuffle-payload narrowing --------------
    // (see the traceConstructor block comment above for the full rationale)
    val shapeL = traceConstructor(j.left, lGeom)
    val shapeR = traceConstructor(j.right, rGeom)
    def dropInfo(g: Expression, shape: Option[String],
                 env: Attribute): Option[(AttributeReference, Expression)] = (g, shape) match {
      case (a: AttributeReference, Some(origin)) if a.dataType == BinaryType =>
        Some((a, reconstruct(origin, env)))
      case _ => None
    }
    val dropL = dropInfo(lGeom, shapeL, envL)
    val dropR = dropInfo(rGeom, shapeR, envR)
    val subst: Map[ExprId, Expression] =
      (dropL.map(d => d._1.exprId -> d._2) ++ dropR.map(d => d._1.exprId -> d._2)).toMap
    def substituted(e: Expression): Expression =
      if (subst.isEmpty) e
      else e.transformUp { case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId) }

    def fldOf(env: Attribute, i: Int, n: String): Expression = GetStructField(env, i, Some(n))
    // closed-set bbox tests — boundary-INCLUSIVE, matching st_intersects /
    // st_covers semantics on rect/point shapes exactly (NULL env → NULL →
    // the join filter drops the row, same as the JTS kernel on NULL/EMPTY)
    def envOverlap: Expression = And(And(
      LessThanOrEqual(fldOf(envL, 0, "min_x"), fldOf(envR, 2, "max_x")),
      LessThanOrEqual(fldOf(envR, 0, "min_x"), fldOf(envL, 2, "max_x"))), And(
      LessThanOrEqual(fldOf(envL, 1, "min_y"), fldOf(envR, 3, "max_y")),
      LessThanOrEqual(fldOf(envR, 1, "min_y"), fldOf(envL, 3, "max_y"))))
    def envCovers(a: Attribute, b: Attribute): Expression = And(And(
      LessThanOrEqual(fldOf(a, 0, "min_x"), fldOf(b, 0, "min_x")),
      LessThanOrEqual(fldOf(b, 2, "max_x"), fldOf(a, 2, "max_x"))), And(
      LessThanOrEqual(fldOf(a, 1, "min_y"), fldOf(b, 1, "min_y")),
      LessThanOrEqual(fldOf(b, 3, "max_y"), fldOf(a, 3, "max_y"))))
    val envExact: Option[Expression] =
      if (shapeL.isEmpty || shapeR.isEmpty) None
      else m.fn match {
        case "st_intersects" => Some(envOverlap)
        case "st_covers" => Some(if (m.swapped) envCovers(envR, envL) else envCovers(envL, envR))
        case "st_coveredby" => Some(if (m.swapped) envCovers(envL, envR) else envCovers(envR, envL))
        case _ => None // boundary-exclusive predicates keep the exact kernel
      }
    // the residual: the matched conjunct becomes sidecar arithmetic when
    // envelope-exact; every other reference to a classified geometry column
    // is rebuilt from the sidecar so the WKB itself need not travel
    val residual: Expression = splitConjuncts(cond).map { c =>
      if ((c eq m.pred) && envExact.isDefined) envExact.get else substituted(c)
    }.reduce(And)
    val keepL: Seq[Attribute] = j.left.output.filterNot(a => dropL.exists(_._1.exprId == a.exprId))
    val keepR: Seq[Attribute] = j.right.output.filterNot(a => dropR.exists(_._1.exprId == a.exprId))

    // No explicit null guard needed on either side: a null st_extent
    // (null/empty geometry) makes st_tile_ids_env return null (FnExpr
    // null-propagates) and the non-outer Explode drops the row — null
    // geometries never reach the shuffle, at zero extra evaluations.
    var genLeft: LogicalPlan = Generate(
      Explode(FnExpr("st_tile_ids_env", Seq(envL, cell, Literal(expand)))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(tileL),
      child = Project(keepL :+ envLA, j.left))
    var genRight: LogicalPlan = Generate(
      Explode(FnExpr("st_tile_ids_env", Seq(envR, cell))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(tileR),
      child = Project(keepR :+ envRA, j.right))

    // dedupe: keep only the tile holding the anchor corner of the
    // (expanded-left bbox) ∩ (right bbox) intersection — that tile is in both
    // sides' tile sets and is unique; reads the sidecar structs, not WKB
    val refX = Greatest(Seq(Subtract(fld(envL, 0, "min_x"), Literal(expand)),
      fld(envR, 0, "min_x")))
    val refY = Greatest(Seq(Subtract(fld(envL, 1, "min_y"), Literal(expand)),
      fld(envR, 1, "min_y")))
    val dedupe = EqualTo(FnExpr("st_tile_id", Seq(refX, refY, cell)), tileL)

    var equi: Expression = EqualTo(tileL, tileR)
    val setting = saltSetting
    val auto = setting.equalsIgnoreCase("auto")
    val manual = if (auto) 0 else setting.toInt
    // |manual| <= 1 is OFF in either sign: -1 would pass a naive `< 0` force
    // gate and then salt with s = |−1| = 1 — the full explode + murmur
    // machinery with a single bucket, pure per-row overhead, zero splitting
    val force = manual < -1
    val wantSalt = auto || manual > 1 || force
    // Salt is a SHUFFLE-skew mitigation: it only helps when the equi-join
    // hash-partitions by tile and a hot tile would serialize onto one task.
    // When either original side fits the session broadcast threshold,
    // Catalyst picks a broadcast hash join for the rewritten equi-join — the
    // probe work then distributes with the big side's partitions and no tile
    // ever owns a task, so salting is pure overhead (s× candidate
    // replication plus a murmur per candidate: measured 6× wall at salt=8 on
    // a 20M-point hot-tile fixture, graft.tools.SkewBench). Skip it there —
    // unless a negative setting FORCES it (size stats can under-estimate; a
    // side Catalyst ultimately refuses to broadcast would then be left
    // unprotected with no recourse).
    val abt = spark.sessionState.conf.autoBroadcastJoinThreshold
    val broadcastShaped = abt > 0 &&
      (j.left.stats.sizeInBytes <= abt || j.right.stats.sizeInBytes <= abt)
    if (wantSalt && broadcastShaped && !force && !auto)
      logInfo(s"spatial-join salt=$setting skipped: a join side fits the broadcast " +
        s"threshold ($abt b), so the tile join will not shuffle and has no skew to split")
    if (wantSalt && (!broadcastShaped || force)) {
      // TARGETED skew salting: only tiles the plan-time sample flags as hot
      // are sub-split (dense-side keys by full-row hash) and replicated
      // (sparse-side rows, s-fold). Global salting replicated EVERY right
      // row s× — on a 20M-row hot-tile fixture that quadrupled total task
      // time for a straggler it didn't even level (SkewBench round-14
      // measurements); targeting confines the replication tax to the hot
      // tiles' own rows, and a skew-free dataset pays nothing at all.
      val (hot, splitRight, hottestShare) = hotTiles(j.left, lGeom, j.right, rGeom,
        cell.value.asInstanceOf[Double], expand)
      // auto derives the factor from the measurement it already has:
      // s = ceil(pairShare × parallelism) clamped to [2, min(par, 256)]
      // (SkewSampler.autoFactor — SkewBench measured monotone improvement
      // right up to s = parallelism at 20M/50M/100M points; 256 bounds the
      // sparse side's replication tax on very large clusters).
      val par = spark.sparkContext.defaultParallelism
      val s =
        if (!auto) math.abs(manual)
        else SkewSampler.autoFactor(hottestShare, par)
      if (hot.isEmpty) {
        if (!auto)
          logInfo(s"spatial-join salt=$s requested but the tile sample found no hot " +
            s"tiles — salting nothing (a skew-free join pays no replication tax)")
      } else {
        logInfo(s"spatial-join salt=$s${if (auto) " (auto)" else ""} targeting " +
          s"${hot.size} hot tile(s), splitting the ${if (splitRight) "right" else "left"} side")
        val hotL = In(tileL, hot.map(Literal(_)))
        val hotR = In(tileR, hot.map(Literal(_)))
        val one = Literal.create(Seq(0), org.apache.spark.sql.types.ArrayType(IntegerType))
        val all = Literal.create(0 until s, org.apache.spark.sql.types.ArrayType(IntegerType))
        // The DENSE side's hot rows sub-split by a hash of the FULL row (a
        // geometry-only hash collapses identical geometries — a stack of
        // copies of the same city polygon would all land in one bucket);
        // the sparse side replicates s-fold for hot tiles only. Fully
        // identical rows still co-bucket — that duplication factor is the
        // one skew this scheme cannot split.
        val saltGen = AttributeReference("__graft_tile_salt", IntegerType, nullable = false)()
        if (splitRight) {
          val split = Alias(If(hotR,
            Pmod(new Murmur3Hash(keepR :+ envR), Literal(s)), Literal(0)),
            "__graft_tile_salt_v")()
          genRight = Project(genRight.output :+ split, genRight)
          genLeft = Generate(
            Explode(If(hotL, all, one)),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(saltGen), child = genLeft)
          equi = And(equi, EqualTo(saltGen, split.toAttribute))
        } else {
          val split = Alias(If(hotL,
            Pmod(new Murmur3Hash(keepL :+ envL), Literal(s)), Literal(0)),
            "__graft_tile_salt_v")()
          genLeft = Project(genLeft.output :+ split, genLeft)
          genRight = Generate(
            Explode(If(hotR, all, one)),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(saltGen), child = genRight)
          equi = And(equi, EqualTo(split.toAttribute, saltGen))
        }
      }
    }

    // Null-TOLERANT conjuncts (r17): a null join condition already means
    // "no match", so coalesce(c, false) is semantically identical — but the
    // null-intolerant raw conjuncts made InferFiltersFromConstraints emit an
    // IsNotNull guard per env FIELD, and predicate pushdown substituted the
    // full st_extent(constructor) expression into each: 4 extra kernel
    // evaluations per input row in the pre-shuffle filter (NullGuardProbe:
    // +20% on the projection stage at sf0.1, ~4-5 s wall on an sf100 side).
    // Nothing useful is lost: null/empty geometries already drop before the
    // shuffle because st_tile_ids_env null-propagates and the non-outer
    // Explode emits no rows for them.
    def nullTolerant(e: Expression): Expression = Coalesce(Seq(e, Literal(false)))
    val newCond = And(And(equi, nullTolerant(dedupe)), nullTolerant(residual))

    // ---- self-scaling join parallelism ------------------------------------
    // A fixed spark.sql.shuffle.partitions cannot serve a join whose shuffle
    // grows with the data (at sf100 the fanned side is ~50 GB over 32
    // session partitions = 1.5 GB/task: SMJ fills the disk with sort spills,
    // SHJ cannot even build its hash map). Size the tile exchange from the
    // byte stats the planner already has: both sides repartition BY THE JOIN
    // KEYS to ceil(margin × totalBytes / targetPartitionBytes) partitions —
    // the join then reuses that partitioning (HashPartitioning on the keys
    // satisfies the join's ClusteredDistribution, so no second exchange).
    // Only ever scales UP from the session setting: joins the session config
    // already serves keep byte-identical plans, and AQE keeps its usual
    // freedom below the floor. The ×4 margin covers the tile fan-out that
    // plan-time stats cannot see (a bbox spanning k tiles ships k copies).
    val tgtBytes = spark.conf
      .get("spark.graft.spatialJoin.targetPartitionBytes", (128L << 20).toString).toLong
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    val estBytes = (j.left.stats.sizeInBytes + j.right.stats.sizeInBytes) * 4
    val targetParts = math.min(4096L,
      math.max(sessionParts.toLong, (estBytes / tgtBytes).toLong + 1)).toInt
    val (lKeys, rKeys) = equi match {
      case And(EqualTo(tl, tr), EqualTo(sl, sr)) => (Seq(tl, sl), Seq(tr, sr))
      case EqualTo(tl, tr) => (Seq(tl), Seq(tr))
      case _ => (Seq(tileL: Expression), Seq(tileR: Expression))
    }
    if (targetParts > sessionParts && !broadcastShaped) {
      logInfo(s"spatial-join exchange sized to $targetParts partitions " +
        s"(~${estBytes >> 20} MB est. incl. fan-out margin, session=$sessionParts)")
      genLeft = RepartitionByExpression(lKeys, genLeft, Some(targetParts))
      genRight = RepartitionByExpression(rKeys, genRight, Some(targetParts))
    }

    // The tile equi-join never benefits from sort order, and on a forced
    // shuffle SMJ sorts BOTH (fanned) sides — at 600M×150M rows that is two
    // full external sorts whose spills can exceed the shuffle itself. Hint
    // the smaller side as a shuffled-hash build instead (per-tile-partition
    // hash maps, no sorts); broadcast-shaped joins keep their hint untouched
    // so Catalyst still picks the broadcast plan. With the exchange sized
    // above, the per-partition build is bounded by targetPartitionBytes-ish;
    // the extra gate skips the hint when the SMALLER side alone would still
    // exceed a safe per-partition build (stats can miss filters).
    val preferHash =
      spark.conf.get("spark.graft.spatialJoin.preferHashJoin", "true").toBoolean
    val minSideBytes =
      j.left.stats.sizeInBytes.min(j.right.stats.sizeInBytes)
    val buildFits = minSideBytes / targetParts <= (tgtBytes * 2)
    val newHint =
      if (preferHash && !broadcastShaped && buildFits) {
        def sh(h: Option[HintInfo]): Option[HintInfo] =
          Some(h.getOrElse(HintInfo()).copy(strategy = Some(SHUFFLE_HASH)))
        if (j.right.stats.sizeInBytes <= j.left.stats.sizeInBytes)
          j.hint.copy(rightHint = sh(j.hint.rightHint))
        else j.hint.copy(leftHint = sh(j.hint.leftHint))
      } else j.hint
    val newJoin = Join(genLeft, genRight, Inner, Some(newCond), newHint)
    // restore the original output contract: narrowed geometry columns are
    // rebuilt from the sidecar (evaluated only on rows that PASSED the
    // spatial predicate — NULL/EMPTY inputs never reach this projection)
    val outProj: Seq[NamedExpression] = j.output.map { a =>
      subst.get(a.exprId) match {
        case Some(recon) =>
          Alias(recon, a.name)(exprId = a.exprId, qualifier = a.qualifier,
            explicitMetadata = Some(a.metadata))
        case None => a
      }
    }
    Project(outProj, newJoin)
  }
}

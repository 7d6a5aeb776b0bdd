package graft.plans

import graft.functions.FnExpr
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, LongType}

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
 * intersection, so no distinct pass is needed. The rewritable predicates
 * are [[SpatialPredicate.bboxImplying]] plus st_dwithin with a constant
 * distance.
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
 * task while the rest of the data pays no replication tax. An integer N > 1
 * pins the factor; any other number is off. Salting is skipped entirely
 * when a join side fits the broadcast threshold: a broadcast hash join never
 * shuffles by tile, so it has no tile skew to split. [[SkewSampler.salt]]
 * builds it, shared with the range join's hot bins).
 *
 * Two further scale moves (round 16), both free of semantic drift:
 *   - a forced-shuffle tile join is hinted SHUFFLE_HASH (build = smaller
 *     side by stats). The tile equi-join derives no benefit from sort order,
 *     and SMJ fully sorts BOTH fanned sides — at 600M×150M rows those two
 *     external sorts spilled more disk than the shuffle itself (measured: the
 *     sf100 polygon fan-out filled a 47 GB volume through SMJ sort spills).
 *   - envelope-exact residuals + WKB payload narrowing: when a geometry arg
 *     traces to a rect/point constructor, boundary-inclusive predicates
 *     evaluate as closed-form arithmetic on the st_extent sidecar and the
 *     WKB column is dropped from the shuffle entirely (rebuilt exactly from
 *     the sidecar where the output needs it) — see traceConstructor below.
 */
class SpatialJoinRule(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    spark.conf.get("spark.graft.spatialJoin.enabled", "true").toBoolean

  // ---- plan-time sampling ---------------------------------------------------
  // Sampling discipline, the cross-query sample cache, its keying, and skew
  // detection live in [[SkewSampler]] (shared with RangeJoinRule — the 1-D
  // bin join has the identical hot-key failure shape and mitigation). The
  // cache cannot live on this instance: Spark builds fresh rules for every
  // optimizer run, so a field here would never outlive one query.

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
      SkewSampler.sample[Double](spark, plan, ext, perPart = 32)
        .filter(d => !d.isNaN && !d.isInfinite)
    }
    val key = s"${SkewSampler.sideKey(left, lGeom)}|${SkewSampler.sideKey(right, rGeom)}"
    try SkewSampler.cached(spark, "cell", key) {
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

  /** The ANCHOR tile a skew sample reads per row: the tile of the bbox min
    * corner, expanded by `exp` on the left for st_dwithin so a tile that is
    * only hot AFTER expansion is still seen (exact for point clouds, the
    * common skew shape). */
  private def anchor(geom: Expression, exp: Double, cell: Literal): Expression = {
    def corner(fn: String): Expression =
      if (exp == 0.0) FnExpr(fn, Seq(geom))
      else Subtract(FnExpr(fn, Seq(geom)), Literal(exp))
    FnExpr("st_tile_id", Seq(corner("st_xmin"), corner("st_ymin"), cell))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _) if j.resolved =>
        SpatialPredicate.find(cond, left, right) match {
          case Some(m) => rewrite(j, cond, m)
          case None => j
        }
    }
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

  private def rewrite(
      j: Join,
      cond: Expression,
      m: SpatialPredicate.Matched): LogicalPlan = {
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

    // closed-set bbox tests — boundary-INCLUSIVE, matching st_intersects /
    // st_covers semantics on rect/point shapes exactly (NULL env → NULL →
    // the join filter drops the row, same as the JTS kernel on NULL/EMPTY)
    def envOverlap: Expression = And(And(
      LessThanOrEqual(fld(envL, 0, "min_x"), fld(envR, 2, "max_x")),
      LessThanOrEqual(fld(envR, 0, "min_x"), fld(envL, 2, "max_x"))), And(
      LessThanOrEqual(fld(envL, 1, "min_y"), fld(envR, 3, "max_y")),
      LessThanOrEqual(fld(envR, 1, "min_y"), fld(envL, 3, "max_y"))))
    def envCovers(a: Attribute, b: Attribute): Expression = And(And(
      LessThanOrEqual(fld(a, 0, "min_x"), fld(b, 0, "min_x")),
      LessThanOrEqual(fld(b, 2, "max_x"), fld(a, 2, "max_x"))), And(
      LessThanOrEqual(fld(a, 1, "min_y"), fld(b, 1, "min_y")),
      LessThanOrEqual(fld(b, 3, "max_y"), fld(a, 3, "max_y"))))
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
    val residual: Expression = splitConjunctivePredicates(cond).map { c =>
      if ((c eq m.pred) && envExact.isDefined) envExact.get else substituted(c)
    }.reduce(And)
    val keepL: Seq[Attribute] = j.left.output.filterNot(a => dropL.exists(_._1.exprId == a.exprId))
    val keepR: Seq[Attribute] = j.right.output.filterNot(a => dropR.exists(_._1.exprId == a.exprId))

    // No explicit null guard needed on either side: a null st_extent
    // (null/empty geometry) makes st_tile_ids_env return null (FnExpr
    // null-propagates) and the non-outer Explode drops the row — null
    // geometries never reach the shuffle, at zero extra evaluations.
    val genLeft: LogicalPlan = Generate(
      Explode(FnExpr("st_tile_ids_env", Seq(envL, cell, Literal(expand)))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(tileL),
      child = Project(keepL :+ envLA, j.left))
    val genRight: LogicalPlan = Generate(
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

    // hot tiles sub-split on the dense side, replicated on the sparse one
    val (saltedL, saltedR, equi) = SkewSampler.salt(spark, "spark.graft.spatialJoin.salt", j,
      "__graft_tile_salt",
      SkewSampler.SaltSide(genLeft, tileL, j.left, anchor(lGeom, expand, cell)),
      SkewSampler.SaltSide(genRight, tileR, j.right, anchor(rGeom, 0.0, cell)))

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
    val broadcastShaped = SkewSampler.broadcastShaped(spark, j)
    val sized = targetParts > sessionParts && !broadcastShaped
    if (sized) logInfo(s"spatial-join exchange sized to $targetParts partitions " +
      s"(~${estBytes >> 20} MB est. incl. fan-out margin, session=$sessionParts)")
    def exchange(keys: Seq[Expression], side: LogicalPlan): LogicalPlan =
      if (sized) RepartitionByExpression(keys, side, Some(targetParts)) else side

    // The tile equi-join never benefits from sort order, and on a forced
    // shuffle SMJ sorts BOTH (fanned) sides — at 600M×150M rows that is two
    // full external sorts whose spills can exceed the shuffle itself. Hint
    // the smaller side as a shuffled-hash build instead (per-tile-partition
    // hash maps, no sorts); broadcast-shaped joins keep their hint untouched
    // so Catalyst still picks the broadcast plan. With the exchange sized
    // above, the per-partition build is bounded by targetPartitionBytes-ish;
    // the extra gate skips the hint when the SMALLER side alone would still
    // exceed a safe per-partition build (stats can miss filters).
    val minSideBytes =
      j.left.stats.sizeInBytes.min(j.right.stats.sizeInBytes)
    val buildFits = minSideBytes / targetParts <= (tgtBytes * 2)
    val newHint =
      if (!broadcastShaped && buildFits) {
        def sh(h: Option[HintInfo]): Option[HintInfo] =
          Some(h.getOrElse(HintInfo()).copy(strategy = Some(SHUFFLE_HASH)))
        if (j.right.stats.sizeInBytes <= j.left.stats.sizeInBytes)
          j.hint.copy(rightHint = sh(j.hint.rightHint))
        else j.hint.copy(leftHint = sh(j.hint.leftHint))
      } else j.hint
    val newJoin = Join(exchange(lKeys, saltedL), exchange(rKeys, saltedR), Inner,
      Some(newCond), newHint)
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

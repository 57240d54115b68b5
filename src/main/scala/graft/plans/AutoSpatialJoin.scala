package graft.plans

import graft.functions.GeoFunctions
import graft.functions.expr._
import graft.join.{Pins, RefineCache, SpatialJoin}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{column => exprCol, ofRows}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType}

/** Auto-plan spatial joins spelled as plain predicate joins.
  *
  * `a.join(b, st_intersects(a("g"), b("g")))` — or the SQL
  * `A JOIN B ON st_intersects(A.g, B.g)` — over STORED geometry columns has
  * no equi-join key, so Spark plans a BroadcastNestedLoopJoin that evaluates
  * the predicate (two WKB parses + a JTS call) on every one of the n×m
  * pairs. That is the worst accidental plan in the engine's SQL surface: at
  * 100 TB it is quadratic work no cluster survives. The reference sidesteps
  * it because its only join API *is* the indexed one (`tools/sjoin.py:212`
  * always probes an STRtree); this rule gives the predicate spelling the
  * same economics.
  *
  * The rewrite reuses the PBSM grid machinery of [[SpatialJoin]]: size a
  * grid from (sampled) bbox stats, cover each side's bbox with grid cells,
  * hash-join on the cell id, pre-filter by bbox overlap, keep each pair only
  * in the cell containing the top-left corner of the bbox intersection
  * (exact dedup without a global distinct — every surviving pair appears in
  * exactly one cell), and then refine with the ORIGINAL join condition.
  * The matched spatial conjunct is routed through [[RefineCache]] — the
  * same per-thread parsed/prepared-geometry cache the explicit `sjoin`
  * refines through — when the cache evaluates exactly the conjunct's JTS
  * call (all bbox-implied predicates, `dwithin`, and `distance <= d`;
  * strict `<` keeps the raw expression). JTS prepared predicates return the
  * plain predicates' answers by contract, so results stay bit-identical to
  * the nested-loop plan: the grid stage is a necessary-condition
  * pre-filter, never a replacement, and every other conjunct is replayed
  * untouched.
  * The cell equality gives Catalyst a real join key, so the pair generation
  * plans as a hash/sort-merge join (AQE broadcasts the exploded side when
  * it is small, recovering the broadcast-sjoin shape for free).
  *
  * Join types:
  *  - '''Inner/Cross''': candidate pairs filtered by the refined condition,
  *    projected back to the join's exact output attributes.
  *  - '''LeftOuter/RightOuter''': the outer side is id-stamped
  *    ([[Pins.stampPinned]] — checkpointed only under unstable upstreams),
  *    joined inner through the same grid machinery, and unmatched outer
  *    rows are null-extended by re-joining the stamped side on the id —
  *    the shape `SpatialJoin.sjoin(how="left")` already uses. Outer rows
  *    with NULL/EMPTY geometry survive null-extended, exactly like the
  *    naive plan (their predicate is never true).
  *  - '''LeftSemi/LeftAnti''': the stamped left side semi-/anti-joins the
  *    matched id set — this is the plan `WHERE [NOT] EXISTS (… st_*)`
  *    spellings reach after Spark's subquery rewrite.
  *  - FullOuter is left on Spark's plan (no known workload spells a full
  *    outer spatial join; the explicit API covers left/right).
  *
  * Fires on joins whose condition contains a conjunct of shape
  * `st_intersects/st_contains/st_within/st_touches/st_crosses/st_overlaps/
  * st_covers/st_covered_by(l, r)` (truth of each implies bbox overlap),
  * `st_dwithin(l, r, d)` or `st_distance(l, r) <=/< d` (either orientation)
  * with `d` a foldable double and `l`/`r` deterministic binary expressions
  * each referencing exactly one side. When several conjuncts match, the
  * FIRST drives the grid; the rest are replayed raw in the refine.
  * Constructed-geometry conditions never reach this rule: [[GeomSimplify]]
  * runs earlier in the batch and fuses them to pure arithmetic (where a
  * nested loop is cheap per pair); this rule is the complementary path for
  * geometries that exist only as stored WKB.
  *
  * Row-level semantics of the candidate stage, checked against the refine:
  * a NULL geometry has NULL bounds and is dropped — the predicate would be
  * NULL (not true) on every such pair; an EMPTY geometry has an inverted
  * JTS "null envelope" and covers no cells ([[SpatialJoin.GridSpec]]
  * `cellsFor`) — every supported predicate is false on it. `dwithin` with a
  * negative d expands by 0 (candidates superset; refine yields false).
  *
  * Costs: sizing the grid runs two small (2%-sampled) stats jobs at
  * optimization time — the same jobs an explicit `sjoin` runs eagerly, just
  * moved inside planning. The resulting [[SpatialJoin.GridSpec]] is
  * memoized per (canonicalized children, normalized geometry exprs, expand)
  * in a bounded LRU, so `.explain()` + execution, re-executions of the same
  * DataFrame, and AQE re-optimizations pay the jobs ONCE (staleness is
  * performance-only: `cellsFor`/`cellOf` clamp into any grid). Set
  * [[EnabledConf]] to false for plan-stability-sensitive sessions — the
  * rule then leaves every join on Spark's plan.
  */
object AutoSpatialJoin extends Rule[LogicalPlan] {

  /** Reserved prefix for the rewrite's working columns. Doubles as the
    * re-fire guard: a join whose output already carries these names is this
    * rule's own emission (the cell-equality pair join, or an id re-attach
    * join whose stamped side exposes `__graft_asj_oid`) and must not be
    * rewritten again. */
  private[graft] val P = "__graft_asj"

  /** Session conf: set to "false" to disable the rewrite (the rule becomes
    * a no-op and predicate joins keep Spark's nested-loop plan). */
  val EnabledConf = "spark.graft.autoSpatialJoin.enabled"

  /** Counts grid-stats builds (memo misses, shared with the explicit grid
    * sjoin) — observability for tests and tuning: explain + execute of one
    * query must increment this once. */
  private[graft] def gridStatsBuilds: java.util.concurrent.atomic.AtomicLong =
    graft.join.GridMemo.statsBuilds

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other     => Seq(other)
  }

  private def foldedDouble(e: Expression): Option[Double] =
    if (e.foldable && e.dataType == DoubleType)
      Option(e.eval(null)).collect { case d: Double if !d.isNaN => d }
    else None

  /** A rewritable spatial conjunct: the conjunct itself, the (left-side,
    * right-side) geometry operands, and the candidate bbox expansion.
    * Operands may be arbitrary deterministic binary expressions (a stored
    * column, or a construction GeomSimplify could not fuse because the
    * other side is stored); each must reference exactly one join side. The
    * predicates are symmetric for CANDIDATE purposes (bbox overlap / bbox
    * distance), so orientation only decides which side the operand binds to
    * — the refine replays the exact original conjunct either way. */
  private case class Matched(conjunct: Expression, lg: Expression,
                             rg: Expression, expand: Double)

  private def matchSt(e: Expression, left: LogicalPlan,
                      right: LogicalPlan): Option[Matched] = {
    def sides(a: Expression, b: Expression, expand: Double): Option[Matched] =
      if (a.references.isEmpty || b.references.isEmpty ||
          a.dataType != BinaryType || b.dataType != BinaryType) None
      else if (a.references.subsetOf(left.outputSet) &&
               b.references.subsetOf(right.outputSet)) Some(Matched(e, a, b, expand))
      else if (a.references.subsetOf(right.outputSet) &&
               b.references.subsetOf(left.outputSet)) Some(Matched(e, b, a, expand))
      else None
    e match {
      case StIntersects(a, b) => sides(a, b, 0.0)
      case StContains(a, b)   => sides(a, b, 0.0)
      case StWithin(a, b)     => sides(a, b, 0.0)
      case StTouches(a, b)    => sides(a, b, 0.0)
      case StCrosses(a, b)    => sides(a, b, 0.0)
      case StOverlaps(a, b)   => sides(a, b, 0.0)
      case StCovers(a, b)     => sides(a, b, 0.0)
      case StCoveredBy(a, b)  => sides(a, b, 0.0)
      case StDWithin(a, b, d) =>
        foldedDouble(d).flatMap(dv => sides(a, b, math.max(dv, 0.0)))
      case LessThanOrEqual(StDistance(a, b), d) =>
        foldedDouble(d).flatMap(dv => sides(a, b, math.max(dv, 0.0)))
      case LessThan(StDistance(a, b), d) =>
        foldedDouble(d).flatMap(dv => sides(a, b, math.max(dv, 0.0)))
      case GreaterThanOrEqual(d, StDistance(a, b)) =>
        foldedDouble(d).flatMap(dv => sides(a, b, math.max(dv, 0.0)))
      case GreaterThan(d, StDistance(a, b)) =>
        foldedDouble(d).flatMap(dv => sides(a, b, math.max(dv, 0.0)))
      case _ => None
    }
  }

  /** [[RefineCache]]-backed twin of a matched conjunct, when the cache
    * evaluates EXACTLY the conjunct's JTS call (prepared predicates return
    * the plain predicates' answers by JTS contract; `isWithinDistance` IS
    * `distance <= d`). Strict `<` distance forms return None — the raw
    * expression is replayed instead (still candidate-bounded). NULL inputs
    * return false where the raw conjunct yields NULL: identical under the
    * refine Filter, and unreachable anyway (null bounds drop earlier). */
  private def cachedRefine(e: Expression): Option[Column] = {
    def c(pred: String, a: Expression, b: Expression, dist: Double): Option[Column] = {
      val u = udf((x: Array[Byte], y: Array[Byte]) =>
        if (x == null || y == null) false else RefineCache.eval(pred, x, y, dist))
      Some(u(exprCol(a), exprCol(b)))
    }
    e match {
      case StIntersects(a, b) => c("intersects", a, b, 0.0)
      case StContains(a, b)   => c("contains", a, b, 0.0)
      case StWithin(a, b)     => c("within", a, b, 0.0)
      case StTouches(a, b)    => c("touches", a, b, 0.0)
      case StCrosses(a, b)    => c("crosses", a, b, 0.0)
      case StOverlaps(a, b)   => c("overlaps", a, b, 0.0)
      case StCovers(a, b)     => c("covers", a, b, 0.0)
      case StCoveredBy(a, b)  => c("covered_by", a, b, 0.0)
      case StDWithin(a, b, d) => foldedDouble(d).flatMap(dv => c("dwithin", a, b, dv))
      case LessThanOrEqual(StDistance(a, b), d) =>
        foldedDouble(d).flatMap(dv => c("dwithin", a, b, dv))
      case GreaterThanOrEqual(d, StDistance(a, b)) =>
        foldedDouble(d).flatMap(dv => c("dwithin", a, b, dv))
      case _ => None
    }
  }

  private def rewritableType(jt: JoinType): Boolean = jt match {
    case Inner | Cross | LeftOuter | RightOuter | FullOuter | LeftSemi | LeftAnti => true
    case _: ExistenceJoin => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(EnabledConf, "true").toBoolean) plan
    else plan transform {
      case j @ Join(left, right, jt, Some(cond), _)
          if rewritableType(jt) && !j.isStreaming && cond.deterministic &&
            // subqueries were already planned in place — don't replicate them
            !cond.exists(_.isInstanceOf[PlanExpression[_]]) &&
            // the analyzer guarantees disjoint sides; re-fire guard below
            left.outputSet.intersect(right.outputSet).isEmpty &&
            !j.output.exists(_.name.startsWith(P)) &&
            !left.output.exists(_.name.startsWith(P)) &&
            !right.output.exists(_.name.startsWith(P)) =>
        splitConjuncts(cond).iterator.flatMap(matchSt(_, left, right).iterator)
          .nextOption() match {
          case None => j
          case Some(m) =>
            // any failure (unresolvable shape, stats job error) keeps the
            // original join — the rewrite is an optimization, never a gate.
            // But a persistent stats failure silently degrading every query
            // to the quadratic plan would be invisible; warn (round-14
            // advice).
            try rewrite(j, m)
            catch {
              case scala.util.control.NonFatal(ex) =>
                logWarning(s"AutoSpatialJoin rewrite failed — keeping the " +
                  s"nested-loop plan for this join (condition: $cond)", ex)
                j
            }
        }
    }

  // ---------------------------------------------------------------------
  // GridSpec memoization (the session-wide [[graft.join.GridMemo]], shared
  // with the explicit grid sjoin): the two sampled stats jobs run once per
  // distinct (children, geometry exprs, expand) — not once per
  // QueryExecution of the same query (explain + execute, re-executed
  // DataFrames, AQE re-plans). Keys canonicalize the child plans
  // (positional exprIds) and normalize the geometry exprs' attribute ids
  // to their child-output ordinals, so two separately-built copies of the
  // same query share an entry. A stale entry (files changed under the
  // path) can only degrade cell balance, never correctness: cellsFor/
  // cellOf clamp into any grid.
  // ---------------------------------------------------------------------
  private def normalized(e: Expression, side: LogicalPlan): Expression = {
    val ord = side.output.map(_.exprId).zipWithIndex.toMap
    e.canonicalized.transform {
      case a: AttributeReference if ord.contains(a.exprId) =>
        a.withExprId(ExprId(ord(a.exprId)))
    }
  }

  private def gridFor(j: Join, m: Matched, ldf: DataFrame, rdf: DataFrame): SpatialJoin.GridSpec = {
    val key = (j.left.canonicalized, j.right.canonicalized,
      normalized(m.lg, j.left), normalized(m.rg, j.right), m.expand)
    graft.join.GridMemo.getOrCompute(key)(
      SpatialJoin.computeGrid(ldf, exprCol(m.lg), rdf, exprCol(m.rg), m.expand))
  }

  private[graft] def clearGridCache(): Unit = graft.join.GridMemo.clear()

  // ---------------------------------------------------------------------

  private def rewrite(j: Join, m: Matched): LogicalPlan = {
    val spark = SparkSession.active
    // refined condition: the matched conjunct through the parsed/prepared-
    // geometry cache where exactly equivalent, every other conjunct raw
    val refinedCond = splitConjuncts(j.condition.get)
      .map(cj => if (cj eq m.conjunct) cachedRefine(cj).getOrElse(exprCol(cj)) else exprCol(cj))
      .reduce(_ && _)
    j.joinType match {
      case Inner | Cross =>
        val pairs = candidatePairs(spark, ofRows(spark, j.left), ofRows(spark, j.right), j, m, refinedCond)
        // restore the Join's exact output attributes (same exprIds — the
        // machinery above only ever ADDS working columns)
        pairs.select(j.output.map(a => exprCol(a)): _*).queryExecution.analyzed
      case LeftOuter  => outerRewrite(spark, j, m, refinedCond, outerIsLeft = true)
      case RightOuter => outerRewrite(spark, j, m, refinedCond, outerIsLeft = false)
      case FullOuter  => fullOuterRewrite(spark, j, m, refinedCond)
      case LeftSemi   => semiAnti(spark, j, m, refinedCond, "left_semi")
      case LeftAnti   => semiAnti(spark, j, m, refinedCond, "left_anti")
      case ExistenceJoin(exists) => existence(spark, j, m, refinedCond, exists)
      case other      => throw new IllegalStateException(s"unreachable join type $other")
    }
  }

  /** The inner candidate machinery: explode both sides to covering cells,
    * equi-join on the cell, then one filter cheap-to-expensive — bbox
    * interval overlap, reference-cell dedup, the refined condition (And
    * short-circuits left to right in both eval and codegen). `ldf`/`rdf`
    * may carry extra stamped columns on top of `j`'s children. */
  private def candidatePairs(spark: SparkSession, ldf: DataFrame, rdf: DataFrame,
                             j: Join, m: Matched, refinedCond: Column): DataFrame = {
    val g = gridFor(j, m, ldf, rdf)
    val expand = m.expand
    val cellsU = udf((x0: Double, y0: Double, x1: Double, y1: Double) =>
      g.cellsFor(x0, y0, x1, y1))
    val cellOfU = udf((x: Double, y: Double) => g.cellOf(x, y))
    def c(n: String): Column = col(s"${P}_$n")

    val lb = ldf
      .withColumn(s"${P}_b", GeoFunctions.st_bounds(exprCol(m.lg)))
      .filter(c("b").isNotNull)
      .withColumn(s"${P}_lx0", c("b")("xmin") - lit(expand))
      .withColumn(s"${P}_ly0", c("b")("ymin") - lit(expand))
      .withColumn(s"${P}_lx1", c("b")("xmax") + lit(expand))
      .withColumn(s"${P}_ly1", c("b")("ymax") + lit(expand))
      .withColumn(s"${P}_lcell",
        explode(cellsU(c("lx0"), c("ly0"), c("lx1"), c("ly1"))))
      .drop(s"${P}_b")
    val rb = rdf
      .withColumn(s"${P}_b", GeoFunctions.st_bounds(exprCol(m.rg)))
      .filter(c("b").isNotNull)
      .withColumn(s"${P}_rx0", c("b")("xmin"))
      .withColumn(s"${P}_ry0", c("b")("ymin"))
      .withColumn(s"${P}_rx1", c("b")("xmax"))
      .withColumn(s"${P}_ry1", c("b")("ymax"))
      .withColumn(s"${P}_rcell",
        explode(cellsU(c("rx0"), c("ry0"), c("rx1"), c("ry1"))))
      .drop(s"${P}_b")

    lb.join(rb, c("lcell") === c("rcell"))
      .filter(
        c("lx0") <= c("rx1") && c("rx0") <= c("lx1") &&
          c("ly0") <= c("ry1") && c("ry0") <= c("ly1") &&
          c("lcell") === cellOfU(greatest(c("lx0"), c("rx0")),
            greatest(c("ly0"), c("ry0"))) &&
          refinedCond)
  }

  /** Outer rewrite: stamp the outer side, inner-join through the grid, then
    * null-extend unmatched outer rows by re-joining the stamped side on the
    * id. The final Project restores the Join's exact output attributes —
    * outer-side attrs ride through with their original exprIds; inner-side
    * attrs come back from the re-attach under reserved `__graft_asj_m<i>`
    * aliases (the analyzer's self-join dedup re-ids the conflicting copy,
    * so names — which the P-prefix reserves — are the stable handle) and
    * are re-aliased to their original exprId/name. */
  private def outerRewrite(spark: SparkSession, j: Join, m: Matched,
                           refinedCond: Column, outerIsLeft: Boolean): LogicalPlan = {
    val oid = s"${P}_oid"
    val (outerPlan, innerPlan) = if (outerIsLeft) (j.left, j.right) else (j.right, j.left)
    val stamped = Pins.stampPinned(ofRows(spark, outerPlan), oid)
    val ldf = if (outerIsLeft) stamped else ofRows(spark, j.left)
    val rdf = if (outerIsLeft) ofRows(spark, j.right) else stamped
    val pairs = candidatePairs(spark, ldf, rdf, j, m, refinedCond)
    val innerAttrs = innerPlan.output
    val mNames = innerAttrs.indices.map(i => s"${P}_m$i")
    val matches = pairs.select(
      col(oid) +: innerAttrs.zip(mNames).map { case (a, n) => exprCol(a).as(n) }: _*)
    val reattached = stamped.join(matches, Seq(oid), "left").queryExecution.analyzed
    val byName = reattached.output.map(a => a.name -> a).toMap
    val restored: Map[ExprId, NamedExpression] =
      innerAttrs.zip(mNames).map { case (orig, n) =>
        orig.exprId -> Alias(byName(n), orig.name)(exprId = orig.exprId,
          qualifier = orig.qualifier)
      }.toMap
    Project(j.output.map(a => restored.getOrElse(a.exprId, a)), reattached)
  }

  /** FullOuter rewrite: stamp BOTH sides, inner-join through the grid, then
    * union (left-outer re-attach of the left side) with (anti-matched right
    * rows null-extended on the left). Union keeps the first branch's
    * attributes, so left attrs ride through with original exprIds and the
    * final Project re-aliases the reserved `__graft_asj_m<i>` names back to
    * the right side's exprIds — same restoration as [[outerRewrite]]. */
  private def fullOuterRewrite(spark: SparkSession, j: Join, m: Matched,
                               refinedCond: Column): LogicalPlan = {
    val loid = s"${P}_loid"
    val roid = s"${P}_roid"
    val stampedL = Pins.stampPinned(ofRows(spark, j.left), loid)
    val stampedR = Pins.stampPinned(ofRows(spark, j.right), roid)
    val pairs = candidatePairs(spark, stampedL, stampedR, j, m, refinedCond)
    val rightAttrs = j.right.output
    val mNames = rightAttrs.indices.map(i => s"${P}_m$i")
    val matches = pairs.select(
      col(loid) +: rightAttrs.zip(mNames).map { case (a, n) => exprCol(a).as(n) }: _*)
    val leftPart = stampedL.join(matches, Seq(loid), "left")
      .select(j.left.output.map(a => exprCol(a)) ++ mNames.map(col): _*)
    val rightUnmatched = stampedR
      .join(pairs.select(col(roid)), Seq(roid), "left_anti")
      .select(j.left.output.map(a => lit(null).cast(a.dataType).as(a.name)) ++
        rightAttrs.zip(mNames).map { case (a, n) => exprCol(a).as(n) }: _*)
    val unioned = leftPart.union(rightUnmatched).queryExecution.analyzed
    val byName = unioned.output.map(a => a.name -> a).toMap
    val restored: Map[ExprId, NamedExpression] =
      rightAttrs.zip(mNames).map { case (orig, n) =>
        orig.exprId -> Alias(byName(n), orig.name)(exprId = orig.exprId,
          qualifier = orig.qualifier)
      }.toMap
    Project(j.output.map(a => restored.getOrElse(a.exprId, a)), unioned)
  }

  /** ExistenceJoin rewrite (the plan an IN/EXISTS subquery inside a
    * disjunction lowers to): left rows all survive, plus a boolean flag —
    * true iff some right row satisfies the condition. Distinct matched ids
    * left-join back onto the stamped left side; the flag re-aliases to the
    * join type's exists attribute (exprId preserved). */
  private def existence(spark: SparkSession, j: Join, m: Matched,
                        refinedCond: Column, exists: Attribute): LogicalPlan = {
    val oid = s"${P}_oid"
    val flag = s"${P}_flag"
    val stamped = Pins.stampPinned(ofRows(spark, j.left), oid)
    val pairs = candidatePairs(spark, stamped, ofRows(spark, j.right), j, m, refinedCond)
    // groupBy, not .distinct(): Deduplicate is lowered to Aggregate by a
    // main-optimizer batch that has already run when this rule fires
    val flags = pairs.groupBy(col(oid)).agg(first(lit(true)).as(flag))
    val re = stamped.join(flags, Seq(oid), "left").queryExecution.analyzed
    val flagAttr = re.output.find(_.name == flag).get
    Project(j.left.output :+
      Alias(Coalesce(Seq(flagAttr, Literal.FalseLiteral)), exists.name)(
        exprId = exists.exprId, qualifier = exists.qualifier),
      re)
  }

  /** Semi/anti rewrite: the matched-id set from the grid pairs, then a
    * semi-/anti-join of the stamped left side on the id (semi/anti never
    * duplicate, so no distinct is needed). This is the plan
    * `WHERE [NOT] EXISTS (SELECT … WHERE st_*)` reaches after Spark's
    * subquery rewrite. Left rows whose condition is NULL (NULL geometry)
    * never enter the id set — kept by anti, dropped by semi, exactly the
    * naive semantics. */
  private def semiAnti(spark: SparkSession, j: Join, m: Matched,
                       refinedCond: Column, joinType: String): LogicalPlan = {
    val oid = s"${P}_oid"
    val stamped = Pins.stampPinned(ofRows(spark, j.left), oid)
    val pairs = candidatePairs(spark, stamped, ofRows(spark, j.right), j, m, refinedCond)
    val re = stamped.join(pairs.select(col(oid)), Seq(oid), joinType)
      .queryExecution.analyzed
    Project(j.output, re)
  }
}

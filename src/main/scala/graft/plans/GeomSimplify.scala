package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType
import graft.functions.expr.{StArea, StBoxArea, StBoxContainsBox, StBoxIntersectsBox, StBoxWithinBox, StContains, StDWithin, StDisjoint, StDistance, StEnvBoxArea, StEnvelope, StIntersects, StLength, StMakeBox, StMakeLine, StPoint, StWithin, StX, StY}

/** Algebraic simplification of geometry expression trees — the Catalyst
  * rule that keeps CONSTRUCTED-point hot paths out of WKB entirely.
  *
  * `st_distance(st_point(ax, ay), st_point(bx, by))` evaluates, per row,
  * two WKB writes, two WKB parses and a JTS DistanceOp — for what is
  * algebraically `sqrt((ax−bx)² + (ay−by)²)`. On a 100 TB point table
  * (the dominant shape in telemetry/event data) that is the difference
  * between a pure-arithmetic whole-stage-codegen loop and per-row
  * allocation churn. The rewrites are bit-exact, not approximate:
  *
  *  - JTS point distance IS `Math.hypot(dx, dy)` in doubles
  *    (Coordinate.distance) — NOT `sqrt(dx²+dy²)`, which underflows for
  *    subnormal deltas (measured: dx=1e-300 → sqrt form 0.0, JTS 1e-300);
  *    the rewrite emits Catalyst's `Hypot`, which codegens to the same
  *    `Math.hypot` call;
  *  - `isWithinDistance` on two points reduces to that distance compared
  *    to d, so `StDWithin` becomes `hypot(…) <= d` — the comparison is
  *    kept on the distance itself (rewriting to `sumsq <= d*d` would
  *    round differently at boundaries);
  *  - `st_x(st_point(x, y))` is `x`, guarded so the null semantics of the
  *    fused form (NULL iff x or y is NULL) are preserved.
  *
  * Null propagation: every rewrite produces an expression that is NULL on
  * exactly the inputs the original was NULL on (arithmetic propagates any
  * NULL operand; the coordinate projections add an explicit guard on the
  * dropped coordinate). Fires only when BOTH operands are literal StPoint
  * constructions in the same expression tree — a WKB column read from
  * storage is never touched. */
object GeomSimplify extends Rule[LogicalPlan] {

  private def dist(ax: Expression, ay: Expression,
                   bx: Expression, by: Expression): Expression =
    Hypot(Subtract(ax, bx), Subtract(ay, by))

  /** A box-family operand: an StMakeBox construction, an StPoint (the
    * degenerate box), or a CONSTANT WKB literal that is provably
    * box-equivalent — ConstantFolding runs before extraOptimizations, so
    * `st_makebox(1, 1, 9, 9)` reaches this rule as a binary literal. A
    * literal qualifies when its point set equals its closed envelope
    * (equalsTopo against the canonical box — topological predicates depend
    * only on point sets, so corner substitution is exact) and every corner
    * is 0 or ≥1e-150 in magnitude (below that, equalsTopo itself runs on
    * RelateNG's unreliable arithmetic — leave such literals unfused). */
  private object BoxArgs {
    def unapply(e: Expression): Option[Seq[Expression]] = e match {
      case StMakeBox(a, b, c, d) => Some(Seq(a, b, c, d))
      // the degenerate-box expansion DUPLICATES x and y inside one kernel —
      // a nondeterministic coordinate (st_point(rand(), 0)) would give a
      // single "point" inconsistent corners, so only deterministic
      // coordinates qualify (same reason CollapseProject guards inlining)
      case StPoint(x, y) if x.deterministic && y.deterministic =>
        Some(Seq(x, y, x, y))
      case Literal(bytes: Array[Byte], org.apache.spark.sql.types.BinaryType) =>
        try {
          val g = graft.geom.Wkb.read(bytes)
          val env = g.getEnvelopeInternal
          val cs = Seq(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY)
          if (cs.exists(v => !java.lang.Double.isFinite(v) ||
              (v != 0.0 && math.abs(v) < 1e-150))) None
          else if (g.equalsTopo(graft.geom.GeomOps.makeBox(
              env.getMinX, env.getMinY, env.getMaxX, env.getMaxY)))
            Some(cs.map(v => Literal(v, DoubleType)))
          else None
        } catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
  }

  /** A point operand: an StPoint construction or a constant WKB Point
    * literal (any coordinates — JTS point distance is Math.hypot for every
    * input, so no magnitude guard is needed). */
  private object PointArgs {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case StPoint(x, y) => Some((x, y))
      case Literal(bytes: Array[Byte], org.apache.spark.sql.types.BinaryType) =>
        try {
          graft.geom.Wkb.read(bytes) match {
            case p: org.locationtech.jts.geom.Point if !p.isEmpty =>
              Some((Literal(p.getX, DoubleType), Literal(p.getY, DoubleType)))
            case _ => None
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
  }

  /** One fusion step on an already-inlined expression tree, or None. */
  private val fuse: PartialFunction[Expression, Expression] = {
    // st_x(st_point(x, y)) = x, NULL also when y is NULL (the point would
    // have been NULL); if x itself is NULL the value branch is NULL anyway
    case StX(StPoint(x, y)) => If(IsNull(y), Literal(null, DoubleType), x)
    case StY(StPoint(x, y)) => If(IsNull(x), Literal(null, DoubleType), y)
    case StDistance(PointArgs(ax, ay), PointArgs(bx, by)) =>
      dist(ax, ay, bx, by)
    // 2-point segment length IS the endpoint distance, and JTS 1.20's
    // Length.ofLine sums Math.hypot per segment (checked in bytecode) —
    // the same Hypot the distance fusion emits, so this is unconditionally
    // bit-exact, constructed-segment telemetry never touches WKB
    case StLength(StMakeLine(PointArgs(ax, ay), PointArgs(bx, by))) =>
      dist(ax, ay, bx, by)
    case StDWithin(PointArgs(ax, ay), PointArgs(bx, by), d) =>
      LessThanOrEqual(dist(ax, ay, bx, by), d)
    // Constructed-BOX areas fuse to arithmetic kernels (no WKB, no JTS objects
    // on the finite path — see GeomKernel.boxArea for the bit-exactness proof).
    // st_envelope(st_makebox(…)) alone is deliberately NOT rewritten to the box:
    // JTS Envelope.expandToInclude drops NaN coordinates, so for NaN corners the
    // envelope is a DIFFERENT geometry than the box — only the full
    // area∘envelope∘makebox composition has a safe fused kernel.
    case StArea(StEnvelope(StMakeBox(x0, y0, x1, y1))) => StEnvBoxArea(x0, y0, x1, y1)
    case StArea(StMakeBox(x0, y0, x1, y1)) => StBoxArea(x0, y0, x1, y1)
    // Constructed-box PREDICATES fuse to interval arithmetic (a constructed
    // point is the degenerate box (x,y,x,y) — same kernels). Contains/within
    // carry JTS's interior-point requirement through the degenerate-topology
    // case analysis in GeomKernel.boxContainsBox, pinned exhaustively vs JTS.
    // BoxArgs covers StMakeBox, StPoint (degenerate box) and provably-box
    // constant WKB literals — each side independently, so column-vs-constant
    // scans (the `.cx`/clip shape) fuse too. At least one side must be a
    // CONSTRUCTION or a literal: stored WKB columns never match BoxArgs.
    case StIntersects(BoxArgs(a), BoxArgs(b)) => StBoxIntersectsBox(a ++ b)
    case StDisjoint(BoxArgs(a), BoxArgs(b)) => Not(StBoxIntersectsBox(a ++ b))
    case StContains(BoxArgs(a), BoxArgs(b)) => StBoxContainsBox(a ++ b)
    // within keeps its OWN kernel (not reversed contains): below the tiny-
    // coordinate guard JTS within and contains disagree with each other,
    // and the fallback must call the actual operation (GeomKernel.boxWithinBox)
    case StWithin(BoxArgs(a), BoxArgs(b)) => StBoxWithinBox(a ++ b)
  }

  /** Cross-projection fusion. `CollapseProject` refuses to inline a
    * constructed geometry that is referenced more than once (it would
    * duplicate the construction), so the common
    * `withColumn("box", st_makebox(…)) … select(st_intersects(box, …))`
    * shape never forms a single fusable tree — the q08 plan keeps two
    * Projects and every predicate still round-trips WKB. This pass looks
    * at adjacent Project pairs, substitutes the child's constructed-geometry
    * aliases (StMakeBox / StPoint / StEnvelope chains) into the parent's
    * geometry expressions, and keeps the substitution ONLY where a fusion
    * pattern then fires — a reference that does not fuse keeps reading the
    * child's column, so construction work is never duplicated. Aliases left
    * dead by fusion are pruned from the child (extraOptimizations run after
    * Catalyst's ColumnPruning, which would otherwise keep computing them);
    * grandchild attributes the fused arithmetic now needs are passed
    * through, with a safe bail-out if they are not available. */
  private def constructedDefs(childList: Seq[NamedExpression]): Map[ExprId, Expression] =
    childList.collect {
      // deterministic only: substitution re-evaluates the construction at
      // each fused site (filter condition, join condition, every parent
      // projection that fuses) — a nondeterministic construction
      // (st_point(rand()*10, 0)) would take DIFFERENT values per site, so
      // a filter could pass a row whose projected geometry disagrees with
      // the value the predicate tested. Predicate pushdown and
      // CollapseProject guard on deterministic for exactly this reason.
      case a @ Alias(g, _) if g.deterministic && g.exists {
        case _: StMakeBox | _: StPoint => true
        case _ => false
      } => a.exprId -> g
    }.toMap

  /** Substitute constructed-geometry aliases into `e` wherever the result
    * fuses; returns the rewritten expression and whether anything fused. */
  private def fuseWithDefs(e: Expression, defs: Map[ExprId, Expression]): (Expression, Boolean) = {
    var fusedAny = false
    val out = e.transformUp { case node =>
      if (node.isInstanceOf[AttributeReference]) node
      else {
        val inlined = node.transform {
          case ar: AttributeReference if defs.contains(ar.exprId) => defs(ar.exprId)
        }
        if (fuse.isDefinedAt(inlined)) { fusedAny = true; fuse(inlined) } else node
      }
    }
    (out, fusedAny)
  }

  private def fuseAcrossProjects(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    plan transform {
      // Project over Filter over Project — the filter shape
      // (`withColumn(box).filter(st_intersects(box, …)).select(…)`): fuse in
      // both the condition and the projection, then prune aliases the fusion
      // left dead from the bottom Project (the Filter is transparent).
      case p @ Project(list, Filter(cond, child @ Project(childList, grandchild))) =>
        val defs = constructedDefs(childList)
        if (defs.isEmpty) p
        else {
          val fusedList = list.map(ne => fuseWithDefs(ne, defs))
          val (newCond, fc) = fuseWithDefs(cond, defs)
          if (!fc && !fusedList.exists(_._2)) p
          else {
            val newList = fusedList.map(_._1.asInstanceOf[NamedExpression])
            val needed = AttributeSet(newList.flatMap(_.references)) ++ newCond.references
            val keptChild = childList.filter(ne => needed.contains(ne.toAttribute))
            val passThrough = (needed -- AttributeSet(keptChild.map(_.toAttribute))).toSeq
            if (!AttributeSet(passThrough).subsetOf(grandchild.outputSet)) p
            else Project(newList, Filter(newCond, Project(keptChild ++ passThrough, grandchild)))
          }
        }
      case p @ Project(list, child @ Project(childList, grandchild)) =>
        val defs = constructedDefs(childList)
        if (defs.isEmpty) p
        else {
          val fusedList = list.map(ne => fuseWithDefs(ne, defs))
          if (!fusedList.exists(_._2)) p
          else {
            val newList = fusedList.map(_._1.asInstanceOf[NamedExpression])
            val needed = AttributeSet(newList.flatMap(_.references))
            val keptChild = childList.filter(ne => needed.contains(ne.toAttribute))
            val passThrough = (needed -- AttributeSet(keptChild.map(_.toAttribute))).toSeq
            if (!AttributeSet(passThrough).subsetOf(grandchild.outputSet)) p // can't resolve — bail
            else Project(newList, Project(keptChild ++ passThrough, grandchild))
          }
        }
      // bare Filter directly over the constructing Project (no Project above
      // after earlier optimization): fuse the condition — the construction
      // itself stays in the child for downstream consumers, so this saves
      // the per-row predicate WKB parse + JTS, not the construction.
      case f @ Filter(cond, child @ Project(childList, _)) =>
        val defs = constructedDefs(childList)
        if (defs.isEmpty) f
        else {
          val (newCond, fc) = fuseWithDefs(cond, defs)
          // the fused condition references the construction's RAW coordinate
          // columns — if the child Project does not pass them through (e.g. a
          // nondeterministic sibling column blocked predicate pushdown, so
          // this Filter sits over a Project that dropped the coordinates),
          // the rewrite would produce an unresolvable plan. Bail out, same
          // guard as the Project/Filter/Project case above.
          if (!fc || !newCond.references.subsetOf(child.outputSet)) f
          else Filter(newCond, child)
        }
      // JOIN conditions over constructed geometries: a naive expression join
      // (`a.join(b, st_dwithin(ga, gb, d))`) runs as a nested-loop join that
      // evaluates the predicate per PAIR — at n×m pairs the WKB parse + JTS
      // call dominates everything. Substituting the child Projects' aliases
      // fuses the per-pair work to arithmetic; the constructions themselves
      // still evaluate only per ROW in the children, so no pruning is needed
      // (and the engine's SpatialJoin remains the right tool — this guards
      // the naive spelling from being 10× worse than it has to be).
      case j @ org.apache.spark.sql.catalyst.plans.logical.Join(
          left, right, jt, Some(cond), hint) =>
        val defs =
          (left match { case Project(cl, _) => constructedDefs(cl); case _ => Map.empty[ExprId, Expression] }) ++
          (right match { case Project(cl, _) => constructedDefs(cl); case _ => Map.empty[ExprId, Expression] })
        if (defs.isEmpty) j
        else {
          val (newCond, fc) = fuseWithDefs(cond, defs)
          if (!fc) j
          else {
            // the fused condition references raw coordinates that column
            // pruning may have dropped from the child Projects — pass them
            // through (ADDING attributes to a child is safe for every
            // ancestor; removing is not, so dead geometry aliases stay)
            val needed = newCond.references
            def extend(side: LogicalPlan): LogicalPlan = side match {
              case p @ Project(cl, g) =>
                val missing = (needed -- p.outputSet).filter(g.outputSet.contains).toSeq
                if (missing.isEmpty) p else Project(cl ++ missing, g)
              case other => other
            }
            val (nl, nr) = (extend(left), extend(right))
            if (!needed.subsetOf(nl.outputSet ++ nr.outputSet)) j // can't resolve — bail
            else {
              val newJoin =
                org.apache.spark.sql.catalyst.plans.logical.Join(nl, nr, jt, Some(newCond), hint)
              // extend() may have widened a child's output; if this Join is
              // the plan ROOT (collected directly) the row encoder binds by
              // ordinal against the ANALYZED schema, so extra columns would
              // shift the right side's values. Restore the node's original
              // output with a Project, as Catalyst rules that introduce
              // auxiliary attributes do.
              if (newJoin.output == j.output) newJoin
              else org.apache.spark.sql.catalyst.plans.logical.Project(j.output, newJoin)
            }
          }
        }
    }
  }

  /** Aggregate pushdown for `st_total_bounds_agg` over CONSTRUCTED points:
    * the UDAF path builds WKB per row, parses it back and folds a JTS
    * envelope — for `st_point(x, y)` input that is algebraically four
    * columnar min/max aggregates, which partial-aggregate map-side inside
    * whole-stage codegen (the q39 scan shape becomes a pure arithmetic
    * pass; at 100 TB, bounds of a telemetry point table should cost one
    * columnar scan, not per-row allocation).
    *
    * Bit-exactness vs [[graft.agg.GeoAggregates.TotalBoundsAgg]] (every
    * claim probed against the actual kernel, GeomSimplifySpec):
    *  - a point contributes iff BOTH coordinates are non-null (StPoint is
    *    null-safe) AND neither is NaN: JTS's WKBReader turns any point
    *    with a NaN coordinate into POINT EMPTY on read (probed on jts-core
    *    1.20), whose null envelope the kernel SKIPS — so the guard drops
    *    NaN points entirely rather than poisoning an axis;
    *  - min/max over the surviving (finite-or-infinite, non-NaN) doubles:
    *    Spark's ordering Min/Max equals the kernel's math.min/max fold
    *    EXCEPT at ±0.0 ties, where Spark's comparison treats -0.0 == 0.0
    *    and keeps whichever arrived first (order-dependent!) while
    *    math.min deterministically yields -0.0 (math.max +0.0). The
    *    rewrite carries tiny any-(-0.0)/any-(+0.0) flag aggregates per
    *    axis and rewrites a zero-valued min/max to the sign math.min/max
    *    would produce;
    *  - an all-null/all-empty group yields the kernel's
    *    (NaN, NaN, NaN, NaN) via the IsNull override (reference
    *    total_bounds returns all-nan there). */
  private def fuseTotalBounds(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Complete, Max, Min}
    import org.apache.spark.sql.execution.aggregate.ScalaAggregator
    import graft.agg.GeoAggregates.TotalBoundsAgg

    def boundsStruct(x: Expression, y: Expression): Expression = {
      // a null OR NaN coordinate (either axis) removes the whole point —
      // see the WKBReader empty-point note in the scaladoc
      def dead(v: Expression): Expression = Or(IsNull(v), IsNaN(v))
      def guard(v: Expression, other: Expression): Expression =
        If(Or(dead(v), dead(other)), Literal(null, DoubleType), v)
      val xv = guard(x, y)
      val yv = guard(y, x)
      def aggE(f: AggregateFunction) =
        AggregateExpression(f, Complete, isDistinct = false)
      val nan = Literal(Double.NaN, DoubleType)
      val zero = Literal(0.0, DoubleType)
      // sign-of-zero witness: pow(v, −1) is −Inf for −0.0, +Inf for +0.0
      // (raw Math.pow — no ANSI error and, unlike Spark's Atan2, no −0.0
      // normalization; Divide is out because ANSI mode raises
      // DIVIDE_BY_ZERO even under a guarding And — subexpression
      // elimination hoists the division)
      def invOf(v: Expression): Expression = Pow(v, Literal(-1.0, DoubleType))
      def negZero(v: Expression): Expression =
        And(EqualTo(v, zero), LessThan(invOf(v), zero))
      def posZero(v: Expression): Expression =
        And(EqualTo(v, zero), GreaterThan(invOf(v), zero))
      def field(vals: Expression, isMin: Boolean): Expression = {
        val m = aggE(if (isMin) Min(vals) else Max(vals))
        // a zero-valued extreme gets the sign math.min/max would fold to:
        // min is −0.0 iff ANY contributing −0.0 exists, max +0.0 iff any
        // +0.0 — Spark's ordering Min/Max ties ±0.0 order-dependently
        val flag = aggE(Max(if (isMin) negZero(vals) else posZero(vals)))
        val zeroFixed =
          If(flag, Literal(if (isMin) -0.0 else 0.0, DoubleType),
            Literal(if (isMin) 0.0 else -0.0, DoubleType))
        If(EqualTo(m, zero), zeroFixed, m)
      }
      // the kernel's finish() reports the all-NaN "empty" result whenever
      // the folded xmin is +Inf — that conflates the genuinely-empty group
      // with a group whose every x coordinate IS +Infinity, and it checks
      // ONLY xmin (a +Inf ymin survives). Reproduce both quirks exactly:
      // one shared condition on the xmin aggregate nukes all four fields.
      // (The duplicated Min(xv) is deduplicated by PhysicalAggregation.)
      val empty = Or(IsNull(aggE(Min(xv))),
        EqualTo(aggE(Min(xv)), Literal(Double.PositiveInfinity, DoubleType)))
      def guarded(e: Expression): Expression = If(empty, nan, e)
      CreateNamedStruct(Seq(
        Literal("xmin"), guarded(field(xv, isMin = true)),
        Literal("ymin"), guarded(field(yv, isMin = true)),
        Literal("xmax"), guarded(field(xv, isMin = false)),
        Literal("ymax"), guarded(field(yv, isMin = false))))
    }

    plan transform {
      case agg @ Aggregate(gs, aes, child, hint) =>
        val defs = child match {
          case Project(cl, _) => constructedDefs(cl)
          case _ => Map.empty[ExprId, Expression]
        }
        var fusedAny = false
        val newAes = aes.map { ne =>
          ne.transform {
            case ae @ AggregateExpression(sa: ScalaAggregator[_, _, _], Complete, false, None, _)
                if sa.agg.isInstanceOf[TotalBoundsAgg] =>
              val inlined = sa.children.head match {
                case ar: AttributeReference if defs.contains(ar.exprId) => defs(ar.exprId)
                case other => other
              }
              inlined match {
                case StPoint(x, y) if x.deterministic && y.deterministic =>
                  fusedAny = true
                  boundsStruct(x, y)
                case _ => ae
              }
          }.asInstanceOf[NamedExpression]
        }
        if (!fusedAny) agg
        else {
          val needed = AttributeSet(newAes.flatMap(_.references)) ++
            AttributeSet(gs.flatMap(_.references))
          child match {
            // inlining exposed grandchild coordinate columns: keep the child
            // aliases still referenced, pass raw coordinates through, and
            // prune the now-dead construction (same posture as the
            // cross-Project fusion above)
            case Project(cl, g) =>
              val kept = cl.filter(ne => needed.contains(ne.toAttribute))
              val passThrough = (needed -- AttributeSet(kept.map(_.toAttribute))).toSeq
              if (!AttributeSet(passThrough).subsetOf(g.outputSet)) agg // can't resolve — bail
              else Aggregate(gs, newAes, Project(kept ++ passThrough, g), hint)
            case other =>
              if (!needed.subsetOf(other.outputSet)) agg
              else Aggregate(gs, newAes, other, hint)
          }
        }
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val sameTree = plan.transformAllExpressions {
      case e if fuse.isDefinedAt(e) => fuse(e)
    }
    fuseTotalBounds(fuseAcrossProjects(sameTree))
  }
}

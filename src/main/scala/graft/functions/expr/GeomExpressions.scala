package graft.functions.expr

import graft.geom.{GeomOps, Wkb}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Static JVM kernel entry points referenced from generated code (SURVEY §4:
  * "promote hot functions to Catalyst `Expression` with `doGenCode` to avoid
  * UDF boxing"). Generated java calls these directly — no Option boxing, no
  * Scala-function dispatch, stays inside whole-stage codegen. */
object GeomKernel {
  def point(x: Double, y: Double): Array[Byte] = Wkb.write(GeomOps.point(x, y))
  def x(b: Array[Byte]): Double = GeomOps.pointX(Wkb.read(b))
  def y(b: Array[Byte]): Double = GeomOps.pointY(Wkb.read(b))
  def area(b: Array[Byte]): Double = Wkb.read(b).getArea
  def length(b: Array[Byte]): Double = Wkb.read(b).getLength
  def distance(a: Array[Byte], b: Array[Byte]): Double = Wkb.read(a).distance(Wkb.read(b))
  def intersects(a: Array[Byte], b: Array[Byte]): Boolean = Wkb.read(a).intersects(Wkb.read(b))
  def contains(a: Array[Byte], b: Array[Byte]): Boolean = Wkb.read(a).contains(Wkb.read(b))
  def within(a: Array[Byte], b: Array[Byte]): Boolean = Wkb.read(a).within(Wkb.read(b))
  def dwithin(a: Array[Byte], b: Array[Byte], d: Double): Boolean =
    Wkb.read(a).isWithinDistance(Wkb.read(b), d)
  def makeBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Byte] =
    Wkb.write(GeomOps.makeBox(xmin, ymin, xmax, ymax))
  def makeLine(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    Wkb.write(GeomOps.makeLine(Wkb.read(a), Wkb.read(b)))
  def envelope(b: Array[Byte]): Array[Byte] = Wkb.write(GeomOps.envelope(Wkb.read(b)))

  /** `st_area(st_makebox(…))` fused to arithmetic, bit-exact vs the JTS path.
    *
    * Finite fast path: JTS `Envelope(x1,x2,y1,y2)` normalizes with a single
    * `<` branch per axis; `GeometryFactory.toGeometry` emits a Point/LineString
    * (area 0.0) when an axis is degenerate, else the rectangle ring
    * (minx,miny),(minx,maxy),(maxx,maxy),(maxx,miny),(minx,miny) whose
    * `Area.ofRing` sum is exactly `0 + 0·(miny−maxy) + t + t` with
    * `t = (maxx−minx)·(maxy−miny)`; `(t+t)/2 = t` is exact in doubles, so the
    * whole area rounds once — identical bits to the single product. Any
    * NaN/±Inf coordinate falls back to the real JTS construction (still no
    * WKB round-trip), because the ring arithmetic then yields NaNs the
    * product form would miss. */
  def boxArea(xa: Double, ya: Double, xb: Double, yb: Double): Double =
    if (java.lang.Double.isFinite(xa + ya + xb + yb)) {
      val minx = if (xa < xb) xa else xb; val maxx = if (xa < xb) xb else xa
      val miny = if (ya < yb) ya else yb; val maxy = if (ya < yb) yb else ya
      if (minx == maxx || miny == maxy) 0.0
      else (maxx - minx) * (maxy - miny)
    } else GeomOps.makeBox(xa, ya, xb, yb).getArea

  def disjoint(a: Array[Byte], b: Array[Byte]): Boolean = !Wkb.read(a).intersects(Wkb.read(b))
  def touches(a: Array[Byte], b: Array[Byte]): Boolean = Wkb.read(a).touches(Wkb.read(b))
  def crosses(a: Array[Byte], b: Array[Byte]): Boolean = Wkb.read(a).crosses(Wkb.read(b))
  def overlaps(a: Array[Byte], b: Array[Byte]): Boolean = Wkb.read(a).overlaps(Wkb.read(b))
  def covers(a: Array[Byte], b: Array[Byte]): Boolean = Wkb.read(a).covers(Wkb.read(b))
  def coveredBy(a: Array[Byte], b: Array[Byte]): Boolean = Wkb.read(a).coveredBy(Wkb.read(b))

  @inline private def allFinite(a: Double, b: Double, c: Double, d: Double,
                                e: Double, f: Double, g: Double, h: Double): Boolean =
    java.lang.Double.isFinite(a + b + c + d + e + f + g + h)

  /** JTS 1.20's RelateNG engine (the path `within`, and degenerate-pair
    * `intersects`, take — no rectangle fast path) loses robustness once
    * coordinate PRODUCTS underflow: below ~sqrt(Double.MinValue) ≈ 1.5e-154
    * its orientation arithmetic flushes to zero and `a.within(b)` stops
    * agreeing with `b.contains(a)` — JTS disagreeing with itself (measured:
    * 0 mismatches in 500k trials per decade down to 1e-150; thousands at
    * 1e-160 and below). The interval kernels therefore take the arithmetic
    * fast path only when every coordinate is 0 or ≥ 1e-150 in magnitude,
    * and route tinier inputs to the REAL JTS call of the exact operation,
    * preserving bit-parity with the unfused path at every scale. */
  @inline private def tiny(x: Double): Boolean = x != 0.0 && math.abs(x) < 1e-150
  @inline private def anyTiny(a: Double, b: Double, c: Double, d: Double,
                              e: Double, f: Double, g: Double, h: Double): Boolean =
    tiny(a) || tiny(b) || tiny(c) || tiny(d) || tiny(e) || tiny(f) || tiny(g) || tiny(h)

  /** `st_intersects(st_makebox(A), st_makebox(B))` fused to interval
    * arithmetic. Every `makeBox` geometry — full rectangle, axis-parallel
    * segment (one degenerate axis), or point (both degenerate) — equals its
    * CLOSED envelope as a point set, so two of them intersect iff their
    * normalized intervals overlap on both axes (closed comparisons). The
    * finite-path equivalence to JTS (envelope shortcut + RectangleIntersects)
    * is pinned by an exhaustive 65k-case spec over every box topology;
    * NaN/Inf corners fall back to the real JTS construction (no WKB). */
  def boxIntersectsBox(ax: Double, ay: Double, axx: Double, ayy: Double,
                       bx: Double, by: Double, bxx: Double, byy: Double): Boolean =
    if (allFinite(ax, ay, axx, ayy, bx, by, bxx, byy)
        && !anyTiny(ax, ay, axx, ayy, bx, by, bxx, byy)) {
      val aminx = if (ax < axx) ax else axx; val amaxx = if (ax < axx) axx else ax
      val aminy = if (ay < ayy) ay else ayy; val amaxy = if (ay < ayy) ayy else ay
      val bminx = if (bx < bxx) bx else bxx; val bmaxx = if (bx < bxx) bxx else bx
      val bminy = if (by < byy) by else byy; val bmaxy = if (by < byy) byy else by
      aminx <= bmaxx && bminx <= amaxx && aminy <= bmaxy && bminy <= amaxy
    } else GeomOps.makeBox(ax, ay, axx, ayy).intersects(GeomOps.makeBox(bx, by, bxx, byy))

  /** `st_contains(st_makebox(A), st_makebox(B))` fused. Containment of
    * closed boxes is the subset interval test, but JTS `contains` also
    * demands an INTERIOR point in common — a B lying wholly in A's boundary
    * (an edge segment, a corner point) is covered-but-not-contained. The
    * interior test depends on A's topology: open-box for a full rectangle,
    * open-segment for a degenerate axis, point-equality when A is a point.
    * Exhaustively pinned against JTS like [[boxIntersectsBox]]. */
  def boxContainsBox(ax: Double, ay: Double, axx: Double, ayy: Double,
                     bx: Double, by: Double, bxx: Double, byy: Double): Boolean =
    if (allFinite(ax, ay, axx, ayy, bx, by, bxx, byy)
        && !anyTiny(ax, ay, axx, ayy, bx, by, bxx, byy)) {
      val aminx = if (ax < axx) ax else axx; val amaxx = if (ax < axx) axx else ax
      val aminy = if (ay < ayy) ay else ayy; val amaxy = if (ay < ayy) ayy else ay
      val bminx = if (bx < bxx) bx else bxx; val bmaxx = if (bx < bxx) bxx else bx
      val bminy = if (by < byy) by else byy; val bmaxy = if (by < byy) byy else by
      val subset = bminx >= aminx && bmaxx <= amaxx && bminy >= aminy && bmaxy <= amaxy
      if (!subset) false
      else {
        val degx = aminx == amaxx
        val degy = aminy == amaxy
        if (!degx && !degy) bmaxx > aminx && bminx < amaxx && bmaxy > aminy && bminy < amaxy
        else if (degx && degy) bminx == bmaxx && bminy == bmaxy // point A: B must be that point
        else if (degx) bmaxy > aminy && bminy < amaxy // vertical segment A (x pinned by subset)
        else bmaxx > aminx && bminx < amaxx // horizontal segment A
      }
    } else GeomOps.makeBox(ax, ay, axx, ayy).contains(GeomOps.makeBox(bx, by, bxx, byy))

  /** `st_within(st_makebox(A), st_makebox(B))`. Semantically the reversed
    * [[boxContainsBox]], BUT the fallback calls JTS `within` itself: below
    * the 1e-150 guard JTS 1.20's within (RelateNG, no rectangle shortcut)
    * and contains (RectangleContains) genuinely disagree with each other,
    * and fusion parity means matching what `a.within(b)` returns — not what
    * it "should" return. */
  def boxWithinBox(ax: Double, ay: Double, axx: Double, ayy: Double,
                   bx: Double, by: Double, bxx: Double, byy: Double): Boolean =
    if (allFinite(ax, ay, axx, ayy, bx, by, bxx, byy)
        && !anyTiny(ax, ay, axx, ayy, bx, by, bxx, byy))
      boxContainsBox(bx, by, bxx, byy, ax, ay, axx, ayy)
    else GeomOps.makeBox(ax, ay, axx, ayy).within(GeomOps.makeBox(bx, by, bxx, byy))

  /** `st_area(st_envelope(st_makebox(…)))`. For finite coordinates the
    * envelope of a box IS the box, so this equals [[boxArea]]; NaN inputs
    * diverge (JTS `Envelope.expandToInclude` silently DROPS NaN coordinates,
    * so the envelope of a NaN-cornered box can be a finite degenerate with
    * area 0.0 where the box's own ring sums to NaN) — hence the fallback
    * runs the genuine envelope∘makeBox composition. */
  def envBoxArea(xa: Double, ya: Double, xb: Double, yb: Double): Double =
    if (java.lang.Double.isFinite(xa + ya + xb + yb)) boxArea(xa, ya, xb, yb)
    else GeomOps.envelope(GeomOps.makeBox(xa, ya, xb, yb)).getArea
}

abstract class GeomBinaryPredicate extends BinaryExpression {
  def kernelName: String
  override def dataType: DataType = BooleanType
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.expr.GeomKernel.$kernelName($a, $b)")
}

case class StIntersects(left: Expression, right: Expression) extends GeomBinaryPredicate {
  def kernelName = "intersects"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomKernel.intersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class StContains(left: Expression, right: Expression) extends GeomBinaryPredicate {
  def kernelName = "contains"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomKernel.contains(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class StWithin(left: Expression, right: Expression) extends GeomBinaryPredicate {
  def kernelName = "within"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomKernel.within(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class StDistance(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomKernel.distance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.expr.GeomKernel.distance($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class StDWithin(first: Expression, second: Expression, third: Expression) extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(a: Any, b: Any, d: Any): Any =
    GeomKernel.dwithin(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, d) => s"graft.functions.expr.GeomKernel.dwithin($a, $b, $d)")
  override def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

case class StPoint(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(x: Any, y: Any): Any =
    GeomKernel.point(x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.expr.GeomKernel.point($x, $y)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

abstract class GeomUnaryDouble extends UnaryExpression {
  def kernelName: String
  override def dataType: DataType = DoubleType
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.expr.GeomKernel.$kernelName($c)")
}

case class StX(child: Expression) extends GeomUnaryDouble {
  def kernelName = "x"
  override protected def nullSafeEval(b: Any): Any = GeomKernel.x(b.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class StY(child: Expression) extends GeomUnaryDouble {
  def kernelName = "y"
  override protected def nullSafeEval(b: Any): Any = GeomKernel.y(b.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class StArea(child: Expression) extends GeomUnaryDouble {
  def kernelName = "area"
  override protected def nullSafeEval(b: Any): Any = GeomKernel.area(b.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class StLength(child: Expression) extends GeomUnaryDouble {
  def kernelName = "length"
  override protected def nullSafeEval(b: Any): Any = GeomKernel.length(b.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class StMakeLine(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomKernel.makeLine(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.expr.GeomKernel.makeLine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class StEnvelope(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(b: Any): Any = GeomKernel.envelope(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.expr.GeomKernel.envelope($c)")
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Quaternary (x0, y0, x1, y1) → double kernels share null handling: any
  * NULL input nulls the result, exactly the semantics of the fused
  * makebox→envelope→area chain they replace (a NULL coordinate nulls the
  * constructed box, which nulls everything downstream). */
abstract class GeomQuaternary extends QuaternaryExpression {
  def kernelName: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, c, d) => s"graft.functions.expr.GeomKernel.$kernelName($a, $b, $c, $d)")
}

case class StMakeBox(first: Expression, second: Expression,
                     third: Expression, fourth: Expression) extends GeomQuaternary {
  def kernelName = "makeBox"
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeomKernel.makeBox(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression) = copy(a, b, c, d)
}

case class StBoxArea(first: Expression, second: Expression,
                     third: Expression, fourth: Expression) extends GeomQuaternary {
  def kernelName = "boxArea"
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeomKernel.boxArea(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression) = copy(a, b, c, d)
}

case class StEnvBoxArea(first: Expression, second: Expression,
                        third: Expression, fourth: Expression) extends GeomQuaternary {
  def kernelName = "envBoxArea"
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeomKernel.envBoxArea(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression) = copy(a, b, c, d)
}

/** 8 double coordinates (box A corners, box B corners) → boolean, null iff
  * any input is null — exactly the null semantics of the fused
  * makebox→predicate chain it replaces. Catalyst has no arity-8 convenience
  * base, so eval/codegen are spelled out; the generated code stays a plain
  * static call inside whole-stage codegen like the other kernels. */
abstract class GeomOctonaryPredicate extends Expression {
  def kernelName: String
  def kernel(a: Double, b: Double, c: Double, d: Double,
             e: Double, f: Double, g: Double, h: Double): Boolean
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = new Array[Double](8)
    var i = 0
    while (i < 8) {
      val v = children(i).eval(input)
      if (v == null) return null
      vs(i) = v.asInstanceOf[Double]
      i += 1
    }
    kernel(vs(0), vs(1), vs(2), vs(3), vs(4), vs(5), vs(6), vs(7))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(e => s"${e.isNull}").mkString(" || ")
    val args = evals.map(e => s"${e.value}").mkString(", ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $anyNull;
      boolean ${ev.value} = false;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.expr.GeomKernel.$kernelName($args);
      }""")
  }
}

case class StBoxIntersectsBox(children: Seq[Expression]) extends GeomOctonaryPredicate {
  require(children.length == 8, "StBoxIntersectsBox takes 8 coordinate expressions")
  def kernelName = "boxIntersectsBox"
  def kernel(a: Double, b: Double, c: Double, d: Double,
             e: Double, f: Double, g: Double, h: Double): Boolean =
    GeomKernel.boxIntersectsBox(a, b, c, d, e, f, g, h)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

case class StBoxWithinBox(children: Seq[Expression]) extends GeomOctonaryPredicate {
  require(children.length == 8, "StBoxWithinBox takes 8 coordinate expressions")
  def kernelName = "boxWithinBox"
  def kernel(a: Double, b: Double, c: Double, d: Double,
             e: Double, f: Double, g: Double, h: Double): Boolean =
    GeomKernel.boxWithinBox(a, b, c, d, e, f, g, h)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

case class StBoxContainsBox(children: Seq[Expression]) extends GeomOctonaryPredicate {
  require(children.length == 8, "StBoxContainsBox takes 8 coordinate expressions")
  def kernelName = "boxContainsBox"
  def kernel(a: Double, b: Double, c: Double, d: Double,
             e: Double, f: Double, g: Double, h: Double): Boolean =
    GeomKernel.boxContainsBox(a, b, c, d, e, f, g, h)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

case class StDisjoint(left: Expression, right: Expression) extends GeomBinaryPredicate {
  def kernelName = "disjoint"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomKernel.disjoint(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

// The remaining JTS binary predicates whose truth implies bbox overlap —
// native classes so they are pattern-matchable by plans.AutoSpatialJoin,
// which turns a plain `a.join(b, st_touches(...))` spelling into the grid
// candidate join.

case class StTouches(left: Expression, right: Expression) extends GeomBinaryPredicate {
  def kernelName = "touches"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomKernel.touches(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class StCrosses(left: Expression, right: Expression) extends GeomBinaryPredicate {
  def kernelName = "crosses"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomKernel.crosses(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class StOverlaps(left: Expression, right: Expression) extends GeomBinaryPredicate {
  def kernelName = "overlaps"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomKernel.overlaps(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class StCovers(left: Expression, right: Expression) extends GeomBinaryPredicate {
  def kernelName = "covers"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomKernel.covers(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class StCoveredBy(left: Expression, right: Expression) extends GeomBinaryPredicate {
  def kernelName = "coveredBy"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomKernel.coveredBy(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

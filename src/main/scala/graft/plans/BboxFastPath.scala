package graft.plans

import graft.functions.expr.{StContains, StDWithin, StIntersects, StWithin}
import graft.geom.Wkb
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, StructType}

/** Catalyst rule: a spatial predicate against a LITERAL geometry implies
  * rectangle bounds on the frame's covering `bbox` struct column — inject
  * those bounds as extra conjuncts so they reach the Parquet scan as
  * ordinary min/max-prunable filters (SURVEY §4 "custom Rule, phase 2";
  * the reference gets the same effect from `read_parquet(bbox=)`,
  * `io/arrow.py:884-937`, but only for explicit reader args — this rule
  * accelerates ad-hoc `.cx` and literal st_intersects/contains/within/
  * dwithin filters too).
  *
  * The exact predicate stays in place — the bbox conjuncts are a necessary
  * condition, never a replacement — so results are identical; row groups
  * whose bbox stats cannot match are simply never read. Fires only when the
  * filtered geometry is the sole binary column of a frame that carries a
  * spec-shaped `bbox` struct (the GeoParquet covering layout this engine
  * writes), which ties the bbox column to that geometry unambiguously.
  * Idempotent: conjuncts already present (semantically) are not re-added.
  */
object BboxFastPath extends Rule[LogicalPlan] {

  /** Forwards to [[graft.GraftSession.install]], for callers that build
    * their own session. */
  def install(spark: SparkSession): Unit = graft.GraftSession.install(spark)

  private def isBboxStruct(dt: DataType): Boolean = dt match {
    case s: StructType => Seq("xmin", "ymin", "xmax", "ymax").forall(n =>
      s.fieldNames.contains(n) && s(n).dataType == DoubleType)
    case _ => false
  }

  /** Both columns must reach the filter UNMODIFIED from the same leaf scan
    * (passed through only projections/filters/aliases, by exprId). A
    * toCrs/buffer/withColumn re-defines the geometry under a NEW exprId
    * that no leaf carries, so a stale bbox column can never be trusted —
    * without this check the rule would inject bounds computed in the new
    * CRS against old-CRS bbox values and silently drop rows. */
  private def scanRooted(plan: LogicalPlan, geom: Attribute, b: Attribute): Boolean = plan match {
    case l: org.apache.spark.sql.catalyst.plans.logical.LeafNode =>
      l.output.exists(_.exprId == geom.exprId) && l.output.exists(_.exprId == b.exprId)
    case _: org.apache.spark.sql.catalyst.plans.logical.Project |
         _: Filter |
         _: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      plan.children.exists(scanRooted(_, geom, b))
    case _ => false
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val bboxAttr = child.output.find(a => a.name == "bbox" && isBboxStruct(a.dataType))
      val binCols = child.output.filter(_.dataType == BinaryType)
      (bboxAttr, binCols) match {
        case (Some(b), Seq(geom)) if scanRooted(child, geom, b) =>
          val existing = splitConjunctivePredicates(cond)
          val extra = existing.flatMap(conjunctsFor(_, geom, b))
            .filterNot(e => existing.exists(_.semanticEquals(e)))
            .foldLeft(Seq.empty[Expression]) { (acc, e) => // in-batch dedupe
              if (acc.exists(_.semanticEquals(e))) acc else acc :+ e
            }
          if (extra.isEmpty) f
          else Filter(extra.foldRight(cond)(And(_, _)), child)
        case _ => f
      }
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
    case other     => Seq(other)
  }

  /** Bounds implied by one predicate conjunct, or Nil. */
  private def conjunctsFor(pred: Expression, geom: Attribute, b: Attribute): Seq[Expression] = {
    def litEnv(e: Expression): Option[org.locationtech.jts.geom.Envelope] = e match {
      case Literal(wkb: Array[Byte], BinaryType) =>
        scala.util.Try(Wkb.read(wkb).getEnvelopeInternal).toOption
      case _ => None
    }
    def isGeom(e: Expression): Boolean = e match {
      case a: Attribute => a.semanticEquals(geom)
      case _            => false
    }
    val s = b.dataType.asInstanceOf[StructType]
    def fld(n: String) = GetStructField(b, s.fieldIndex(n), Some(n))
    // A null bbox (legal in externally-written GeoParquet even when the
    // geometry is non-null) must never drop a row: every bound is guarded
    // with IsNull, which stays min/max-prunable on row groups with no nulls.
    def le(n: String, v: Double): Expression =
      Or(IsNull(fld(n)), LessThanOrEqual(fld(n), Literal(v)))
    def ge(n: String, v: Double): Expression =
      Or(IsNull(fld(n)), GreaterThanOrEqual(fld(n), Literal(v)))
    def intersectsEnv(env: org.locationtech.jts.geom.Envelope, pad: Double): Seq[Expression] = Seq(
      le("xmin", env.getMaxX + pad), ge("xmax", env.getMinX - pad),
      le("ymin", env.getMaxY + pad), ge("ymax", env.getMinY - pad))
    // geometry's bbox CONTAINS the literal's bbox (g ⊇ lit)
    def containsEnv(env: org.locationtech.jts.geom.Envelope): Seq[Expression] = Seq(
      le("xmin", env.getMinX), ge("xmax", env.getMaxX),
      le("ymin", env.getMinY), ge("ymax", env.getMaxY))
    // geometry's bbox WITHIN the literal's bbox (g ⊆ lit)
    def withinEnv(env: org.locationtech.jts.geom.Envelope): Seq[Expression] = Seq(
      ge("xmin", env.getMinX), le("xmax", env.getMaxX),
      ge("ymin", env.getMinY), le("ymax", env.getMaxY))

    pred match {
      case StIntersects(g, l) if isGeom(g) => litEnv(l).toSeq.flatMap(intersectsEnv(_, 0.0))
      case StIntersects(l, g) if isGeom(g) => litEnv(l).toSeq.flatMap(intersectsEnv(_, 0.0))
      case StContains(g, l) if isGeom(g)   => litEnv(l).toSeq.flatMap(containsEnv)
      case StContains(l, g) if isGeom(g)   => litEnv(l).toSeq.flatMap(withinEnv)
      case StWithin(g, l) if isGeom(g)     => litEnv(l).toSeq.flatMap(withinEnv)
      case StWithin(l, g) if isGeom(g)     => litEnv(l).toSeq.flatMap(containsEnv)
      case StDWithin(g, l, Literal(d: java.lang.Double, DoubleType)) if isGeom(g) =>
        litEnv(l).toSeq.flatMap(intersectsEnv(_, d.doubleValue()))
      case StDWithin(l, g, Literal(d: java.lang.Double, DoubleType)) if isGeom(g) =>
        litEnv(l).toSeq.flatMap(intersectsEnv(_, d.doubleValue()))
      case _ => Nil
    }
  }
}

package graft.agg

import graft.geom.{GeomOps, Wkb}
import org.apache.spark.sql.{Column, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.locationtech.jts.geom.Geometry

import scala.collection.mutable

/** Geometry aggregates (reference `union_all` `base.py:2500-2553`,
  * `intersection_all` `base.py:2554`, dissolve's per-group union
  * `geodataframe.py:2309-2316`, `total_bounds` `base.py:5288`).
  *
  * The three unions are one [[GeomUnionAgg]] with the kernel as a
  * parameter. Spark runs it as a partial (map-side) and a final
  * aggregation, and the union runs when the partial buffer is serialized:
  * each map task ships one union per group, and the final stage unions at
  * most one partial per map task. A dissolve is thereby tree-merged across
  * partitions — the merge the reference gets from GEOS
  * CascadedPolygonUnion, distributed.
  */
object GeoAggregates {

  private val binEnc: Encoder[Array[Byte]] = Encoders.BINARY

  /** st_collect_agg — collect geometries into a Multi-geometry or
    * GeometryCollection (no dissolve/dedup). */
  class CollectAgg extends Aggregator[Array[Byte], Seq[Array[Byte]], Array[Byte]] {
    def zero: Seq[Array[Byte]] = Nil
    def reduce(b: Seq[Array[Byte]], a: Array[Byte]): Seq[Array[Byte]] = if (a == null) b else b :+ a
    def merge(x: Seq[Array[Byte]], y: Seq[Array[Byte]]): Seq[Array[Byte]] = x ++ y
    def finish(b: Seq[Array[Byte]]): Array[Byte] =
      if (b.isEmpty) null else Wkb.write(GeomOps.collect(b.map(Wkb.read)))
    def bufferEncoder: Encoder[Seq[Array[Byte]]] = ExpressionEncoder[Seq[Array[Byte]]]()
    def outputEncoder: Encoder[Array[Byte]] = binEnc
  }

  /** st_intersection_all_agg — fold of pairwise intersection (ref base.py:2554). */
  class IntersectionAllAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = null
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] =
      if (a == null) b
      else if (b == null) a
      else Wkb.write(GeomOps.intersection(Wkb.read(b), Wkb.read(a)))
    def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = reduce(x, y)
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder: Encoder[Array[Byte]] = binEnc
    def outputEncoder: Encoder[Array[Byte]] = binEnc
  }

  case class Bounds4(xmin: Double, ymin: Double, xmax: Double, ymax: Double)

  /** total_bounds (ref base.py:5288) — min/max envelope over a geometry column. */
  class TotalBoundsAgg extends Aggregator[Array[Byte], Bounds4, Bounds4] {
    def zero: Bounds4 = Bounds4(Double.PositiveInfinity, Double.PositiveInfinity, Double.NegativeInfinity, Double.NegativeInfinity)
    def reduce(b: Bounds4, a: Array[Byte]): Bounds4 =
      if (a == null) b
      else {
        val e = Wkb.read(a).getEnvelopeInternal
        // empty geometries have a null (0,0,-1,-1) envelope — folding it in
        // would contaminate the bounds; the reference skips them
        if (e.isNull) b
        else Bounds4(math.min(b.xmin, e.getMinX), math.min(b.ymin, e.getMinY),
          math.max(b.xmax, e.getMaxX), math.max(b.ymax, e.getMaxY))
      }
    def merge(x: Bounds4, y: Bounds4): Bounds4 =
      Bounds4(math.min(x.xmin, y.xmin), math.min(x.ymin, y.ymin), math.max(x.xmax, y.xmax), math.max(x.ymax, y.ymax))
    // a group whose geometries are all null/empty leaves the zero buffer
    // untouched; the reference's total_bounds returns [nan, nan, nan, nan]
    // there (base.py:5288), not the +Inf/-Inf identity
    def finish(b: Bounds4): Bounds4 =
      if (b.xmin == Double.PositiveInfinity) Bounds4(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
      else b
    def bufferEncoder: Encoder[Bounds4] = Encoders.product[Bounds4]
    def outputEncoder: Encoder[Bounds4] = Encoders.product[Bounds4]
  }

  lazy val stCollectAggU = udaf(new CollectAgg())
  lazy val stIntersectionAllAggU = udaf(new IntersectionAllAgg())
  lazy val stTotalBoundsAggU = udaf(new TotalBoundsAgg())

  private def unionAgg(g: Column, kernel: UnionKernel): Column =
    column(GeomUnionAgg(expression(g), kernel).toAggregateExpression())

  /** st_union_agg — JTS UnaryUnion per group. */
  def st_union_agg(g: Column): Column = unionAgg(g, UnionKernel.Unary)
  /** st_coverage_union_agg — union for polygonal COVERAGES (non-overlapping,
    * edge-matched inputs; ref union_all(method="coverage"),
    * array.py:1002-1019): JTS CoverageUnion skips overlay noding entirely,
    * ~10× cheaper than UnaryUnion for dissolves over admin boundaries. */
  def st_coverage_union_agg(g: Column): Column = unionAgg(g, UnionKernel.Coverage)
  /** st_disjoint_subset_union_agg — union via connected components (ref
    * union_all(method="disjoint_subset"), GEOS 3.12): clusters that don't
    * touch never node against each other. */
  def st_disjoint_subset_union_agg(g: Column): Column = unionAgg(g, UnionKernel.DisjointSubset)
  def st_collect_agg(g: Column): Column = stCollectAggU(g)
  def st_intersection_all_agg(g: Column): Column = stIntersectionAllAggU(g)
  def st_total_bounds_agg(g: Column): Column = stTotalBoundsAggU(g)

  def registerAll(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    Seq(UnionKernel.Unary, UnionKernel.Coverage, UnionKernel.DisjointSubset).foreach { k =>
      fr.registerFunction(FunctionIdentifier(k.sqlName),
        new ExpressionInfo("graft.agg.GeoAggregates", k.sqlName),
        { args: Seq[Expression] =>
          require(args.length == 1, s"${k.sqlName} takes 1 argument, got ${args.length}")
          GeomUnionAgg(args.head, k)
        })
    }
    spark.udf.register("st_collect_agg", stCollectAggU)
    spark.udf.register("st_intersection_all_agg", stIntersectionAllAggU)
    spark.udf.register("st_total_bounds_agg", stTotalBoundsAggU)
  }
}

/** The kernel a [[GeomUnionAgg]] unions with, named by its SQL function.
  * Every kernel is associative on its inputs, so a union of partial unions
  * is the union of all pieces: a sub-coverage's union keeps its outer
  * edges exact, and a union of disjoint subsets is still one. */
sealed abstract class UnionKernel(val sqlName: String, val compactAt: Int) extends Serializable {
  def apply(gs: Seq[Geometry]): Geometry
}

/** `compactAt` is the number of buffered WKB entries at which a buffer is
  * unioned in place, the bound each kernel's aggregate has always had. */
object UnionKernel {
  case object Unary extends UnionKernel("st_union_agg", 64) {
    def apply(gs: Seq[Geometry]): Geometry = GeomOps.unionAll(gs)
  }
  case object Coverage extends UnionKernel("st_coverage_union_agg", 256) {
    def apply(gs: Seq[Geometry]): Geometry = GeomOps.coverageUnion(gs)
  }
  case object DisjointSubset extends UnionKernel("st_disjoint_subset_union_agg", 128) {
    def apply(gs: Seq[Geometry]): Geometry = GeomOps.unionAllDisjointSubset(gs)
  }
}

/** Union of a group's WKB geometries with `kernel`; null for a group with
  * no non-null geometry.
  *
  * The buffer keeps the input pieces and the partial unions merged in
  * from other buffers, all as WKB. `serialize`, which Spark calls when a
  * map task hands its buffer to the shuffle (or spills it in the
  * sort-based fallback), unions everything into one partial, so the
  * shuffle carries one geometry per group and map task. A buffer holding
  * just one partial is already a union and is returned as is. A buffer
  * that reaches the kernel's `compactAt` entries is unioned in place. */
case class GeomUnionAgg(child: Expression, kernel: UnionKernel,
                        mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GeomUnionAgg.Pieces] with UnaryLike[Expression] {
  import GeomUnionAgg.Pieces

  override def prettyName: String = kernel.sqlName
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes a WKB (binary) geometry, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Pieces = new Pieces

  override def update(b: Pieces, input: InternalRow): Pieces = {
    val v = child.eval(input)
    if (v != null) {
      b.raw += v.asInstanceOf[Array[Byte]]
      compact(b)
    }
    b
  }

  override def merge(b: Pieces, other: Pieces): Pieces = {
    b.raw ++= other.raw
    b.partials ++= other.partials
    compact(b)
    b
  }

  override def eval(b: Pieces): Any = unioned(b)

  override def serialize(b: Pieces): Array[Byte] = {
    val u = unioned(b)
    if (u == null) Array.emptyByteArray else u
  }

  override def deserialize(bytes: Array[Byte]): Pieces = {
    val b = new Pieces
    if (bytes.nonEmpty) b.partials += bytes
    b
  }

  /** The WKB of the union of everything in `b`, null when it holds nothing. */
  private def unioned(b: Pieces): Array[Byte] =
    if (b.raw.isEmpty && b.partials.size <= 1) b.partials.headOption.orNull
    else Wkb.write(kernel((b.raw ++ b.partials).map(Wkb.read).toSeq))

  private def compact(b: Pieces): Unit =
    if (b.raw.size + b.partials.size >= kernel.compactAt) {
      val u = unioned(b)
      b.raw.clear()
      b.partials.clear()
      if (u != null) b.partials += u
    }

  override def withNewMutableAggBufferOffset(n: Int): GeomUnionAgg = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): GeomUnionAgg = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): GeomUnionAgg = copy(child = c)
}

object GeomUnionAgg {

  /** One group's buffer: input pieces and partial unions, as WKB. */
  final class Pieces {
    val raw = mutable.ArrayBuffer.empty[Array[Byte]]
    val partials = mutable.ArrayBuffer.empty[Array[Byte]]
  }
}

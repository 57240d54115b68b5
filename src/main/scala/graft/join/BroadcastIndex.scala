package graft.join

import graft.geom.Wkb
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GeneratorOuter, JoinedRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructType}
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree

/** The build side of a broadcast join: its rows, collected once as internal
  * rows, and an STRtree over their geometries. GeoPandas caches the tree on
  * the array (`array.py:374-379`); here the tree, the decoded geometries and
  * the prepared geometries are transient lazy values of the broadcast value,
  * which Spark deserializes once per executor JVM, so each JVM builds them
  * once. */
private[graft] final class BroadcastIndex(val schema: StructType, val rows: Array[InternalRow],
                                          geomOrdinal: Int) extends Serializable {

  /** Each row's geometry, null where the row has none. */
  @transient lazy val geom: Array[Geometry] =
    rows.map(r => if (r.isNullAt(geomOrdinal)) null else Wkb.read(r.getBinary(geomOrdinal)))

  @transient private lazy val tree: STRtree = {
    val t = new STRtree()
    var i = 0
    while (i < geom.length) {
      if (geom(i) != null && !geom(i).isEmpty) t.insert(geom(i).getEnvelopeInternal, Integer.valueOf(i))
      i += 1
    }
    t.build()
    t
  }

  @transient private lazy val prep = new java.util.concurrent.ConcurrentHashMap[Int, PreparedGeometry]()

  private def prepared(i: Int): PreparedGeometry =
    prep.computeIfAbsent(i, (k: Int) => PreparedGeometryFactory.prepare(geom(k)))

  /** Positions of the rows whose geometry satisfies `pred` against `g`, with
    * the build geometry prepared; `buildIsRight` as in
    * [[SpatialJoin.evalWithPrepared]]. */
  def matching(pred: String, g: Geometry, buildIsRight: Boolean, distance: Double): Array[Int] = {
    val env = new Envelope(g.getEnvelopeInternal)
    if (pred == "dwithin") env.expandBy(distance)
    val cands = tree.query(env)
    val out = Array.newBuilder[Int]
    var i = 0
    while (i < cands.size()) {
      val pos = cands.get(i).asInstanceOf[Integer].intValue()
      if (SpatialJoin.evalWithPrepared(pred, prepared(pos), geom(pos), g, buildIsRight, distance)) out += pos
      i += 1
    }
    out.result()
  }

  /** Positions of the rows nearest to `g` within `maxDistance`, every tie
    * kept, and their distance. An expanding-ring search: it stops once the
    * best hit lies inside the searched ring (nothing outside can be
    * closer), the ring reaches `maxDistance`, or it covers the whole tree.
    * `exclusive` skips build geometries equal to `g`. */
  def nearest(g: Geometry, maxDistance: Double, exclusive: Boolean): (Array[Int], Double) =
    if (tree.isEmpty) (Array.emptyIntArray, Double.PositiveInfinity)
    else {
      val rootEnv = tree.getRoot.getBounds.asInstanceOf[Envelope]
      val span = math.max(rootEnv.getWidth, rootEnv.getHeight)
      // the first ring reaches the build extent, even for a far-away stream
      // row or a degenerate extent, padded by the expected spacing
      val toRoot = g.getEnvelopeInternal.distance(rootEnv)
      var radius = math.max(1e-9, math.min(maxDistance, toRoot + math.max(1e-9, span / 64)))
      var best = Double.PositiveInfinity
      var done = false
      val cands = new scala.collection.mutable.ArrayBuffer[(Int, Double)]()
      while (!done) {
        val env = new Envelope(g.getEnvelopeInternal)
        env.expandBy(radius)
        val hits = tree.query(env)
        cands.clear()
        var i = 0
        while (i < hits.size()) {
          val pos = hits.get(i).asInstanceOf[Integer].intValue()
          val d = g.distance(geom(pos))
          if (d <= maxDistance && !(exclusive && d == 0.0 && g.equalsTopo(geom(pos)))) {
            if (d < best) best = d
            cands += ((pos, d))
          }
          i += 1
        }
        if (best <= radius || radius >= maxDistance || env.contains(rootEnv)) done = true
        else radius = radius * 4
      }
      (cands.iterator.collect { case (pos, d) if d == best => pos }.toArray, best)
    }
}

private[graft] object BroadcastIndex {

  /** `build` collected once, as internal rows, and broadcast as an index on
    * its `geom` column. */
  def apply(build: DataFrame, geom: String): Broadcast[BroadcastIndex] = {
    val qe = build.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
    build.sparkSession.sparkContext.broadcast(
      new BroadcastIndex(build.schema, rows, build.schema.fieldIndex(geom)))
  }
}

/** The broadcast join's probe: a generator that looks the stream row's
  * geometry up in a [[BroadcastIndex]] and emits each matching build row,
  * so Spark's `Generate` places the build columns after the stream columns
  * and no join is needed afterwards. Wrapped in `GeneratorOuter`, `Generate`
  * null-extends a stream row with no match. The plan string names the
  * search and the build row count, so the plan shows which strategy ran. */
private[graft] case class BroadcastProbe(child: Expression, index: Broadcast[BroadcastIndex],
                                         search: BroadcastProbe.Search)
    extends UnaryExpression with Generator with CodegenFallback {
  import BroadcastProbe._

  @transient private lazy val idx = index.value

  override def elementSchema: StructType = search match {
    case Nearest(_, _, distanceCol) => idx.schema.add(distanceCol, DoubleType, nullable = false)
    case _: Predicate               => idx.schema
  }

  // a Seq, not an Iterator: GenerateExec iterates an outer row's result twice
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val wkb = child.eval(input).asInstanceOf[Array[Byte]]
    if (wkb == null) Nil
    else search match {
      case Predicate(pred, buildIsRight, distance) =>
        idx.matching(pred, Wkb.read(wkb), buildIsRight, distance).toSeq.map(idx.rows(_))
      case Nearest(maxDistance, exclusive, _) =>
        val (hits, d) = idx.nearest(Wkb.read(wkb), maxDistance, exclusive)
        val dist = InternalRow(d)
        hits.toSeq.map(i => new JoinedRow(idx.rows(i), dist))
    }
  }

  override def toString: String = s"broadcast_probe($search, ${idx.rows.length} build rows, $child)"

  override protected def withNewChildInternal(newChild: Expression): BroadcastProbe = copy(child = newChild)
}

private[graft] object BroadcastProbe {

  sealed trait Search extends Serializable

  /** The build rows whose geometry satisfies `predicate`. */
  final case class Predicate(predicate: String, buildIsRight: Boolean, distance: Double) extends Search {
    override def toString: String = if (predicate == "dwithin") s"dwithin $distance" else predicate
  }

  /** The nearest build rows, ties kept, each followed by its distance. */
  final case class Nearest(maxDistance: Double, exclusive: Boolean, distanceCol: String) extends Search {
    override def toString: String =
      (if (exclusive) "exclusive " else "") + "nearest" +
        (if (maxDistance.isInfinite) "" else s" within $maxDistance")
  }

  /** `stream` with the build rows that `search` finds for its `geom`
    * column appended, one output row per match; with `outer`, a stream row
    * with no match is kept once, its build columns null. */
  def join(stream: DataFrame, geom: String, index: Broadcast[BroadcastIndex], search: Search,
           outer: Boolean): DataFrame = {
    val probe = BroadcastProbe(expression(col(geom)), index, search)
    stream.select(col("*"), column(if (outer) GeneratorOuter(probe) else probe))
  }
}

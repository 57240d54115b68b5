package graft.join

import graft.geom.Wkb
import graft.plans.Fence
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import scala.collection.mutable

/** Distributed spatial predicate join — the engine's version of the
  * reference's `sjoin` (`geopandas/tools/sjoin.py:12-515`).
  *
  * Two physical strategies, chosen by build-side size (mirroring the
  * reference's single hard-coded strategy of "STRtree on one side",
  * `sjoin.py:212-268`, but distributed):
  *
  *  1. '''Broadcast''': the small side is collected once, by the
  *     bounded collect that also finds it small ([[BroadcastIndex.upTo]]),
  *     and broadcast as a [[BroadcastIndex]], whose STRtree and prepared
  *     geometries are built once per executor JVM. Each stream row's geometry probes it
  *     through one generator ([[BroadcastProbe]]) that emits the matching
  *     build rows themselves: Spark's own `Generate` assembles the output
  *     rows and, for `how=left`/`right`, null-extends a stream row with no
  *     match. The big side is never shuffled and no join follows.
  *  2. '''Grid (PBSM)''': both sides are assigned grid cells covered by
  *     their (distance-expanded) bboxes, exploded, hash-joined on cell id
  *     with bbox-overlap pre-conditions, refined by the exact predicate,
  *     and de-duplicated with the reference-cell trick (a pair is emitted
  *     only in the cell containing the top-left corner of the bbox
  *     intersection) — no global distinct needed. This is the strategy that
  *     scales to 100 TB: shuffle is bounded by cell duplication factor and
  *     AQE handles skewed cells.
  */
object SpatialJoin {

  val Predicates: Set[String] = Set("intersects", "contains", "contains_properly", "within",
    "touches", "crosses", "overlaps", "covers", "covered_by", "dwithin", "equals")

  /** Exact predicate evaluation, args in (left, right) order; prepared form
    * used when the prepared geometry is available for the given side. */
  private[join] def evalPredicate(pred: String, l: Geometry, r: Geometry, distance: Double): Boolean = pred match {
    case "intersects"         => l.intersects(r)
    case "contains"           => l.contains(r)
    // containsProperly ⟺ DE-9IM T**FF*FF* (JTS PreparedPolygon docs) —
    // relate avoids building a PreparedGeometry for a single pair
    case "contains_properly"  => l.relate(r, "T**FF*FF*")
    case "within"             => l.within(r)
    case "touches"            => l.touches(r)
    case "crosses"            => l.crosses(r)
    case "overlaps"           => l.overlaps(r)
    case "covers"             => l.covers(r)
    case "covered_by"         => l.coveredBy(r)
    case "equals"             => l.equalsTopo(r)
    case "dwithin"            => l.isWithinDistance(r, distance)
    case p                    => throw new IllegalArgumentException(s"unknown predicate $p")
  }

  /** Evaluate with the prepared geometry on the BUILD side. `buildIsRight`
    * says whether the prepared/build geometry is the right arg. Prepared
    * geometries accelerate the predicates JTS supports; rest falls through
    * to the plain geometry. */
  private[graft] def evalWithPrepared(pred: String, prep: PreparedGeometry, build: Geometry,
                                     stream: Geometry, buildIsRight: Boolean, distance: Double): Boolean = {
    if (buildIsRight) {
      // predicate(streamGeom=left, buildGeom=right)
      pred match {
        case "intersects" => prep.intersects(stream)
        case "within"     => prep.contains(stream)
        case "covered_by" => prep.covers(stream)
        case "dwithin"    => stream.isWithinDistance(build, distance)
        case _            => evalPredicate(pred, stream, build, distance)
      }
    } else {
      // predicate(buildGeom=left, streamGeom=right)
      pred match {
        case "intersects"        => prep.intersects(stream)
        case "contains"          => prep.contains(stream)
        case "contains_properly" => prep.containsProperly(stream)
        case "covers"            => prep.covers(stream)
        case "dwithin"           => stream.isWithinDistance(build, distance)
        case _                   => evalPredicate(pred, build, stream, distance)
      }
    }
  }

  /** Suffix clashing non-geometry columns (ref `sjoin.py:303-359`). Returns
    * (renamedLeft, renamedRight). Geometry columns are never suffixed; the
    * dropped side's geometry is removed by the caller. */
  private[join] def applySuffixes(left: DataFrame, right: DataFrame, leftGeom: String, rightGeom: String,
                                  lsuffix: String, rsuffix: String): (DataFrame, DataFrame) = {
    val clash = left.columns.toSet.intersect(right.columns.toSet) - leftGeom - rightGeom
    val l2 = clash.foldLeft(left)((df, c) => df.withColumnRenamed(c, s"${c}_$lsuffix"))
    val r2 = clash.foldLeft(right)((df, c) => df.withColumnRenamed(c, s"${c}_$rsuffix"))
    (l2, r2)
  }

  /** Spatial join. `how` ∈ inner/left/right. `distance` only for
    * predicate="dwithin". `onAttribute`: extra equi-join columns (must exist
    * both sides, ref `sjoin.py:574-586`). `broadcastThreshold`: build-side
    * row count at or below which the broadcast strategy is used. */
  def sjoin(left: DataFrame, right: DataFrame,
            predicate: String = "intersects", how: String = "inner",
            leftGeom: String = "geometry", rightGeom: String = "geometry",
            lsuffix: String = "left", rsuffix: String = "right",
            distance: Double = 0.0, onAttribute: Seq[String] = Nil,
            broadcastThreshold: Long = 2000000L): DataFrame = {
    val joined = sjoinCore(left, right, predicate, how, leftGeom, rightGeom, lsuffix, rsuffix,
      distance, onAttribute, broadcastThreshold)
    // exactly one geometry column survives (ref sjoin.py:464-467)
    val rGeomName = if (leftGeom == rightGeom) s"${rightGeom}_$rsuffix" else rightGeom
    how match {
      case "right" => joined.drop(leftGeom).withColumnRenamed(rGeomName, rightGeom)
      case _       => joined.drop(rGeomName)
    }
  }

  /** The frames that broadcast builds found over the threshold, by name,
    * and the names of one join's `left` and `right` frames. A caller that
    * joins the same frames more than once (overlay) passes one to every
    * join, so no frame is tried twice. */
  private[graft] final case class Oversized(names: mutable.Set[String], left: String, right: String) {
    def swap: Oversized = copy(left = right, right = left)

    /** `df`, the frame called `name`, as a broadcast index on `geom`, unless
      * it is known or found to hold more than `cap` rows. */
    def build(df: DataFrame, geom: String, name: String, cap: Long): Option[Broadcast[BroadcastIndex]] =
      if (names(name)) None
      else {
        val index = BroadcastIndex.upTo(df, geom, cap)
        if (index.isEmpty) names += name
        index
      }
  }

  private[graft] object Oversized {
    def none(): Oversized = Oversized(mutable.Set.empty, "left", "right")
  }

  private[graft] def sjoinCore(left: DataFrame, right: DataFrame,
            predicate: String, how: String,
            leftGeom: String, rightGeom: String,
            lsuffix: String = "left", rsuffix: String = "right",
            distance: Double = 0.0, onAttribute: Seq[String] = Nil,
            broadcastThreshold: Long = 2000000L,
            oversized: Oversized = Oversized.none(),
            gridOverride: Option[GridSpec] = None): DataFrame = {
    require(Predicates.contains(predicate), s"predicate must be one of $Predicates")
    require(Seq("inner", "left", "right").contains(how), s"how must be inner/left/right, got $how")

    // geometry name clash: rename right geometry so both survive the join
    val (rightRenamed, rGeomName) =
      if (leftGeom == rightGeom) (right.withColumnRenamed(rightGeom, s"${rightGeom}_$rsuffix"), s"${rightGeom}_$rsuffix")
      else (right, rightGeom)

    val (l2, r2) = applySuffixes(left, rightRenamed, leftGeom, rGeomName, lsuffix, rsuffix)
    val onAttrL = onAttribute.map(a => if (l2.columns.contains(a + s"_$lsuffix")) a + s"_$lsuffix" else a)
    val onAttrR = onAttribute.map(a => if (r2.columns.contains(a + s"_$rsuffix")) a + s"_$rsuffix" else a)

    // The broadcast build, and whether it is the right side. `how` forces
    // the side (the outer side must stream), so a small outer side with a
    // huge inner side takes the grid path instead of collecting the huge
    // side; an inner join tries the right side, then the left. Each try is
    // one bounded collect that stops once the side passes the threshold,
    // so choosing the strategy and collecting the build are the same job.
    def buildOf(l: DataFrame, r: DataFrame, how: String): Option[(Broadcast[BroadcastIndex], Boolean)] = {
      def tryRight = oversized.build(r, rGeomName, oversized.right, broadcastThreshold).map(_ -> true)
      def tryLeft = oversized.build(l, leftGeom, oversized.left, broadcastThreshold).map(_ -> false)
      how match {
        case "left"  => tryRight
        case "right" => tryLeft
        case _       => tryRight.orElse(tryLeft)
      }
    }

    def attrFilter(df: DataFrame): DataFrame =
      onAttrL.zip(onAttrR).foldLeft(df) { case (d, (a, b)) => d.filter(col(a) === col(b)) }

    def join(l: DataFrame, r: DataFrame, how: String): DataFrame = buildOf(l, r, how) match {
      case Some((index, buildRight)) =>
        broadcastJoin(l, r, predicate, how, leftGeom, rGeomName, distance, index, buildRight)
      case None => gridJoin(l, r, predicate, how, leftGeom, rGeomName, distance, gridOverride)
    }

    if (onAttribute.isEmpty || how == "inner") attrFilter(join(l2, r2, how))
    else {
      // outer + on_attribute: the reference filters candidate PAIRS on the
      // attribute equality BEFORE the how adjustment (sjoin.py:574-586, then
      // _adjust_indexers sjoin.py:381-420). Filtering after the outer join
      // would (a) drop unmatched outer rows (their right columns are NULL, so
      // the equality is NULL) and (b) delete spatially-matched-but-attribute-
      // mismatched rows instead of keeping them as unmatched rows with NULLs.
      // So: stamp the outer side, join as inner, filter the pairs, re-attach.
      val outerIsLeft = how == "left"
      val idc = "__graft_oid"
      // ids are evaluated once in the pair plan and again in the re-attach
      // join; pinned only when the upstream is not evaluation-stable
      val (lo, ro) =
        if (outerIsLeft) (Pins.stampPinned(l2, idc), r2)
        else (l2, Pins.stampPinned(r2, idc))
      val outerSide = if (outerIsLeft) lo else ro
      val pairs = attrFilter(join(lo, ro, "inner"))
      val otherCols = pairs.columns.filter(c => !outerSide.columns.contains(c))
      val matches = pairs.select((Seq(col(idc)) ++ otherCols.map(named)): _*)
      val reattached =
        if (outerIsLeft) outerSide.join(matches, Seq(idc), "left")
        else matches.join(outerSide, Seq(idc), "right")
      reattached.drop(idc)
    }
  }

  /** The column of that exact name: `col` would read a dotted name as a
    * field path. */
  private def named(c: String): Column = col("`" + c.replace("`", "``") + "`")

  // -------------------------------------------------------------------------
  // Broadcast strategy
  // -------------------------------------------------------------------------

  /** The stream side probes the build side's index and the build rows
    * follow the stream row; a left build is then moved in front, so the
    * left frame's columns come first on every path. */
  private def broadcastJoin(l2: DataFrame, r2: DataFrame, predicate: String, how: String,
                            leftGeom: String, rightGeom: String, distance: Double,
                            index: Broadcast[BroadcastIndex], buildRight: Boolean): DataFrame = {
    val (stream, streamGeom) = if (buildRight) (l2, leftGeom) else (r2, rightGeom)
    val joined = BroadcastProbe.join(stream, streamGeom, index,
      BroadcastProbe.Predicate(predicate, buildRight, distance), outer = how != "inner")
    if (buildRight) joined
    else joined.select((l2.columns ++ r2.columns).toSeq.map(named): _*)
  }

  // -------------------------------------------------------------------------
  // Grid (partitioned) strategy
  // -------------------------------------------------------------------------

  private[graft] case class GridSpec(xmin: Double, ymin: Double, xmax: Double, ymax: Double, nx: Int, ny: Int) {
    def cellW: Double = if (nx == 0) 0 else math.max((xmax - xmin) / nx, 1e-12)
    def cellH: Double = if (ny == 0) 0 else math.max((ymax - ymin) / ny, 1e-12)
    def cellOf(x: Double, y: Double): Long = {
      val cx = math.min(nx - 1L, math.max(0L, math.floor((x - xmin) / cellW).toLong))
      val cy = math.min(ny - 1L, math.max(0L, math.floor((y - ymin) / cellH).toLong))
      cy * nx + cx
    }
    def cellsFor(exmin: Double, eymin: Double, exmax: Double, eymax: Double): Array[Long] = {
      // inverted envelope = JTS "null envelope" of an EMPTY geometry (whose
      // bounds read (0,0,-1,-1)); `!(a <= b)` also catches NaN bounds from
      // NaN-coordinate geometries. Either way the geometry has no meaningful
      // extent and every predicate this machinery serves is false on it —
      // cover no cells instead of clamping garbage into cell 0 (or crashing
      // on a negative array size when the clamped corners invert).
      if (!(exmin <= exmax) || !(eymin <= eymax)) return Array.emptyLongArray
      val cx0 = math.min(nx - 1L, math.max(0L, math.floor((exmin - xmin) / cellW).toLong)).toInt
      val cx1 = math.min(nx - 1L, math.max(0L, math.floor((exmax - xmin) / cellW).toLong)).toInt
      val cy0 = math.min(ny - 1L, math.max(0L, math.floor((eymin - ymin) / cellH).toLong)).toInt
      val cy1 = math.min(ny - 1L, math.max(0L, math.floor((eymax - ymin) / cellH).toLong)).toInt
      val out = new Array[Long]((cx1 - cx0 + 1) * (cy1 - cy0 + 1))
      var k = 0
      var cy = cy0
      while (cy <= cy1) {
        var cx = cx0
        while (cx <= cx1) { out(k) = cy.toLong * nx + cx; k += 1; cx += 1 }
        cy += 1
      }
      out
    }
  }

  /** Compute joint grid from both sides' stats. Cell size targets
    * ~`targetPerCell` rows per cell of the bigger side while staying above
    * the average bbox size (to bound duplication factor).
    *
    * Stats come from a seeded 2% SAMPLE when the side is large enough (a
    * full min/max/avg pass over a 100 TB side just to SIZE the grid would
    * double the job's IO). Sampling is safe: `cellsFor`/`cellOf` clamp into
    * the grid, so geometries outside the sampled bounds land in edge cells
    * — the bbox-overlap precondition, exact refine and reference-cell dedup
    * all still hold for any grid; only skew can degrade, not correctness. */
  /** One side's sampled extent/count/avg-bbox-edge stats — the input the
    * grid sizing needs. Exposed so a multi-round caller (the unbounded
    * nearest loop) can take the stats jobs ONCE and re-derive per-round
    * grids arithmetically instead of re-sampling every round. */
  private[graft] case class SideStats(x0: Double, y0: Double, x1: Double, y1: Double,
                                      n: Long, avgW: Double, avgH: Double)

  private[graft] def sideStats(df: DataFrame, g: Column): SideStats = {
    val SampleFraction = 0.02
    val MinSampledRows = 2000L
    def fullStats(d: DataFrame): SideStats = {
      val b = graft.functions.GeoFunctions.st_bounds(g)
      val row = d.select(b.as("b")).filter(col("b").isNotNull)
        .agg(min("b.xmin"), min("b.ymin"), max("b.xmax"), max("b.ymax"), count(lit(1)),
          avg(col("b.xmax") - col("b.xmin")), avg(col("b.ymax") - col("b.ymin"))).head()
      if (row.isNullAt(0)) SideStats(0, 0, 0, 0, 0L, 0, 0)
      else SideStats(row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3),
        row.getLong(4), row.getDouble(5), row.getDouble(6))
    }
    val s = fullStats(df.sample(withReplacement = false, SampleFraction, seed = 42L))
    if (s.n < MinSampledRows) fullStats(df) // small side: exact stats, still one cheap pass
    else s.copy(n = (s.n / SampleFraction).toLong)
  }

  private[graft] def specFrom(ls: SideStats, rs: SideStats, expand: Double): GridSpec = {
    val (lx0, ly0, lx1, ly1, ln, lw, lh) = (ls.x0, ls.y0, ls.x1, ls.y1, ls.n, ls.avgW, ls.avgH)
    val (rx0, ry0, rx1, ry1, rn, rw, rh) = (rs.x0, rs.y0, rs.x1, rs.y1, rs.n, rs.avgW, rs.avgH)
    val xmin = math.min(lx0, rx0) - expand
    val ymin = math.min(ly0, ry0) - expand
    val xmax = math.max(lx1, rx1) + expand
    val ymax = math.max(ly1, ry1) + expand
    val n = math.max(ln, rn)
    val targetPerCell = 512.0
    var cells = math.max(1L, (n / targetPerCell).toLong)
    var nx = math.max(1, math.sqrt(cells.toDouble).toInt)
    // keep cells no smaller than ~2× the average bbox edge, bounding the
    // duplication factor to ~2-3 copies per geometry
    val avgW = math.max(lw, rw) * 2
    val avgH = math.max(lh, rh) * 2
    val w = math.max(xmax - xmin, 1e-9)
    val h = math.max(ymax - ymin, 1e-9)
    var gx = nx
    var gy = nx
    if (avgW > 0) gx = math.min(gx, math.max(1, (w / avgW).toInt))
    if (avgH > 0) gy = math.min(gy, math.max(1, (h / avgH).toInt))
    GridSpec(xmin, ymin, xmax, ymax, math.max(1, gx), math.max(1, gy))
  }

  private[graft] def computeGrid(l: DataFrame, lGeom: Column, r: DataFrame, rGeom: Column,
                                 expand: Double): GridSpec =
    specFrom(sideStats(l, lGeom), sideStats(r, rGeom), expand)

  private def gridJoin(l2: DataFrame, r2: DataFrame, predicate: String, how: String,
                       leftGeom: String, rightGeom: String, distance: Double,
                       gridOverride: Option[GridSpec] = None): DataFrame = {
    import graft.functions.GeoFunctions.st_bounds
    val expand = if (predicate == "dwithin") distance else 0.0
    // repeated grid sjoins over the same frames (a loop of probes, the
    // bench's reps, overlay's multiple passes) share the sampled stats jobs
    // through the same memo the AutoSpatialJoin rule uses — staleness can
    // only degrade cell balance, never correctness (cellsFor/cellOf clamp)
    val grid = gridOverride.getOrElse(GridMemo.getOrCompute((
        l2.queryExecution.analyzed.canonicalized,
        r2.queryExecution.analyzed.canonicalized, leftGeom, rightGeom, expand))(
      computeGrid(l2, col(leftGeom), r2, col(rightGeom), expand)))

    // outer hows re-join the id-stamped side against its own matched pairs;
    // the ids must agree across both evaluations. Pins.stampPinned
    // checkpoints only under unstable upstreams — a 100 TB scan-rooted
    // outer side is NOT materialized. Inner joins never reuse the ids.
    val lw = if (how == "left") Pins.stampPinned(l2, "__graft_lid")
             else l2.withColumn("__graft_lid", monotonically_increasing_id())
    val rw = if (how == "right") Pins.stampPinned(r2, "__graft_rid")
             else r2.withColumn("__graft_rid", monotonically_increasing_id())

    val g = grid
    val cellsU = udf((xmin: Double, ymin: Double, xmax: Double, ymax: Double) =>
      g.cellsFor(xmin, ymin, xmax, ymax))
    val cellOfU = udf((x: Double, y: Double) => g.cellOf(x, y))

    // left bboxes expanded by distance for dwithin (one side only). The
    // bounds column is fenced: unfenced, the null filter and the join's
    // inferred isnotnull filters were pushed below it with the bounds UDF
    // copied in, five more WKB decodes per row
    val lb = Fence(lw.withColumn("__b", st_bounds(col(leftGeom)))).filter(col("__b").isNotNull)
      .withColumn("__bx0", col("__b.xmin") - lit(expand))
      .withColumn("__by0", col("__b.ymin") - lit(expand))
      .withColumn("__bx1", col("__b.xmax") + lit(expand))
      .withColumn("__by1", col("__b.ymax") + lit(expand))
      .withColumn("__cell", explode(cellsU(col("__bx0"), col("__by0"), col("__bx1"), col("__by1"))))
      .drop("__b")
    val rb = Fence(rw.withColumn("__b", st_bounds(col(rightGeom)))).filter(col("__b").isNotNull)
      .withColumn("__rx0", col("__b.xmin")).withColumn("__ry0", col("__b.ymin"))
      .withColumn("__rx1", col("__b.xmax")).withColumn("__ry1", col("__b.ymax"))
      .withColumn("__cell", explode(cellsU(col("__rx0"), col("__ry0"), col("__rx1"), col("__ry1"))))
      .drop("__b")

    val pred = predicate
    val dist = distance
    // refine goes through the per-thread cache: join output within a cell
    // repeats the same geometries across many pairs, so WKB parses and
    // prepared geometries are reused instead of rebuilt per pair (the grid
    // analog of the BroadcastIndex's prepared geometries; also removes
    // contains_properly's per-pair prepare)
    val refineU = udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) false
      else RefineCache.eval(pred, a, b, dist))

    // bbox overlap + reference-cell dedup + exact refine
    val pairs = lb.join(rb, Seq("__cell"))
      .filter(col("__bx0") <= col("__rx1") && col("__rx0") <= col("__bx1") &&
        col("__by0") <= col("__ry1") && col("__ry0") <= col("__by1"))
      .filter(col("__cell") === cellOfU(greatest(col("__bx0"), col("__rx0")), greatest(col("__by0"), col("__ry0"))))
      .filter(refineU(col(leftGeom), col(rightGeom)))
      .drop("__cell", "__bx0", "__by0", "__bx1", "__by1", "__rx0", "__ry0", "__rx1", "__ry1")

    how match {
      case "inner" => pairs.drop("__graft_lid", "__graft_rid")
      case "left" =>
        val rightCols = pairs.columns.filter(c => !lw.columns.contains(c))
        val matches = pairs.select((Seq(col("__graft_lid")) ++ rightCols.map(named)): _*)
        lw.join(matches, Seq("__graft_lid"), "left").drop("__graft_lid", "__graft_rid")
      case "right" =>
        val leftCols = pairs.columns.filter(c => !rw.columns.contains(c))
        val matches = pairs.select((Seq(col("__graft_rid")) ++ leftCols.map(named)): _*)
        matches.join(rw, Seq("__graft_rid"), "right").drop("__graft_lid", "__graft_rid")
    }
  }
}

/** Session-wide bounded memo of [[SpatialJoin.GridSpec]]s, shared by the
  * explicit grid `sjoin` and the `AutoSpatialJoin` optimizer rule so the two
  * sampled stats jobs that size a grid run once per distinct
  * (canonicalized inputs, geometry exprs, expand) — not once per call, per
  * `.explain()`, or per re-executed DataFrame. A stale entry (files
  * rewritten under the same path within one JVM) only degrades cell
  * balance: `cellsFor`/`cellOf` clamp into any grid, the bbox prefilter and
  * exact refine hold for any cell assignment. */
private[graft] object GridMemo {
  private val MaxEntries = 64
  /** Grid-stats builds (memo misses) — observability for specs/tuning. */
  private[graft] val statsBuilds = new java.util.concurrent.atomic.AtomicLong(0)
  private val cache =
    new java.util.LinkedHashMap[Any, SpatialJoin.GridSpec](MaxEntries * 2, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Any, SpatialJoin.GridSpec]): Boolean =
        size() > MaxEntries
    }
  def getOrCompute(key: Any)(build: => SpatialJoin.GridSpec): SpatialJoin.GridSpec = {
    val hit = cache.synchronized(Option(cache.get(key)))
    hit.getOrElse {
      statsBuilds.incrementAndGet()
      val g = build
      cache.synchronized(cache.put(key, g))
      g
    }
  }
  private[graft] def clear(): Unit = cache.synchronized(cache.clear())
}

/** Per-THREAD bounded cache of parsed (and lazily prepared) geometries for
  * the grid join's pair refine. Join output is grouped by cell, so the same
  * geometry WKB recurs across consecutive pairs; caching by content saves
  * the re-parse and lets every supported predicate run on a JTS
  * PreparedGeometry (the reference gets the same effect from prepared
  * geometries inside `shapely.STRtree.query`, `sindex.py:129-130`).
  * ThreadLocal keeps the hot path contention-free across the 32 task
  * threads; LRU-bounded so a long scan cannot accumulate geometries. */
private[graft] object RefineCache {
  final class Entry(val geom: Geometry) {
    private var prep: PreparedGeometry = _
    def prepared: PreparedGeometry = {
      if (prep == null) prep = PreparedGeometryFactory.prepare(geom)
      prep
    }
  }
  private val MaxEntries = 256
  private val local = new ThreadLocal[java.util.LinkedHashMap[java.nio.ByteBuffer, Entry]] {
    override def initialValue(): java.util.LinkedHashMap[java.nio.ByteBuffer, Entry] =
      new java.util.LinkedHashMap[java.nio.ByteBuffer, Entry](MaxEntries * 2, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[java.nio.ByteBuffer, Entry]): Boolean =
          size() > MaxEntries
      }
  }
  def entry(wkb: Array[Byte]): Entry = {
    val m = local.get()
    val k = java.nio.ByteBuffer.wrap(wkb) // content-based hashCode/equals, no copy
    var e = m.get(k)
    if (e == null) { e = new Entry(Wkb.read(wkb)); m.put(k, e) }
    e
  }

  /** [[SpatialJoin.evalPredicate]] semantics on cached entries, preferring
    * the prepared geometry of whichever side JTS optimizes the predicate
    * for (left for contains-family, right for the within-family). */
  def eval(pred: String, a: Array[Byte], b: Array[Byte], distance: Double): Boolean = {
    val ea = entry(a)
    val eb = entry(b)
    pred match {
      case "intersects"        => ea.prepared.intersects(eb.geom)
      case "contains"          => ea.prepared.contains(eb.geom)
      case "contains_properly" => ea.prepared.containsProperly(eb.geom)
      case "covers"            => ea.prepared.covers(eb.geom)
      case "within"            => eb.prepared.contains(ea.geom)
      case "covered_by"        => eb.prepared.covers(ea.geom)
      case _                   => SpatialJoin.evalPredicate(pred, ea.geom, eb.geom, distance)
    }
  }
}

package graft.join

import graft.geom.Wkb
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nearest-neighbour join — reference `sjoin_nearest`
  * (`geopandas/tools/sjoin.py:589-741`, tree knn `sindex.py:373-479`).
  * k=1 with ties kept (`return_all`), optional `max_distance` cap and output
  * `distance_col`.
  *
  * Broadcast strategy: expanding-ring STRtree search per stream row against
  * the broadcast build side, collecting equidistant ties
  * (`BroadcastIndex.nearest`). Every strategy puts the distance column
  * last, as GeoPandas appends `distance_col`. Distributed
  * strategy (requires `max_distance`): a dwithin grid join + window
  * `rank() == 1` over distance, which keeps ties exactly like the reference.
  */
object SJoinNearest {

  /** Diagnostic: how many radius-expansion rounds the LAST unbounded
    * distributed nearest (gridNearestAuto) executed on this driver. Driver-
    * side only; `graft.Scale` records it as SCALE.md evidence that the
    * multi-round plan converges in O(1) rounds on clustered data. */
  private[graft] val lastAutoRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Diagnostic: logical-plan node count of the `remaining` frame when the
    * LAST unbounded search exited its loop. The per-round checkpoint
    * (reliable when a checkpoint dir is set, local otherwise) keeps this
    * O(1) in the round count — a growing value would mean round k is
    * re-executing rounds 1..k-1's anti-join chain. */
  private[graft] val lastRemainingPlanNodes = new java.util.concurrent.atomic.AtomicInteger(-1)

  def sjoinNearest(left: DataFrame, right: DataFrame, how: String = "inner",
                   leftGeom: String = "geometry", rightGeom: String = "geometry",
                   lsuffix: String = "left", rsuffix: String = "right",
                   maxDistance: Option[Double] = None, distanceCol: Option[String] = None,
                   exclusive: Boolean = false,
                   broadcastThreshold: Long = 2000000L): DataFrame = {
    require(Seq("inner", "left", "right").contains(how), s"how must be inner/left/right, got $how")
    // how=right mirrors the reference (sjoin.py:528 use_left_as_sindex):
    // nearest LEFT neighbour for each RIGHT row, right geometry kept —
    // exactly the how=left problem with the frames (and suffixes) swapped
    if (how == "right")
      return sjoinNearest(right, left, "left", rightGeom, leftGeom, rsuffix, lsuffix,
        maxDistance, distanceCol, exclusive, broadcastThreshold)
    val (rightRenamed, rGeomName) =
      if (leftGeom == rightGeom) (right.withColumnRenamed(rightGeom, s"${rightGeom}_$rsuffix"), s"${rightGeom}_$rsuffix")
      else (right, rightGeom)
    val (l2, r2) = SpatialJoin.applySuffixes(left, rightRenamed, leftGeom, rGeomName, lsuffix, rsuffix)

    BroadcastIndex.upTo(r2, rGeomName, broadcastThreshold) match {
      case Some(index) => broadcastNearest(l2, index, how, leftGeom, rGeomName, maxDistance, distanceCol, exclusive)
      case None => maxDistance match {
        case Some(md) => gridNearest(l2, r2, how, leftGeom, rGeomName, md, distanceCol, exclusive)
        case None     => gridNearestAuto(l2, r2, how, leftGeom, rGeomName, distanceCol, exclusive)
      }
    }
  }

  /** Distributed nearest without a distance cap: iterative radius doubling.
    * Seed from a SAMPLED nearest-neighbour-distance quantile (driver-side
    * STRtree over small samples of both sides — robust to clustered data,
    * where the uniform sqrt(extent area / n) estimate is off by orders of
    * magnitude), resolve every left row whose nearest lies within the
    * current radius via the bounded grid join, and re-run only the
    * unmatched remainder at 4× the radius. Converges in O(log(span/r0))
    * rounds; each round shuffles only unresolved rows. */
  private def gridNearestAuto(l2: DataFrame, r2: DataFrame, how: String,
                              leftGeom: String, rGeomName: String,
                              distanceCol: Option[String], exclusive: Boolean): DataFrame = {
    import graft.functions.GeoFunctions.st_bounds
    // ONE sampled stats pass per side: seeds the radius schedule AND every
    // round's grid (specFrom is arithmetic), so later rounds run no stats
    // jobs at all — at 100 TB each avoided pass is a full scan-sample job
    val rsStats = SpatialJoin.sideStats(r2, col(rGeomName))
    if (rsStats.n == 0) { // right side has no geometries
      val empty = l2.limit(if (how == "left") Int.MaxValue else 0)
      return distanceCol.map(c => empty.withColumn(c, lit(null).cast("double"))).getOrElse(empty)
    }
    val (x0, y0, x1, y1, n) = (rsStats.x0, rsStats.y0, rsStats.x1, rsStats.y1, rsStats.n)
    val uniformSeed =
      math.max(1e-9, math.sqrt(math.max(1e-18, (x1 - x0) * (y1 - y0)) / math.max(1L, n)) * 2)

    // pinned (not cache(): evicted blocks would recompute and re-randomize
    // ids) when the upstream is unstable; the left-anti remaining loop and
    // the how=left re-attach both reuse these ids
    val lw = Pins.stampPinned(l2, "__graft_auto_lid")
    // rows with no usable geometry can never match; keeping them in the loop
    // would burn every round on them (how=left re-attaches them at the end)
    var remaining = lw.filter(st_bounds(col(leftGeom)).isNotNull)
    // ONE exact pass over the probe side: row count (drives the count-
    // tracked loop), extent (drives the guaranteed-coverage diagonal) and
    // average bbox edges (drive the per-round grids) — previously three
    // separate jobs (count + sampled stats + a full extent scan)
    val lsRow = remaining.select(st_bounds(col(leftGeom)).as("b"))
      .agg(min("b.xmin"), min("b.ymin"), max("b.xmax"), max("b.ymax"), count(lit(1)),
        avg(col("b.xmax") - col("b.xmin")), avg(col("b.ymax") - col("b.ymin"))).head()
    val nLeft = lsRow.getLong(4)
    val lsStats =
      if (nLeft == 0) SpatialJoin.SideStats(0, 0, 0, 0, 0L, 0, 0)
      else SpatialJoin.SideStats(lsRow.getDouble(0), lsRow.getDouble(1), lsRow.getDouble(2),
        lsRow.getDouble(3), nLeft, lsRow.getDouble(5), lsRow.getDouble(6))
    // a MODEST probe side is stored once (memory-and-disk) so the schedule
    // sample, each round's grid join and the anti-join read stored blocks
    // instead of re-evaluating the upstream scan per pass. Gated by the
    // measured count: a corpus-scale probe side streams from its scan —
    // materializing it would be the bigger cost. cache() (not checkpoint)
    // is id-safe here: the stamp's upstream is evaluation-stable, so an
    // evicted block recomputes with identical ids.
    val MaterializeCap = 50000000L
    // every cache taken inside this call is unpersisted before returning
    // (after the result is pinned) — a long-lived session running many
    // sjoin_nearest calls must not accumulate storage blocks until eviction
    val toUnpersist = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // frames this call checkpointed (the stamped probe side when pinned,
    // each round's remainder): released once the result is pinned, since
    // waiting for the ContextCleaner leaves their blocks until a GC runs
    val checkpoints = scala.collection.mutable.ArrayBuffer(lw)
    if (nLeft > 0 && nLeft <= MaterializeCap) {
      remaining = remaining.cache()
      toUnpersist += remaining
    }

    // A radius guaranteed to match every left row: the diagonal of the box
    // spanning the exact left extent and the right extent. The right extent
    // may come from a SAMPLE — still correct: the sampled geometries are
    // real build rows inside that extent, so every left row has a build
    // geometry within this diagonal. The final permitted round uses it, so
    // the unbounded search always returns the true nearest — even for
    // single-point or co-located build sides (span 0) and stream rows far
    // outside the build extent.
    val diag =
      if (nLeft == 0) 1e-9
      else {
        val ux0 = math.min(x0, lsStats.x0); val uy0 = math.min(y0, lsStats.y0)
        val ux1 = math.max(x1, lsStats.x1); val uy1 = math.max(y1, lsStats.y1)
        math.max(1e-9, math.hypot(ux1 - ux0, uy1 - uy0))
      }

    // --- adaptive RADIUS SCHEDULE from sampled NN distances (r17 advice) --
    // The uniform-spacing seed (sqrt(area/n)) misjudges CLUSTERED data by
    // orders of magnitude: on a Zipf layout it makes round 1 a
    // within-cluster cross join (every cluster-mate lands inside the ring).
    // Instead, sample probe geometries, find each one's nearest within a
    // right-side sample on the driver (one STRtree, two small collects),
    // and schedule one round per MASS POINT of the density-corrected
    // NN-distance distribution (quantile ladder, 3x-jump dedup) — a
    // bimodal layout (dense clusters + far strays) then resolves in one
    // round per mode (measured: exactly 2 rounds on the Zipf scale row)
    // instead of walking x4 through empty decades. Past the schedule the
    // x4 growth resumes, and the final permitted round is always the
    // diagonal, so a misestimate costs one extra cheap round, never
    // correctness.
    val schedule: IndexedSeq[Double] = {
      val rightFrac = math.min(1.0, 4096.0 / math.max(1L, n))
      val rs = r2.select(col(rGeomName)).na.drop(Seq(rGeomName))
        .sample(withReplacement = false, rightFrac, 42L).limit(8192)
        .collect().map(_.getAs[Array[Byte]](0))
      val leftFrac = math.min(1.0, 1024.0 / math.max(1L, nLeft))
      val ls = remaining.select(col(leftGeom))
        .sample(withReplacement = false, leftFrac, 43L).limit(2048)
        .collect().map(_.getAs[Array[Byte]](0))
      val dists: Array[Double] =
        if (rs.isEmpty || ls.isEmpty) Array.empty
        else {
          val tree = new org.locationtech.jts.index.strtree.STRtree()
          val rgs = rs.map(Wkb.read)
          rgs.foreach(gm => tree.insert(gm.getEnvelopeInternal, gm))
          tree.build()
          val itemDist = new org.locationtech.jts.index.strtree.GeometryItemDistance()
          ls.flatMap { b =>
            val gm = Wkb.read(b)
            val nn = tree.nearestNeighbour(gm.getEnvelopeInternal, gm, itemDist)
              .asInstanceOf[org.locationtech.jts.geom.Geometry]
            val d0 = gm.distance(nn)
            // exclusive nearest ignores exact-zero hits: a co-located (or
            // self-identical) build row would otherwise seed a radius the
            // exclusive search can never resolve at
            val d =
              if (d0 > 0 || !exclusive) d0
              else rgs.iterator.map(gm.distance).filter(_ > 0)
                .minOption.getOrElse(Double.NaN)
            if (d.isNaN) None else Some(d)
          }.sorted
        }
      if (dists.isEmpty) IndexedSeq(uniformSeed)
      else {
        // density correction (a fraction-f build sample overstates NN
        // distances by ~1/sqrt(f) in 2D) and a within-mode pad so a mode's
        // straggler tail resolves in the same round as its mass. With the
        // FULL build side in the tree (rightFrac = 1) the sampled NN
        // distances are exact, so only the straggler pad remains.
        val corr = if (rightFrac >= 1.0) 1.1 else math.sqrt(rightFrac) * 1.3
        def qAt(p: Double) =
          dists(math.min(dists.length - 1, (dists.length * p).toInt)) * corr
        val qs = Seq(qAt(0.25), qAt(0.5), qAt(0.75), qAt(0.9), qAt(0.975),
          dists.last * corr * 1.5)
        val b = IndexedSeq.newBuilder[Double]
        var cur = math.max(1e-9, qs.head)
        b += cur
        qs.tail.foreach { q =>
          // only schedule a separate round for a quantile that is a real
          // jump — close-by quantiles resolve together in one ring
          if (q > cur * 3) { cur = q; b += cur }
        }
        b.result()
      }
    }

    var radius = schedule.head
    var acc: Option[DataFrame] = None
    var rounds = 0
    var remainingCount = nLeft
    val maxRounds = 12
    // COUNT-TRACKED loop: matched distinct-lid counts (cheap aggregates over
    // the cached round results) replace per-round limit(1) probe jobs, and
    // the final round skips its anti-join + checkpoint entirely once the
    // counts say everything resolved — in the common 2-round case that is
    // one checkpoint, zero probe jobs, and no full-left-extent scan.
    while (rounds < maxRounds && remainingCount > 0) {
      // walk the sampled-quantile schedule, then x4 past its end (residue
      // the sample missed); the last permitted round is always the diagonal
      radius = if (rounds < schedule.length) schedule(rounds) else radius * 4
      val effRadius = if (rounds == maxRounds - 1) diag else radius
      val spec = SpatialJoin.specFrom(lsStats.copy(n = remainingCount), rsStats, effRadius)
      val matched = gridNearest(remaining, r2, "inner", leftGeom, rGeomName, effRadius,
        Some(distanceCol.getOrElse("__graft_dist")), exclusive, Some(spec)).cache()
      toUnpersist += matched
      val matchedIds = matched.select(col("__graft_auto_lid")).distinct()
      val matchedN = matchedIds.count()
      acc = Some(acc.map(_.unionByName(matched, allowMissingColumns = true)).getOrElse(matched))
      rounds += 1
      if (matchedN >= remainingCount) remainingCount = 0
      else {
        remainingCount -= matchedN
        // Checkpointing truncates the lineage each round: without it, round
        // k's actions re-execute rounds 1..k-1's anti-join chain — quadratic
        // re-scan on a distribution that needs many rounds. With a
        // checkpoint dir configured (any real cluster deployment) use the
        // RELIABLE variant: localCheckpoint pins blocks to executors, so
        // losing one to preemption/decommission after round k would fail the
        // job unrecoverably; HDFS-backed checkpoint survives executor loss.
        val anti = remaining.join(matchedIds, Seq("__graft_auto_lid"), "left_anti")
        remaining =
          if (anti.sparkSession.sparkContext.getCheckpointDir.isDefined) anti.checkpoint()
          else anti.localCheckpoint()
        checkpoints += remaining
      }
    }
    lastAutoRounds.set(rounds)
    lastRemainingPlanNodes.set(remaining.queryExecution.logical.collect { case p => p }.size)
    val inner = acc.getOrElse(lw.limit(0))
    val res = how match {
      case "left" =>
        val matchedIds = inner.select(col("__graft_auto_lid")).distinct()
        val unmatched = lw.join(matchedIds, Seq("__graft_auto_lid"), "left_anti")
        inner.unionByName(unmatched, allowMissingColumns = true)
      case _ => inner
    }
    val dropped = res.drop("__graft_auto_lid")
    val out = if (distanceCol.isEmpty) dropped.drop("__graft_dist") else dropped
    // pin the result (eager — this op already runs jobs per round, so one
    // materialization is in-kind), then release every intermediate cache:
    // without this, repeated calls in one session accumulate storage blocks
    // until executor memory evicts under pressure
    val pinned =
      if (toUnpersist.isEmpty) out
      else if (out.sparkSession.sparkContext.getCheckpointDir.isDefined) out.checkpoint()
      else out.localCheckpoint()
    toUnpersist.foreach(_.unpersist(blocking = false))
    // the pinned result's lineage is truncated, so nothing reads these now;
    // a frame whose root is not a LogicalRDD was not checkpointed here
    if (toUnpersist.nonEmpty) checkpoints.foreach(_.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    })
    pinned
  }

  private def broadcastNearest(l2: DataFrame, index: Broadcast[BroadcastIndex], how: String,
                               leftGeom: String, rGeomName: String,
                               maxDistance: Option[Double], distanceCol: Option[String],
                               exclusive: Boolean): DataFrame = {
    val nearest = BroadcastProbe.Nearest(maxDistance.getOrElse(Double.PositiveInfinity), exclusive,
      distanceCol.getOrElse("__graft_dist"))
    val res = BroadcastProbe.join(l2, leftGeom, index, nearest, outer = how == "left")
      .drop(rGeomName)
    if (distanceCol.isEmpty) res.drop("__graft_dist") else res
  }

  private def gridNearest(l2: DataFrame, r2: DataFrame, how: String,
                          leftGeom: String, rGeomName: String, maxDistance: Double,
                          distanceCol: Option[String], exclusive: Boolean,
                          gridOverride: Option[SpatialJoin.GridSpec] = None): DataFrame = {
    import graft.functions.GeoFunctions.{st_distance, st_equals}
    val lw = l2.withColumn("__graft_nn_lid", monotonically_increasing_id())
    // dwithin candidate pairs (grid path), then window rank()==1 over
    // distance per left row — rank (not row_number) keeps equidistant ties,
    // matching the reference's return_all (sindex.py:373-479)
    val pairs = SpatialJoin.sjoinCore(lw, r2, predicate = "dwithin", how = how,
      leftGeom = leftGeom, rightGeom = rGeomName, distance = maxDistance,
      broadcastThreshold = -1L, gridOverride = gridOverride) // force grid path
    val dcol = distanceCol.getOrElse("__graft_dist")
    val withDist = pairs.withColumn(dcol, st_distance(col(leftGeom), col(rGeomName)))
    val filtered =
      if (exclusive) withDist.filter(!(col(dcol) === 0.0 && st_equals(col(leftGeom), col(rGeomName))))
      else withDist
    // rank()==1 (not row_number) keeps equidistant ties, matching the
    // reference's return_all (sindex.py:373-479). A min-agg + re-join
    // spelling was measured SLOWER here (re-executing the grid join for
    // the re-join side costs more than the window sort saves).
    val w = Window.partitionBy("__graft_nn_lid").orderBy(col(dcol).asc_nulls_last)
    val ranked = filtered.withColumn("__graft_rank", rank().over(w))
      .filter(col("__graft_rank") === 1 || col(dcol).isNull)
      .drop("__graft_rank", "__graft_nn_lid", rGeomName)
    if (distanceCol.isEmpty) ranked.drop("__graft_dist") else ranked
  }
}

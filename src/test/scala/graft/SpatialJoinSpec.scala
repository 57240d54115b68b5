package graft

import graft.functions.GeoFunctions._
import graft.geom.{GeomOps, Wkb}
import graft.join.{Overlay, SJoinNearest, SpatialJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Join-layer semantics, including the reference's overlay golden fixture:
  * df1 = squares (0,0,2,2),(2,2,4,4); df2 = squares (1,1,3,3),(3,3,5,5)
  * (`tools/overlay.py:224-229`, expectations
  * `tests/data/overlay/polys/df1_df2-*.geojson`). */
class SpatialJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def squares(name: String, boxes: (Double, Double, Double, Double)*): DataFrame =
    boxes.zipWithIndex.map { case ((x0, y0, x1, y1), i) =>
      (i, Wkb.write(GeomOps.makeBox(x0, y0, x1, y1)))
    }.toDF(name, "geometry")

  private def points(ps: (Double, Double)*): DataFrame =
    ps.zipWithIndex.map { case ((x, y), i) => (i, Wkb.write(GeomOps.point(x, y))) }
      .toDF("pid", "geometry")

  test("sjoin inner broadcast: points in polygons") {
    val polys = squares("poly_id", (0, 0, 2, 2), (10, 10, 12, 12))
    val pts = points((1, 1), (11, 11), (5, 5), (1.5, 0.5))
    val j = SpatialJoin.sjoin(pts, polys, "intersects", "inner")
    val rows = j.select("pid", "poly_id").as[(Int, Int)].collect().sorted
    assert(rows.toSeq == Seq((0, 0), (1, 1), (3, 0)))
  }

  test("NULL probe geometries: inner drops, left keeps, on BOTH join paths") {
    // missing geometry is a normal row state (reference isna surface); the
    // join layers must treat it as no-match, never NPE — q10's oracle gate
    // pins the grid/inner case end-to-end, this pins all four combinations
    val polys = squares("poly_id", (0, 0, 2, 2))
    val pts = points((1, 1), (9, 9))
      .unionByName(Seq((7, null.asInstanceOf[Array[Byte]])).toDF("pid", "geometry"))
    for (threshold <- Seq(Long.MaxValue, -1L)) { // broadcast path, grid path
      val inner = SpatialJoin.sjoin(pts, polys, "intersects", "inner",
        broadcastThreshold = threshold)
      assert(inner.select("pid").as[Int].collect().toSeq == Seq(0),
        s"inner @threshold=$threshold")
      val left = SpatialJoin.sjoin(pts, polys, "intersects", "left",
        broadcastThreshold = threshold)
      val rows = left.select("pid", "poly_id").collect()
        .map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).sorted.toSeq
      assert(rows == Seq((0, 0), (1, -1), (7, -1)), s"left @threshold=$threshold")
    }
    // unbounded nearest (distributed auto path): null row can never match;
    // how=left re-attaches it with a null distance
    val nn = SJoinNearest.sjoinNearest(pts, polys, how = "left",
      distanceCol = Some("d"), broadcastThreshold = -1)
    val nnRows = nn.select("pid", "d").collect()
      .map(r => (r.getInt(0), !r.isNullAt(1))).sorted.toSeq
    assert(nnRows == Seq((0, true), (1, true), (7, false)))
  }

  test("unbounded nearest: bimodal clustered layout resolves in one round per mode") {
    // dense cluster at ~unit spacing + strays whose nearest is ~100 away:
    // the sampled-quantile radius SCHEDULE must hit both modes directly
    // (2-3 rounds), not walk x4 through the empty decades between them —
    // and match the broadcast oracle exactly
    val dense = (0 until 200).map(i => (i, (i % 20).toDouble, (i / 20).toDouble))
    val stray = (0 until 40).map(i => (1000 + i, 100.0 + i * 7.0, 200.0))
    val refs = (0 until 100).map(i => (5000 + i, (i % 10) * 2.0, (i / 10) * 2.0)) ++
      Seq((9001, 120.0, 100.0), (9002, 300.0, 100.0))
    def df(rows: Seq[(Int, Double, Double)], id: String) = {
      import graft.functions.GeoFunctions.st_point
      rows.toDF(id, "x", "y").select(col(id), st_point(col("x"), col("y")).as("geometry"))
    }
    val got = SJoinNearest.sjoinNearest(df(dense ++ stray, "pid"), df(refs, "rid"),
        how = "inner", distanceCol = Some("d"), broadcastThreshold = -1)
      .select("pid", "rid", "d").as[(Int, Int, Double)].collect().toSet
    val want = SJoinNearest.sjoinNearest(df(dense ++ stray, "pid"), df(refs, "rid"),
        how = "inner", distanceCol = Some("d"), broadcastThreshold = Long.MaxValue)
      .select("pid", "rid", "d").as[(Int, Int, Double)].collect().toSet
    assert(got == want)
    val rounds = SJoinNearest.lastAutoRounds.get()
    assert(rounds >= 1 && rounds <= 3, s"schedule should hit both modes directly, used $rounds rounds")
  }

  test("sjoin left keeps unmatched with nulls; within flips to contains semantics") {
    val polys = squares("poly_id", (0, 0, 2, 2))
    val pts = points((1, 1), (5, 5))
    val j = SpatialJoin.sjoin(pts, polys, "within", "left")
    assert(j.count() == 2)
    assert(j.filter(col("poly_id").isNull).select("pid").as[Int].collect().toSeq == Seq(1))
  }

  test("sjoin right keeps right geometry") {
    val polys = squares("poly_id", (0, 0, 2, 2), (10, 10, 12, 12), (20, 20, 22, 22))
    val pts = points((1, 1))
    val j = SpatialJoin.sjoin(pts, polys, "intersects", "right")
    assert(j.count() == 3)
    assert(j.columns.contains("geometry"))
    // unmatched right rows have null left columns
    assert(j.filter(col("pid").isNull).count() == 2)
  }

  test("sjoin grid path matches broadcast path") {
    val rng = new scala.util.Random(7)
    val pts = (0 until 500).map(i => (i, Wkb.write(GeomOps.point(rng.nextDouble() * 100, rng.nextDouble() * 100))))
      .toDF("pid", "geometry")
    val polys = (0 until 30).map { i =>
      val x = rng.nextDouble() * 90; val y = rng.nextDouble() * 90
      (i, Wkb.write(GeomOps.makeBox(x, y, x + 10, y + 10)))
    }.toDF("poly_id", "geometry")
    val broadcastPairs = SpatialJoin.sjoin(pts, polys, "intersects", "inner")
      .select("pid", "poly_id").as[(Int, Int)].collect().sorted.toSeq
    val gridPairs = SpatialJoin.sjoin(pts, polys, "intersects", "inner", broadcastThreshold = -1)
      .select("pid", "poly_id").as[(Int, Int)].collect().sorted.toSeq
    assert(broadcastPairs.nonEmpty)
    assert(broadcastPairs == gridPairs)
  }

  test("sjoin dwithin grid matches broadcast") {
    val rng = new scala.util.Random(11)
    val a = (0 until 200).map(i => (i, Wkb.write(GeomOps.point(rng.nextDouble() * 50, rng.nextDouble() * 50))))
      .toDF("aid", "geometry")
    val b = (0 until 200).map(i => (i, Wkb.write(GeomOps.point(rng.nextDouble() * 50, rng.nextDouble() * 50))))
      .toDF("bid", "geometry")
    val bc = SpatialJoin.sjoin(a, b, "dwithin", "inner", distance = 2.0)
      .select("aid", "bid").as[(Int, Int)].collect().sorted.toSeq
    val gr = SpatialJoin.sjoin(a, b, "dwithin", "inner", distance = 2.0, broadcastThreshold = -1)
      .select("aid", "bid").as[(Int, Int)].collect().sorted.toSeq
    assert(bc.nonEmpty && bc == gr)
  }

  test("sjoin_nearest finds nearest with ties and distance col") {
    val pts = points((0, 0), (10, 0))
    val targets = Seq((100, Wkb.write(GeomOps.point(1, 0))), (200, Wkb.write(GeomOps.point(-1, 0))),
      (300, Wkb.write(GeomOps.point(9, 0)))).toDF("tid", "geometry")
    val j = SJoinNearest.sjoinNearest(pts, targets, distanceCol = Some("d"))
    val rows = j.select("pid", "tid", "d").as[(Int, Int, Double)].collect().sortBy(r => (r._1, r._2))
    // point 0 is equidistant (1.0) to targets 100 and 200 — both kept
    assert(rows.toSeq == Seq((0, 100, 1.0), (0, 200, 1.0), (1, 300, 1.0)))
  }

  test("sjoin on_attribute adds equi-filter (ref sjoin.py:574-586)") {
    val polys = Seq((0, "a", Wkb.write(GeomOps.makeBox(0, 0, 10, 10)))).toDF("poly_id", "k", "geometry")
    val pts = Seq((0, "a", Wkb.write(GeomOps.point(1, 1))), (1, "b", Wkb.write(GeomOps.point(2, 2))))
      .toDF("pid", "k", "geometry")
    val j = SpatialJoin.sjoin(pts, polys, "intersects", "inner", onAttribute = Seq("k"))
    assert(j.select("pid").as[Int].collect().toSeq == Seq(0))
  }

  test("sjoin on_attribute how=left keeps attribute-mismatched rows as unmatched (ref sjoin.py:381-420)") {
    // pid 0 matches spatially AND on k; pid 1 matches spatially but NOT on k;
    // pid 2 matches nothing spatially. Reference: pids 1 and 2 both survive
    // with NULL right columns — the attribute filter applies to PAIRS only.
    val polys = Seq((100, "a", Wkb.write(GeomOps.makeBox(0, 0, 10, 10)))).toDF("poly_id", "k", "geometry")
    val pts = Seq((0, "a", Wkb.write(GeomOps.point(1, 1))), (1, "b", Wkb.write(GeomOps.point(2, 2))),
      (2, "a", Wkb.write(GeomOps.point(50, 50)))).toDF("pid", "k", "geometry")
    def run(bt: Long) = SpatialJoin.sjoin(pts, polys, "intersects", "left", onAttribute = Seq("k"),
      broadcastThreshold = bt)
      .select("pid", "poly_id").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).sorted.toSeq
    assert(run(2000000L) == Seq((0, 100), (1, -1), (2, -1)))
    assert(run(-1L) == Seq((0, 100), (1, -1), (2, -1)))
  }

  test("sjoin on_attribute how=right symmetric semantics") {
    val polys = Seq((100, "a", Wkb.write(GeomOps.makeBox(0, 0, 10, 10))),
      (200, "b", Wkb.write(GeomOps.makeBox(0, 0, 10, 10))),
      (300, "a", Wkb.write(GeomOps.makeBox(50, 50, 60, 60)))).toDF("poly_id", "k", "geometry")
    val pts = Seq((0, "a", Wkb.write(GeomOps.point(1, 1)))).toDF("pid", "k", "geometry")
    def run(bt: Long) = SpatialJoin.sjoin(pts, polys, "intersects", "right", onAttribute = Seq("k"),
      broadcastThreshold = bt)
      .select("pid", "poly_id").collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0), r.getInt(1))).sorted.toSeq
    // poly 100 pairs with pid 0 (spatial+attr); poly 200 spatial-only → unmatched;
    // poly 300 attr-only → unmatched
    assert(run(2000000L) == Seq((-1, 200), (-1, 300), (0, 100)))
    assert(run(-1L) == Seq((-1, 200), (-1, 300), (0, 100)))
  }

  test("repeated broadcast sjoins leave no persistent RDD") {
    val polys = squares("poly_id", (0, 0, 2, 2))
    val pts = points((1, 1))
    val sc = spark.sparkContext
    val marker = sc.emptyRDD[Int].id
    for (how <- Seq("inner", "left", "inner", "left"))
      assert(SpatialJoin.sjoin(pts, polys, "intersects", how).count() == 1, how)
    assert(sc.getPersistentRDDs.keys.forall(_ < marker), sc.getPersistentRDDs)
  }

  test("sjoin_nearest how=right: nearest left for each right row, right geometry kept") {
    val pts = points((0, 0), (10, 0))                              // left
    val targets = Seq((100, Wkb.write(GeomOps.point(1, 0))),        // right
      (200, Wkb.write(GeomOps.point(9, 0)))).toDF("tid", "geometry")
    val j = SJoinNearest.sjoinNearest(pts, targets, how = "right", distanceCol = Some("d"))
    val rows = j.select("tid", "pid", "d").as[(Int, Int, Double)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((100, 0, 1.0), (200, 1, 1.0)))
    assert(j.columns.contains("geometry"))
  }

  test("sjoin_nearest stable across runs with non-deterministic upstream repartition") {
    val rng = new scala.util.Random(41)
    val a = (0 until 100).map(i => (i, Wkb.write(GeomOps.point(rng.nextDouble() * 100, rng.nextDouble() * 100))))
      .toDF("aid", "geometry")
    val b = (0 until 30).map(i => (i, Wkb.write(GeomOps.point(rng.nextDouble() * 100, rng.nextDouble() * 100))))
      .toDF("bid", "geometry").repartition(7) // round-robin: non-deterministic row→partition
    val runs = (1 to 5).map { _ =>
      SJoinNearest.sjoinNearest(a, b, distanceCol = Some("d"))
        .select("aid", "bid").as[(Int, Int)].collect().sorted.toSeq
    }
    assert(runs.distinct.size == 1)
  }

  test("sjoin right via grid path matches broadcast right") {
    val rng = new scala.util.Random(23)
    val pts = (0 until 300).map(i => (i, Wkb.write(GeomOps.point(rng.nextDouble() * 100, rng.nextDouble() * 100))))
      .toDF("pid", "geometry")
    val polys = (0 until 20).map { i =>
      val x = rng.nextDouble() * 90; val y = rng.nextDouble() * 90
      (i, Wkb.write(GeomOps.makeBox(x, y, x + 15, y + 15)))
    }.toDF("poly_id", "geometry")
    def pairs(bt: Long) = SpatialJoin.sjoin(pts, polys, "intersects", "right", broadcastThreshold = bt)
      .select("pid", "poly_id").collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(pairs(2000000L) == pairs(-1L))
  }

  test("every predicate: grid path matches broadcast path on mixed geometry") {
    val rng = new scala.util.Random(13)
    def mixed(tag: Int): Seq[(Int, Array[Byte])] = (0 until 120).map { i =>
      val x = rng.nextDouble() * 60; val y = rng.nextDouble() * 60
      val g = (i + tag) % 3 match {
        case 0 => GeomOps.makeBox(x, y, x + 4 + (i % 3), y + 4)
        case 1 => Wkb.readWkt(s"LINESTRING ($x $y, ${x + 8} ${y + 5})")
        case _ => GeomOps.point(x, y)
      }
      (i, Wkb.write(g))
    }
    val l = mixed(0).toDF("lid", "geometry")
    val r = mixed(1).toDF("rid", "geometry")
    for (pred <- Seq("intersects", "contains", "within", "covers", "covered_by",
      "overlaps", "touches", "crosses", "equals", "contains_properly")) {
      def run(bt: Long) = SpatialJoin.sjoin(l, r, pred, "inner", broadcastThreshold = bt)
        .select("lid", "rid").as[(Int, Int)].collect().sorted.toSeq
      assert(run(2000000L) == run(-1L), s"mismatch for predicate $pred")
    }
  }

  test("distributed sjoin_nearest without max_distance matches broadcast") {
    val rng = new scala.util.Random(31)
    val a = (0 until 150).map(i => (i, Wkb.write(GeomOps.point(rng.nextDouble() * 100, rng.nextDouble() * 100))))
      .toDF("aid", "geometry")
    val b = (0 until 40).map(i => (i, Wkb.write(GeomOps.point(rng.nextDouble() * 100, rng.nextDouble() * 100))))
      .toDF("bid", "geometry")
    val bc = SJoinNearest.sjoinNearest(a, b, distanceCol = Some("d"))
      .select("aid", "bid").as[(Int, Int)].collect().sorted.toSeq
    val grid = SJoinNearest.sjoinNearest(a, b, distanceCol = Some("d"), broadcastThreshold = -1)
      .select("aid", "bid").as[(Int, Int)].collect().sorted.toSeq
    assert(bc.size >= 150 && bc == grid)
  }

  test("sjoin left with small left and large-ish right takes the grid path (no huge collect)") {
    // broadcastThreshold=2 with how=left forces the build side to the right
    // (5 rows > threshold) — must fall back to grid, and still be correct
    val polys = squares("poly_id", (0, 0, 2, 2), (10, 10, 12, 12), (20, 20, 22, 22),
      (30, 30, 32, 32), (40, 40, 42, 42))
    val pts = points((1, 1), (99, 99))
    val j = SpatialJoin.sjoin(pts, polys, "intersects", "left", broadcastThreshold = 2)
    val rows = j.select("pid", "poly_id").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).sorted.toSeq
    assert(rows == Seq((0, 0), (1, -1)))
  }

  test("nearest without max_distance reaches far-away and single-point build sides") {
    // single-point build (span 0) and a stream point ~1e6 away: the old
    // span*4 cap silently dropped both cases
    val far = points((0, 0), (1e6, 1e6))
    val single = Seq((7, Wkb.write(GeomOps.point(3, 4)))).toDF("tid", "geometry")
    val j = SJoinNearest.sjoinNearest(far, single, distanceCol = Some("d"))
    val rows = j.select("pid", "tid", "d").as[(Int, Int, Double)].collect().sortBy(_._1)
    assert(rows.length == 2)
    assert(rows(0) == ((0, 7, 5.0)))
    assert(rows(1)._2 == 7 && math.abs(rows(1)._3 - math.hypot(1e6 - 3, 1e6 - 4)) < 1e-3)

    // grid path with co-located build rows (span 0) must also resolve
    val grid = SJoinNearest.sjoinNearest(far, single, distanceCol = Some("d"), broadcastThreshold = -1)
      .select("pid", "tid").as[(Int, Int)].collect().sorted.toSeq
    assert(grid == Seq((0, 7), (1, 7)))
  }

  test("unbounded nearest loop truncates lineage per round (localCheckpoint)") {
    // clustered stream: most points resolve in round 1, one point sits far
    // enough away that the radius must expand — forcing >= 2 rounds
    val near = (0 until 20).map(i => (i, Wkb.write(GeomOps.point(i * 0.1, 0.0))))
    val farPt = Seq((99, Wkb.write(GeomOps.point(5e5, 5e5))))
    val stream = (near ++ farPt).toDF("pid", "geometry")
    val build = Seq((7, Wkb.write(GeomOps.point(1.0, 0.0)))).toDF("tid", "geometry")
    val j = SJoinNearest.sjoinNearest(stream, build, distanceCol = Some("d"),
      broadcastThreshold = -1)
    assert(j.count() == 21)
    assert(SJoinNearest.lastAutoRounds.get() >= 2,
      s"expected a multi-round run, got ${SJoinNearest.lastAutoRounds.get()}")
    // after localCheckpoint the remaining frame is a bare checkpointed scan:
    // node count must be O(1), independent of how many rounds executed
    assert(SJoinNearest.lastRemainingPlanNodes.get() <= 4,
      s"remaining plan grew to ${SJoinNearest.lastRemainingPlanNodes.get()} nodes — lineage not truncated")
  }

  test("unbounded nearest releases its intermediate caches (long-session hygiene)") {
    // repeated sjoin_nearest calls in one session must not accumulate
    // storage blocks: the per-round matched caches and the probe-side cache
    // are unpersisted before returning; only the pinned RESULT (one
    // localCheckpoint per call, released with the DataFrame) may remain
    val sc = spark.sparkContext
    // count only RDDs created by the three calls below: ids above a marker
    // taken now, so other suites' RDDs (and when the ContextCleaner reclaims
    // them) cannot move the count
    val marker = sc.emptyRDD[Int].id
    def cachedNonResult(): Int = sc.getPersistentRDDs.keys.count(_ > marker)
    val before = cachedNonResult()
    val stream = (0 until 50).map(i => (i, Wkb.write(GeomOps.point(i * 0.3, 0.0))))
      .toDF("pid", "geometry")
    val build = Seq((7, Wkb.write(GeomOps.point(1.0, 0.0)))).toDF("tid", "geometry")
    (0 until 3).foreach { _ =>
      val j = SJoinNearest.sjoinNearest(stream, build, distanceCol = Some("d"),
        broadcastThreshold = -1)
      assert(j.count() == 50)
    }
    // growth bounded by the pinned results (one localCheckpoint each; the
    // stamped probe side and per-round remainders are released once the
    // result is pinned) — NOT by 3 x (probe cache + per-round matched
    // caches), which is what leaked before the fix (>= 9 here)
    val after = cachedNonResult()
    assert(after - before <= 6,
      s"persistent RDDs grew $before -> $after: intermediate caches leaked")
  }

  test("unbounded nearest loop uses reliable checkpoint when a dir is configured") {
    // same multi-round workload as above, but through the cluster-safe path:
    // with a checkpoint dir set the loop must use Dataset.checkpoint (blocks
    // survive executor loss) instead of executor-pinned localCheckpoint
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val near = (0 until 20).map(i => (i, Wkb.write(GeomOps.point(i * 0.1, 0.0))))
      val farPt = Seq((99, Wkb.write(GeomOps.point(5e5, 5e5))))
      val stream = (near ++ farPt).toDF("pid", "geometry")
      val build = Seq((7, Wkb.write(GeomOps.point(1.0, 0.0)))).toDF("tid", "geometry")
      val j = SJoinNearest.sjoinNearest(stream, build, distanceCol = Some("d"),
        broadcastThreshold = -1)
      assert(j.count() == 21)
      assert(j.select("tid").distinct().as[Int].collect().toSeq == Seq(7))
      assert(SJoinNearest.lastAutoRounds.get() >= 2)
      assert(SJoinNearest.lastRemainingPlanNodes.get() <= 4,
        "reliable checkpoint must truncate lineage just like the local variant")
    } finally sc.setCheckpointDir(null) // restore the default local-mode path
  }

  test("total_bounds skips empty geometries") {
    val df = Seq(
      (0, Wkb.write(GeomOps.point(5, 6))),
      (1, Wkb.write(Wkb.readWkt("POLYGON EMPTY"))),
      (2, Wkb.write(GeomOps.point(8, 9)))).toDF("id", "geometry")
    val b = df.select(graft.agg.GeoAggregates.st_total_bounds_agg(col("geometry")).as("b"))
      .select("b.xmin", "b.ymin", "b.xmax", "b.ymax").as[(Double, Double, Double, Double)].head()
    assert(b == ((5.0, 6.0, 8.0, 9.0)))
  }

  test("overlay matches reference golden fixture (all 5 hows)") {
    val df1 = squares("df1_data", (0, 0, 2, 2), (2, 2, 4, 4))
    val df2 = squares("df2_data", (1, 1, 3, 3), (3, 3, 5, 5))

    def areas(how: String): Double =
      Overlay.overlay(df1, df2, how).select(sum(st_area(col("geometry")))).as[Double].head()

    // hand-checked against the reference's committed GeoJSON expectations:
    // each square is 4; the three pairwise overlaps are unit squares
    assert(math.abs(areas("intersection") - 3.0) < 1e-9)
    assert(math.abs(areas("difference") - 5.0) < 1e-9)
    assert(math.abs(areas("symmetric_difference") - 10.0) < 1e-9)
    assert(math.abs(areas("union") - 13.0) < 1e-9)
    assert(math.abs(areas("identity") - 8.0) < 1e-9)

    val inter = Overlay.overlay(df1, df2, "intersection")
    val pairs = inter.select("df1_data", "df2_data").as[(Int, Int)].collect().sorted.toSeq
    assert(pairs == Seq((0, 0), (1, 0), (1, 1)))
  }

  test("overlay keep_geom_type drops lower-dimension pieces") {
    // squares touching at a corner: intersection is a point, not a polygon
    val df1 = squares("a", (0, 0, 2, 2))
    val df2 = squares("b", (2, 2, 4, 4))
    assert(Overlay.overlay(df1, df2, "intersection").count() == 0)
  }

  private def geomRows(wkts: (Int, String)*): DataFrame = {
    val reader = new org.locationtech.jts.io.WKTReader()
    wkts.map { case (i, w) => (i, Wkb.write(reader.read(w))) }.toDF("a", "geometry")
  }

  private def typesBy(df: DataFrame, key: String): Seq[(Option[Int], String)] =
    df.select(col(key), st_geometrytype(col("geometry"))).as[(Option[Int], String)].collect().toSeq.sorted

  test("overlay keep_geom_type filters each df1 row by the family of its geometry before make_valid") {
    // row 0 is a polygon collapsed onto a segment that crosses df2's square;
    // row 1 shares only an edge with it. Both are polygon rows, so neither
    // leaves a line. (This engine's make_valid drops collapsed parts, so
    // row 0 is repaired to an empty polygon, not to a line.)
    val df1 = geomRows(0 -> "POLYGON ((0 1, 4 1, 2 1, 0 1))", 1 -> "POLYGON ((-2 0, 1 0, 1 2, -2 2, -2 0))")
    val df2 = squares("b", (1, 0, 3, 3))
    assert(Overlay.overlay(df1, df2, "intersection").count() == 0)
    assert(typesBy(Overlay.overlay(df1, df2, "intersection", keepGeomType = false), "a") ==
      Seq((Some(1), "LineString")))
  }

  test("overlay keep_geom_type over a df1 that mixes families keeps each row's own family") {
    // GeoPandas refuses such a df1 (overlay.py:303-308); here each df1 row
    // keeps the family of its own geometry, whatever the row order
    val df2 = squares("b", (1, 0, 3, 3))
    for (rows <- Seq(Seq(0 -> "LINESTRING (0 1, 4 1)", 1 -> "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
                     Seq(1 -> "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", 0 -> "LINESTRING (0 1, 4 1)"))) {
      val df1 = geomRows(rows: _*)
      for (how <- Seq("intersection", "identity")) {
        val want = if (how == "intersection") Seq((Some(0), "LineString"), (Some(1), "Polygon"))
                   else Seq((Some(0), "LineString"), (Some(0), "MultiLineString"), (Some(1), "Polygon"), (Some(1), "Polygon"))
        assert(typesBy(Overlay.overlay(df1, df2, how), "a") == want, s"$how, rows $rows")
      }
    }
  }

  test("overlay union and symmetric_difference filter df2's rows by df1's family") {
    val df1 = squares("a", (0, 0, 2, 2))
    val df2 = geomRows(0 -> "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))", 1 -> "LINESTRING (10 10, 12 12)")
      .withColumnRenamed("a", "b")
    for (how <- Seq("union", "symmetric_difference")) {
      val kept = typesBy(Overlay.overlay(df1, df2, how), "b")
      val all = typesBy(Overlay.overlay(df1, df2, how, keepGeomType = false), "b")
      assert(all.contains((Some(1), "LineString")), how)
      assert(kept == all.filterNot(_._2 == "LineString"), how)
      assert(kept.map(_._2).forall(_ == "Polygon") && kept.contains((Some(0), "Polygon")), how)
    }
  }

  test("clip by rect: intersect + geometry rewrite, points passthrough") {
    val polys = squares("id", (0, 0, 4, 4), (10, 10, 12, 12))
    val clipped = graft.join.Clip.clipByRect(polys, 1, 1, 3, 3)
    val a = clipped.select(st_area(col("geometry"))).as[Double].collect()
    assert(a.toSeq == Seq(4.0))
  }

  test("clip with keepGeomType keeps each row's own family, whatever row comes first") {
    // the first row touches the mask along its edge, so its clip is a line;
    // the second overlaps it. Each polygon row keeps only polygon parts:
    // the line goes, and the second row's polygon piece stays
    val polys = squares("id", (10, 0, 20, 10), (5, 5, 15, 15)).coalesce(1)
    val clipped = graft.join.Clip.clip(polys, squares("m", (0, 0, 10, 10)), keepGeomType = true)
    val rows = clipped.select(col("id"), st_geometrytype(col("geometry")), st_area(col("geometry")))
      .as[(Int, String, Double)].collect().toSeq
    assert(rows == Seq((1, "Polygon", 25.0)))
    assert(!clipped.columns.contains("__graft_dim"))
  }

  test("clip UDF evaluates once per row: the isNotNull filter must not inline it") {
    // the clip UDF (WKB decode + JTS clip) is referenced by the projection
    // AND the not-null filter; unfenced, PushDownPredicates inlined it into
    // both, so every row paid the decode+clip twice (q40's r22 plan read
    // `Filter isnotnull(UDF(...))` under `Project UDF(...)`). Clip's Fence
    // keeps a SINGLE UDF( occurrence in the executed plan. The input is a
    // parquet scan: over a local relation, ConvertToLocalRelation evaluates
    // the projection and filter on the driver and the executed plan shows
    // one UDF with or without the fence
    val dir = java.nio.file.Files.createTempDirectory("clip_once").toString
    squares("id", (0, 0, 4, 4), (10, 10, 12, 12)).write.mode("overwrite").parquet(dir)
    val clipped = graft.join.Clip.clipByRect(spark.read.parquet(dir), 1, 1, 3, 3)
    val plan = clipped.queryExecution.executedPlan.toString
    val n = "UDF\\(".r.findAllIn(plan).length
    assert(n == 1, s"expected exactly one clip-UDF evaluation in the plan, got $n:\n$plan")
    assert(clipped.select(st_area(col("geometry"))).as[Double].collect().toSeq == Seq(4.0))
  }

  test("AQE splits a skewed grid-join cell and the join stays correct") {
    // one grid cell holds ~98% of the points (a city-block hot spot) — the
    // shape that melts a static partitioning at 100 TB. With skew-join on
    // and test-sized thresholds, AQE must split the hot shuffle partition.
    val keys = Seq(
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "128k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
      // force the shuffle join: at test scale Catalyst would broadcast the
      // tiny poly side and there would be no shuffle partition to split
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pts = ((0 until 20000).map(i => (i, 5.0 + (i % 100) * 1e-4, 5.0 + (i / 100) * 1e-4)) ++
        (0 until 500).map(i => (20000 + i, (i % 50) * 2.0, (i / 50) * 2.0)))
        .toDF("pid", "x", "y")
        .withColumn("geometry", st_point(col("x"), col("y")))
        .drop("x", "y")
      val polys = squares("poly_id", (0, 0, 10, 10), (40, 40, 60, 60))
      val j = SpatialJoin.sjoin(pts, polys, "intersects", "inner", broadcastThreshold = -1)
      // hot block: all 20000; cold grid inside (0,0,10,10): x,y ∈ {0..10 even} → 6×6
      assert(j.collect().length == 20036) // executes THIS plan → AQE finalizes
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the hot cell's join as skewed:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("clip mask over the row cap raises instead of collecting to the driver") {
    val polys = squares("id", (0, 0, 4, 4))
    val bigMask = squares("id", (0 to 9).map(i => (i.toDouble, 0.0, i + 1.0, 1.0)): _*)
    val err = intercept[IllegalArgumentException](
      graft.join.Clip.clip(polys, bigMask, maxMaskRows = 5).count())
    assert(err.getMessage.contains("mask exceeds"))
    // at/under the cap still works
    assert(graft.join.Clip.clip(polys, bigMask, maxMaskRows = 10).count() == 1)
  }

  test("sjoin_nearest: broadcast, bounded grid and unbounded grid agree on columns and rows, distance last") {
    // pid 1 sits halfway between tid 0 and tid 1 (a tie); tid 2 is nobody's nearest
    val pts = Seq((0, "p0", Wkb.write(GeomOps.point(0, 0))), (1, "p1", Wkb.write(GeomOps.point(5, 0))),
      (2, "p2", Wkb.write(GeomOps.point(11, 1)))).toDF("pid", "a", "geometry")
    val targets = Seq((0, "t0", Wkb.write(GeomOps.point(1, 0))), (1, "t1", Wkb.write(GeomOps.point(9, 0))),
      (2, "t2", Wkb.write(GeomOps.point(40, 40)))).toDF("tid", "name", "geometry")
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }.mkString("|")).sorted.toSeq
    for (how <- Seq("inner", "left", "right")) {
      def run(threshold: Long, maxDistance: Option[Double]) = SJoinNearest.sjoinNearest(pts, targets, how,
        maxDistance = maxDistance, distanceCol = Some("d"), broadcastThreshold = threshold)
      val broadcast = run(2000000L, None)
      val bounded = run(-1L, Some(100.0))
      val unbounded = run(-1L, None)
      assert(broadcast.columns.last == "d", s"$how: ${broadcast.columns.toSeq}")
      for ((name, df) <- Seq("bounded grid" -> bounded, "unbounded grid" -> unbounded)) {
        assert(df.columns.toSeq == broadcast.columns.toSeq, s"$how, $name")
        assert(rows(df) == rows(broadcast), s"$how, $name")
      }
      val want = if (how == "right") 3L else 4L
      assert(broadcast.count() == want, how)
    }
  }
}

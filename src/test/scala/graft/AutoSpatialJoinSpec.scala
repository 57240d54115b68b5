package graft

import graft.functions.GeoFunctions._
import graft.geom.{GeomOps, Wkb}
import graft.join.SpatialJoin
import graft.plans.AutoSpatialJoin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import org.scalatest.funsuite.AnyFunSuite

/** The AutoSpatialJoin rewrite: a plain predicate join over STORED geometry
  * columns plans as the grid candidate join (no nested loop), and because
  * the refine replays the exact original condition (the matched conjunct
  * through the RefineCache — JTS prepared predicates — the rest raw),
  * results are identical to both the nested-loop semantics (brute-force JTS
  * ground truth) and the explicit `SpatialJoin.sjoin` API, across
  * inner/outer/semi/anti join types. */
class AutoSpatialJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ptsDf(n: Int, seed: Int): (DataFrame, Seq[(Int, Geometry)]) = {
    val rng = new scala.util.Random(seed)
    val rows = (0 until n).map(i => (i, GeomOps.point(rng.nextDouble() * 100, rng.nextDouble() * 100)))
    (rows.map { case (i, g) => (i, Wkb.write(g)) }.toDF("pid", "ga"), rows)
  }
  private def boxDf(n: Int, seed: Int): (DataFrame, Seq[(Int, Geometry)]) = {
    val rng = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      val x = rng.nextDouble() * 90; val y = rng.nextDouble() * 90
      (i, GeomOps.makeBox(x, y, x + 10, y + 10))
    }
    (rows.map { case (i, g) => (i, Wkb.write(g)) }.toDF("bid", "gb"), rows)
  }

  private def assertGridPlan(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"predicate join must not plan as a nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian product:\n$plan")
    assert(plan.contains(s"${AutoSpatialJoin.P}_lcell"),
      s"grid rewrite must fire (cell columns present):\n$plan")
    plan
  }

  test("st_intersects predicate join: grid plan, results equal brute force and sjoin") {
    val (pts, ptRows) = ptsDf(400, 7)
    val (boxes, boxRows) = boxDf(25, 8)
    val q = pts.join(boxes, st_intersects(col("ga"), col("gb"))).select("pid", "bid")
    assertGridPlan(q)
    val got = q.as[(Int, Int)].collect().sorted.toSeq
    val brute = for {
      (i, p) <- ptRows; (j, b) <- boxRows if p.intersects(b)
    } yield (i, j)
    assert(got.nonEmpty && got == brute.sorted)
    val viaSjoin = SpatialJoin.sjoin(
        pts.withColumnRenamed("ga", "geometry"),
        boxes.withColumnRenamed("gb", "geometry"), "intersects", "inner")
      .select("pid", "bid").as[(Int, Int)].collect().sorted.toSeq
    assert(got == viaSjoin)
    // stable across re-execution (the rewrite is deterministic)
    assert(q.as[(Int, Int)].collect().sorted.toSeq == got)
  }

  test("st_dwithin and st_distance<=d forms rewrite with bbox expansion") {
    val (a, aRows) = ptsDf(200, 11)
    val b0 = ptsDf(200, 12)
    val (b, bRows) = (b0._1.withColumnRenamed("ga", "gb").withColumnRenamed("pid", "bid"), b0._2)
    val brute = (for {
      (i, p) <- aRows; (j, q) <- bRows if p.isWithinDistance(q, 3.0)
    } yield (i, j)).sorted
    val qd = a.join(b, st_dwithin(col("ga"), col("gb"), lit(3.0))).select("pid", "bid")
    assertGridPlan(qd)
    assert(qd.as[(Int, Int)].collect().sorted.toSeq == brute && brute.nonEmpty)
    val qc = a.join(b, st_distance(col("ga"), col("gb")) <= lit(3.0)).select("pid", "bid")
    assertGridPlan(qc)
    assert(qc.as[(Int, Int)].collect().sorted.toSeq == brute)
    // strict < and the reversed literal-first orientation: still rewritten,
    // but the refine replays the RAW strict conjunct (no cached dwithin —
    // isWithinDistance is <=, not <)
    val qs = a.join(b, lit(3.0) > st_distance(col("ga"), col("gb"))).select("pid", "bid")
    assertGridPlan(qs)
    val bruteStrict = (for {
      (i, p) <- aRows; (j, q) <- bRows if p.distance(q) < 3.0
    } yield (i, j)).sorted
    assert(qs.as[(Int, Int)].collect().sorted.toSeq == bruteStrict)
  }

  test("st_contains with right-side geometry as first operand (swapped sides)") {
    val (pts, ptRows) = ptsDf(300, 21)
    val (boxes, boxRows) = boxDf(20, 22)
    val q = pts.join(boxes, st_contains(col("gb"), col("ga"))).select("pid", "bid")
    assertGridPlan(q)
    val brute = (for {
      (i, p) <- ptRows; (j, b) <- boxRows if b.contains(p)
    } yield (i, j)).sorted
    assert(q.as[(Int, Int)].collect().sorted.toSeq == brute && brute.nonEmpty)
  }

  test("every bbox-implied predicate rewrites: touches/crosses/overlaps/covers/covered_by") {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    // lattice boxes: neighbours share edges (touches), big cells cover the
    // small boxes planted inside them, random segments cross cells, and
    // shifted boxes overlap partially — every predicate has true pairs
    val cellRows = (0 until 16).map { k =>
      val x = (k % 4) * 10.0; val y = (k / 4) * 10.0
      (k, GeomOps.makeBox(x, y, x + 10, y + 10))
    }
    val rng = new scala.util.Random(33)
    val probeRows: Seq[(Int, Geometry)] =
      // small boxes inside / straddling cells
      (0 until 30).map { i =>
        val x = rng.nextDouble() * 35; val y = rng.nextDouble() * 35
        (i, GeomOps.makeBox(x, y, x + 4, y + 4): Geometry)
      } ++
      // segments spanning several cells (crosses)
      (30 until 50).map { i =>
        val x = rng.nextDouble() * 30; val y = rng.nextDouble() * 30
        (i, gf.createLineString(Array(
          new org.locationtech.jts.geom.Coordinate(x, y),
          new org.locationtech.jts.geom.Coordinate(x + 15, y + 9))): Geometry)
      } ++
      // lattice-aligned boxes that exactly TOUCH cell edges, and one
      // full-cell copy (covered_by a cell, overlaps nothing)
      (50 until 58).map { i =>
        val x = ((i - 50) % 3) * 10.0; val y = ((i - 50) / 3) * 10.0
        (i, GeomOps.makeBox(x + 10, y, x + 14, y + 4): Geometry)
      } :+ ((58, GeomOps.makeBox(10, 10, 20, 20): Geometry))
    val probes = (probeRows.map { case (i, g) => (i, Wkb.write(g)) } ++
      Seq((900, null.asInstanceOf[Array[Byte]]), (901, Wkb.write(gf.createPolygon()))))
      .toDF("pid", "ga")
    val cells = cellRows.map { case (i, g) => (i, Wkb.write(g)) }.toDF("bid", "gb")
    val bruteRows = probeRows ++ Seq((901, gf.createPolygon(): Geometry))
    val preds: Seq[(String, (Column, Column) => Column, (Geometry, Geometry) => Boolean)] = Seq(
      ("touches", st_touches, (a, b) => a.touches(b)),
      ("crosses", st_crosses, (a, b) => a.crosses(b)),
      ("overlaps", st_overlaps, (a, b) => a.overlaps(b)),
      ("covers", st_covers, (a, b) => a.covers(b)),
      ("covered_by", st_covered_by, (a, b) => a.coveredBy(b)))
    for ((name, f, jts) <- preds) {
      val q = probes.join(cells, f(col("ga"), col("gb"))).select("pid", "bid")
      assertGridPlan(q)
      val brute = (for {
        (i, p) <- bruteRows; (j, b) <- cellRows if jts(p, b)
      } yield (i, j)).sorted
      // covers of a cell over probes: plenty; also assert each predicate is
      // non-vacuous so the parity actually tests something
      assert(brute.nonEmpty, s"fixture must produce $name pairs")
      assert(q.as[(Int, Int)].collect().sorted.toSeq == brute, s"parity for $name")
    }
  }

  test("extra conjuncts ride along; NULL and EMPTY geometries drop like the naive plan") {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val rng = new scala.util.Random(31)
    val ptRows = (0 until 150).map(i => (i, GeomOps.point(rng.nextDouble() * 50, rng.nextDouble() * 50)))
    val pts = (ptRows.map { case (i, g) => (i, Wkb.write(g)) } ++
      Seq((900, null.asInstanceOf[Array[Byte]]), (901, Wkb.write(gf.createPolygon()))))
      .toDF("pid", "ga")
    val (boxes, boxRows) = boxDf(12, 32)
    val q = pts.join(boxes,
        st_intersects(col("ga"), col("gb")) && col("pid") % 2 === col("bid") % 2)
      .select("pid", "bid")
    assertGridPlan(q)
    val brute = (for {
      (i, p) <- ptRows; (j, b) <- boxRows if p.intersects(b) && i % 2 == j % 2
    } yield (i, j)).sorted
    assert(q.as[(Int, Int)].collect().sorted.toSeq == brute && brute.nonEmpty)
  }

  test("two spatial conjuncts: the first drives the grid, the second is refine-replayed") {
    val (pts, ptRows) = ptsDf(250, 61)
    val (boxes, boxRows) = boxDf(20, 62)
    val q = pts.join(boxes,
        st_intersects(col("ga"), col("gb")) && st_dwithin(col("ga"), col("gb"), lit(100.0)) === lit(true)
          && st_distance(col("ga"), col("gb")) <= lit(4.0))
      .select("pid", "bid")
    assertGridPlan(q)
    val brute = (for {
      (i, p) <- ptRows; (j, b) <- boxRows
      if p.intersects(b) && p.isWithinDistance(b, 100.0) && p.distance(b) <= 4.0
    } yield (i, j)).sorted
    assert(q.as[(Int, Int)].collect().sorted.toSeq == brute && brute.nonEmpty)
  }

  test("SQL spelling: JOIN ON st_intersects over stored WKB plans as the grid join") {
    val (pts, ptRows) = ptsDf(250, 41)
    val (boxes, boxRows) = boxDf(15, 42)
    pts.createOrReplaceTempView("asj_pts")
    boxes.createOrReplaceTempView("asj_boxes")
    val q = spark.sql(
      "SELECT p.pid, b.bid FROM asj_pts p JOIN asj_boxes b ON st_intersects(p.ga, b.gb)")
    assertGridPlan(q)
    val brute = (for {
      (i, p) <- ptRows; (j, b) <- boxRows if p.intersects(b)
    } yield (i, j)).sorted
    assert(q.as[(Int, Int)].collect().sorted.toSeq == brute && brute.nonEmpty)
  }

  test("LEFT OUTER predicate join rewrites: null-extension, NULL/EMPTY outer rows survive") {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val (pts0, ptRows) = ptsDf(200, 71)
    // NULL and EMPTY left geometries: predicate never true → must come back
    // null-extended, exactly like the naive outer nested loop
    val pts = pts0.unionByName(
      Seq((900, null.asInstanceOf[Array[Byte]]), (901, Wkb.write(gf.createPolygon())))
        .toDF("pid", "ga"))
    val (boxes, boxRows) = boxDf(8, 72)
    val q = pts.join(boxes, st_intersects(col("ga"), col("gb")), "left").select("pid", "bid")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"left outer predicate join must rewrite (round-14 verdict #2):\n$plan")
    assert(plan.contains(s"${AutoSpatialJoin.P}_lcell"), s"grid rewrite must fire:\n$plan")
    val got = q.as[(Int, Option[Int])].collect().sorted.toSeq
    val inner = ptRows.map { case (i, p) =>
      i -> boxRows.collect { case (j, b) if p.intersects(b) => j } }.toMap
    val brute = (ptRows.flatMap { case (i, _) =>
      val m = inner(i); if (m.isEmpty) Seq((i, None)) else m.map(j => (i, Some(j)))
    } ++ Seq((900, None), (901, None))).sorted
    assert(got == brute && brute.exists(_._2.isDefined) && brute.exists(_._2.isEmpty))
    // parity with the explicit API
    val viaSjoin = SpatialJoin.sjoin(
        pts.withColumnRenamed("ga", "geometry"),
        boxes.withColumnRenamed("gb", "geometry"), "intersects", "left")
      .select("pid", "bid").as[(Int, Option[Int])].collect().sorted.toSeq
    assert(got == viaSjoin)
  }

  test("RIGHT OUTER predicate join rewrites symmetrically") {
    val (pts, ptRows) = ptsDf(150, 81)
    // boxes far outside the point domain never match → null-extended
    val boxRows = (0 until 10).map { k =>
      (k, GeomOps.makeBox(k * 12.0, 0, k * 12.0 + 10, 10))
    } :+ ((90, GeomOps.makeBox(500, 500, 510, 510)))
    val boxes = boxRows.map { case (i, g) => (i, Wkb.write(g)) }.toDF("bid", "gb")
    val q = pts.join(boxes, st_intersects(col("ga"), col("gb")), "right").select("pid", "bid")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      plan.contains(s"${AutoSpatialJoin.P}_lcell"), s"right outer must rewrite:\n$plan")
    val matched = boxRows.map { case (j, b) =>
      j -> ptRows.collect { case (i, p) if p.intersects(b) => i } }.toMap
    val brute = boxRows.flatMap { case (j, _) =>
      val m = matched(j); if (m.isEmpty) Seq((Option.empty[Int], j)) else m.map(i => (Some(i), j))
    }.sorted
    assert(q.as[(Option[Int], Int)].collect().sorted.toSeq == brute)
    assert(brute.exists(_._1.isEmpty), "fixture must exercise null-extension")
  }

  test("LEFT SEMI and LEFT ANTI predicate joins rewrite (the EXISTS spelling)") {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val (pts0, ptRows) = ptsDf(180, 91)
    val pts = pts0.unionByName(
      Seq((900, null.asInstanceOf[Array[Byte]])).toDF("pid", "ga"))
    val (boxes, boxRows) = boxDf(6, 92)
    val hasMatch = ptRows.collect {
      case (i, p) if boxRows.exists { case (_, b) => p.intersects(b) } => i }.sorted
    val semi = pts.join(boxes, st_intersects(col("ga"), col("gb")), "left_semi").select("pid")
    val semiPlan = semi.queryExecution.executedPlan.toString
    assert(!semiPlan.contains("BroadcastNestedLoopJoin") &&
      semiPlan.contains(s"${AutoSpatialJoin.P}_lcell"), s"semi must rewrite:\n$semiPlan")
    assert(semi.as[Int].collect().sorted.toSeq == hasMatch && hasMatch.nonEmpty)
    // anti: complement, and the NULL-geometry row is KEPT (condition never true)
    val anti = pts.join(boxes, st_intersects(col("ga"), col("gb")), "left_anti").select("pid")
    val antiPlan = anti.queryExecution.executedPlan.toString
    assert(!antiPlan.contains("BroadcastNestedLoopJoin") &&
      antiPlan.contains(s"${AutoSpatialJoin.P}_lcell"), s"anti must rewrite:\n$antiPlan")
    val expectedAnti = (ptRows.map(_._1).filterNot(hasMatch.contains) :+ 900).sorted
    assert(anti.as[Int].collect().sorted.toSeq == expectedAnti)
    // the WHERE EXISTS spelling reaches the same rewrite after Spark's
    // subquery rewrite turns it into a LeftSemi join
    pts.createOrReplaceTempView("asj_semi_pts")
    boxes.createOrReplaceTempView("asj_semi_boxes")
    val q = spark.sql("SELECT p.pid FROM asj_semi_pts p WHERE EXISTS " +
      "(SELECT 1 FROM asj_semi_boxes b WHERE st_intersects(p.ga, b.gb))")
    val qPlan = q.queryExecution.executedPlan.toString
    assert(!qPlan.contains("BroadcastNestedLoopJoin") &&
      qPlan.contains(s"${AutoSpatialJoin.P}_lcell"), s"EXISTS must rewrite:\n$qPlan")
    assert(q.as[Int].collect().sorted.toSeq == hasMatch)
  }

  test("FULL OUTER predicate join rewrites: both sides null-extend") {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val (pts0, ptRows) = ptsDf(120, 85)
    val pts = pts0.unionByName(
      Seq((900, null.asInstanceOf[Array[Byte]])).toDF("pid", "ga"))
    // one box far outside the domain never matches any point
    val boxRows = (0 until 6).map { k =>
      (k, GeomOps.makeBox(k * 15.0, k * 10.0, k * 15.0 + 12, k * 10.0 + 12))
    } :+ ((77, GeomOps.makeBox(700, 700, 710, 710)))
    val boxes = boxRows.map { case (i, g) => (i, Wkb.write(g)) }.toDF("bid", "gb")
    val q = pts.join(boxes, st_intersects(col("ga"), col("gb")), "full").select("pid", "bid")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      plan.contains(s"${AutoSpatialJoin.P}_lcell"), s"full outer must rewrite:\n$plan")
    val matchedPairs = for {
      (i, p) <- ptRows; (jj, b) <- boxRows if p.intersects(b)
    } yield (Option(i), Option(jj))
    val leftUn = (ptRows.map(_._1) :+ 900)
      .filterNot(i => matchedPairs.exists(_._1.contains(i))).map(i => (Option(i), Option.empty[Int]))
    val rightUn = boxRows.map(_._1)
      .filterNot(jj => matchedPairs.exists(_._2.contains(jj))).map(jj => (Option.empty[Int], Option(jj)))
    val brute = (matchedPairs ++ leftUn ++ rightUn).sorted
    assert(brute.exists(_._1.isEmpty) && brute.exists(_._2.isEmpty) && matchedPairs.nonEmpty,
      "fixture must exercise matched + both unmatched shapes")
    assert(q.as[(Option[Int], Option[Int])].collect().sorted.toSeq == brute)
    // parity with Spark's own nested-loop full outer (rule disabled)
    spark.conf.set(AutoSpatialJoin.EnabledConf, "false")
    try {
      val naive = pts.join(boxes, st_intersects(col("ga"), col("gb")), "full")
        .select("pid", "bid").as[(Option[Int], Option[Int])].collect().sorted.toSeq
      assert(naive == brute)
    } finally spark.conf.unset(AutoSpatialJoin.EnabledConf)
  }

  test("ExistenceJoin (IN/EXISTS inside a disjunction) rewrites with a correct flag") {
    val (pts, ptRows) = ptsDf(160, 87)
    val (boxes, boxRows) = boxDf(6, 88)
    pts.createOrReplaceTempView("asj_ex_pts")
    boxes.createOrReplaceTempView("asj_ex_boxes")
    // EXISTS under OR cannot lower to a plain semi join — Spark plans an
    // ExistenceJoin whose flag feeds the disjunction
    val q = spark.sql(
      "SELECT p.pid FROM asj_ex_pts p WHERE p.pid % 50 = 0 OR EXISTS " +
        "(SELECT 1 FROM asj_ex_boxes b WHERE st_intersects(p.ga, b.gb))")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      plan.contains(s"${AutoSpatialJoin.P}_lcell"), s"existence join must rewrite:\n$plan")
    val expected = ptRows.collect {
      case (i, p) if i % 50 == 0 || boxRows.exists { case (_, b) => p.intersects(b) } => i
    }.sorted
    assert(q.as[Int].collect().sorted.toSeq == expected && expected.nonEmpty)
    assert(expected.exists(_ % 50 != 0), "some rows must qualify via EXISTS alone")
  }

  test("explicit grid sjoin shares the GridSpec memo: repeated calls build stats once") {
    val tmp = java.nio.file.Files.createTempDirectory("sjoin_memo").toString
    ptsDf(150, 97)._1.withColumnRenamed("ga", "geometry")
      .write.mode("overwrite").parquet(s"$tmp/a")
    boxDf(8, 98)._1.withColumnRenamed("gb", "geometry")
      .write.mode("overwrite").parquet(s"$tmp/b")
    def j() = SpatialJoin.sjoin(
      spark.read.parquet(s"$tmp/a"), spark.read.parquet(s"$tmp/b"),
      "intersects", "inner", broadcastThreshold = -1)
    val before = AutoSpatialJoin.gridStatsBuilds.get()
    val n1 = j().count()
    assert(n1 > 0)
    assert(AutoSpatialJoin.gridStatsBuilds.get() - before == 1)
    assert(j().count() == n1) // second sjoin call over the same data: memo hit
    assert(AutoSpatialJoin.gridStatsBuilds.get() - before == 1,
      "a repeated explicit grid sjoin must not re-run the sampled stats jobs")
  }

  test("grid stats are memoized: explain + execute + identical re-build = one stats build") {
    val tmp = java.nio.file.Files.createTempDirectory("asj_memo").toString
    ptsDf(120, 95)._1.write.mode("overwrite").parquet(s"$tmp/a")
    boxDf(10, 96)._1.write.mode("overwrite").parquet(s"$tmp/b")
    def q(): DataFrame = spark.read.parquet(s"$tmp/a")
      .join(spark.read.parquet(s"$tmp/b"), st_intersects(col("ga"), col("gb")))
      .select("pid", "bid")
    val before = AutoSpatialJoin.gridStatsBuilds.get()
    val q1 = q()
    q1.queryExecution.executedPlan // optimization (what .explain pays)
    assert(AutoSpatialJoin.gridStatsBuilds.get() - before == 1,
      "first optimization sizes the grid once")
    val n1 = q1.collect().length // same QueryExecution — no re-optimization
    assert(n1 > 0)
    val q2 = q() // identical query, separately built (fresh exprIds)
    assert(q2.collect().length == n1)
    assert(AutoSpatialJoin.gridStatsBuilds.get() - before == 1,
      "re-optimizing the same (canonicalized) join must hit the GridSpec cache")
    // a DIFFERENT downstream shape (count prunes columns differently, so
    // the join children canonicalize differently) is a new key — one more
    // build, not zero and not one per execution
    assert(q().count() == n1)
    val afterCount = AutoSpatialJoin.gridStatsBuilds.get() - before
    assert(afterCount <= 2, s"count-shaped replan must pay at most one more build, got $afterCount")
  }

  test("guards: conf kill-switch and one-sided/literal conditions stay on Spark's plan") {
    val (pts, _) = ptsDf(50, 51)
    val (boxes, _) = boxDf(5, 52)
    spark.conf.set(AutoSpatialJoin.EnabledConf, "false")
    try {
      val q = pts.join(boxes, st_intersects(col("ga"), col("gb")))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastNestedLoopJoin") && !p.contains(AutoSpatialJoin.P),
        s"disabled rule must leave Spark's plan:\n$p")
    } finally spark.conf.unset(AutoSpatialJoin.EnabledConf)
    val litWkb = Wkb.write(GeomOps.makeBox(0, 0, 50, 50))
    val oneSided = pts.join(boxes, st_intersects(col("ga"), lit(litWkb)))
    val op = oneSided.queryExecution.executedPlan.toString
    assert(!op.contains(s"${AutoSpatialJoin.P}_lcell"),
      s"a literal-geometry condition references one side only — not a spatial join:\n$op")
    assert(oneSided.count() >= 1)
  }
}

package graft

import graft.functions.GeoFunctions._
import graft.functions.expr.GeomKernel
import graft.geom.{GeomOps, Wkb}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference implementations over GeomOps, as Spark UDFs with the null
  * semantics of the engine's functions. GeomSimplify cannot see inside a
  * UDF, so these are the unfused truth the fused paths are compared with. */
object Unfused {
  private def rd(b: Array[Byte]) = Wkb.read(b)
  private def gg[T](f: (org.locationtech.jts.geom.Geometry, org.locationtech.jts.geom.Geometry) => T) =
    (a: Array[Byte], b: Array[Byte]) => if (a == null || b == null) None else Some(f(rd(a), rd(b)))
  val makeBox = udf((x0: Double, y0: Double, x1: Double, y1: Double) => Wkb.write(GeomOps.makeBox(x0, y0, x1, y1)))
  val point = udf((x: Option[Double], y: Option[Double]) => for (xx <- x; yy <- y) yield Wkb.write(GeomOps.point(xx, yy)))
  val intersects = udf(gg(GeomOps.intersects))
  val contains = udf(gg(GeomOps.contains))
  val within = udf(gg(GeomOps.within))
  val disjoint = udf(gg(GeomOps.disjoint))
  val distance = udf(gg(GeomOps.distance))
  val area = udf((b: Array[Byte]) => if (b == null) None else Some(GeomOps.area(rd(b))))
  val envelope = udf((b: Array[Byte]) => if (b == null) null else Wkb.write(GeomOps.envelope(rd(b))))
}

/** The constructed-point algebraic simplification rule: results bit-exact
  * vs the WKB kernel path, null semantics preserved, and the fused plan
  * carries pure arithmetic (no geometry kernel calls). */
class GeomSimplifySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("st_distance(st_point, st_point) fuses to sqrt arithmetic, bit-exact vs the kernel") {
    val df = Seq((0.0, 0.0, 3.0, 4.0), (1.5, -2.25, -7.125, 0.875),
        (1e-300, 0.0, 2e-300, 0.0), (12.3, 45.6, 12.3, 45.6))
      .toDF("ax", "ay", "bx", "by").repartition(2) // block LocalRelation constant-folding
    val q = df.select(st_distance(st_point(col("ax"), col("ay")),
      st_point(col("bx"), col("by"))).as("d"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("HYPOT"), s"distance must fuse to arithmetic:\n$plan")
    assert(!plan.toLowerCase.contains("stdistance") && !plan.toLowerCase.contains("stpoint"),
      s"no WKB construction may survive the rewrite:\n$plan")
    val got = q.as[Double].collect()
    val exp = df.as[(Double, Double, Double, Double)].collect().map { case (ax, ay, bx, by) =>
      GeomKernel.distance(GeomKernel.point(ax, ay), GeomKernel.point(bx, by))
    }
    assert(got.toSeq == exp.toSeq, "fused arithmetic must be bit-exact vs the JTS kernel")
  }

  test("st_x/st_y of a constructed point project the coordinate with point-null semantics") {
    val df = Seq((Some(1.5), Some(2.5)), (None, Some(9.0)), (Some(7.0), None))
      .toDF("x", "y").repartition(2)
    val q = df.select(st_x(st_point(col("x"), col("y"))).as("px"),
      st_y(st_point(col("x"), col("y"))).as("py"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("stpoint"), s"projection must not build WKB:\n$plan")
    // repartition scrambles order — compare as a multiset
    val rows = q.as[(Option[Double], Option[Double])].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    // a NULL in EITHER coordinate nulls the whole point, hence both outputs
    assert(rows == Map((Some(1.5), Some(2.5)) -> 1, (None, None) -> 2))
  }

  test("st_dwithin on constructed points keeps the sqrt (boundary-exact) and fuses") {
    val df = Seq((0.0, 0.0, 3.0, 4.0)).toDF("ax", "ay", "bx", "by").repartition(2)
    def dw(d: Double) = df.select(st_dwithin(st_point(col("ax"), col("ay")),
      st_point(col("bx"), col("by")), lit(d)).as("w"))
    assert(dw(5.0).as[Boolean].head(), "distance exactly d must pass (<=)")
    assert(!dw(4.999999999999999).as[Boolean].head())
    val plan = dw(5.0).queryExecution.executedPlan.toString
    assert(plan.contains("HYPOT") && !plan.toLowerCase.contains("stdwithin"), plan)
  }

  test("st_area(st_envelope(st_makebox)) fuses to arithmetic, bit-exact vs the WKB path") {
    // inverted corners, degenerate axes, negative zero, subnormals — every
    // branch of the Envelope-normalize + toGeometry shape dispatch
    val df = Seq(
      (0.0, 0.0, 3.0, 4.0), (3.0, 4.0, 0.0, 0.0), (10.5, -2.25, 10.5, 7.0),
      (1.0, 2.0, 1.0, 2.0), (-0.0, 1.0, 0.0, 5.0), (1e-300, 0.0, 3e-300, 2e-300),
      (-7.125, 8.5, 2.375, -9.25))
      .toDF("x0", "y0", "x1", "y1").repartition(2)
    val cols = Seq(col("x0"), col("y0"), col("x1"), col("y1"))
    val q = df.select(
      st_area(st_envelope(st_makebox(cols(0), cols(1), cols(2), cols(3)))).as("a_env"),
      st_area(st_makebox(cols(0), cols(1), cols(2), cols(3))).as("a_box"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("stmakebox") && !plan.toLowerCase.contains("stenvelope"),
      s"no WKB box construction may survive the rewrite:\n$plan")
    val got = q.as[(Double, Double)].collect().toSeq.sorted
    val exp = df.as[(Double, Double, Double, Double)].collect().map { case (x0, y0, x1, y1) =>
      val box = GeomKernel.makeBox(x0, y0, x1, y1)
      (GeomKernel.area(GeomKernel.envelope(box)), GeomKernel.area(box))
    }.toSeq.sorted
    assert(got == exp, "fused box area must be bit-exact vs the JTS WKB path")
  }

  test("box-area kernels match JTS exactly on NaN/Inf corners (fallback path)") {
    // NaN corner with a DEGENERATE other axis: JTS envelope drops the NaN and
    // yields a finite line (area 0.0) while the box ring itself sums to NaN —
    // the two kernels must reproduce both answers, not each other's
    val cases = Seq(
      (Double.NaN, 1.0, 5.0, 1.0), (Double.NaN, 1.0, 5.0, 9.0),
      (Double.NaN, Double.NaN, Double.NaN, Double.NaN),
      (Double.NegativeInfinity, 0.0, Double.PositiveInfinity, 2.0),
      (Double.PositiveInfinity, 3.0, Double.PositiveInfinity, 3.0),
      (1e308, 1e308, -1e308, -1e308)) // finite but sum overflows -> fallback
    // NB: a box whose NORMALIZED min corner is NaN throws in JTS itself
    // (LinearRing "closed" check is NaN==NaN -> false) — parity then means
    // the fused kernel throws the same way, not that it returns a number.
    import scala.util.Try
    def cmp(a: Try[Double], b: Try[Double], tag: String): Unit = (a, b) match {
      case (scala.util.Success(x), scala.util.Success(y)) =>
        assert(java.lang.Double.compare(x, y) == 0, s"$tag: $x != $y")
      case (scala.util.Failure(x), scala.util.Failure(y)) =>
        assert(x.getClass == y.getClass, s"$tag: ${x.getClass} != ${y.getClass}")
      case _ => fail(s"$tag: one side threw, the other returned: $a vs $b")
    }
    for ((x0, y0, x1, y1) <- cases) {
      cmp(Try(GeomKernel.boxArea(x0, y0, x1, y1)),
        Try(GeomKernel.area(GeomKernel.makeBox(x0, y0, x1, y1))), s"boxArea($x0,$y0,$x1,$y1)")
      cmp(Try(GeomKernel.envBoxArea(x0, y0, x1, y1)),
        Try(GeomKernel.area(GeomKernel.envelope(GeomKernel.makeBox(x0, y0, x1, y1)))),
        s"envBoxArea($x0,$y0,$x1,$y1)")
    }
  }

  test("fused box area preserves null-coordinate semantics") {
    val df = Seq((Some(1.0), Some(2.0), Some(3.0), Some(4.0)),
      (None, Some(2.0), Some(3.0), Some(4.0)), (Some(1.0), Some(2.0), Some(3.0), None))
      .toDF("x0", "y0", "x1", "y1").repartition(2)
    val q = df.select(st_area(st_envelope(
      st_makebox(col("x0"), col("y0"), col("x1"), col("y1")))).as("a"))
    val rows = q.as[Option[Double]].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(rows == Map(Some(4.0) -> 1, None -> 2),
      "a NULL in any corner must null the fused area, like the unfused chain")
  }

  test("box predicate kernels match JTS on every 3-value box topology (6561 pairs, exhaustive)") {
    // coords from {0,1,2} in raw (possibly inverted) order: full rectangles,
    // vertical/horizontal segments, points, touching edges, shared corners,
    // containment, boundary-only coverage — every topology class JTS's
    // intersects/contains distinguish on axis-aligned boxes
    val vals = Seq(0.0, 1.0, 2.0)
    val boxes = for (a <- vals; b <- vals; c <- vals; d <- vals) yield (a, b, c, d)
    var n = 0
    for ((ax, ay, axx, ayy) <- boxes; (bx, by, bxx, byy) <- boxes) {
      val ga = GeomKernel.makeBox(ax, ay, axx, ayy)
      val gb = GeomKernel.makeBox(bx, by, bxx, byy)
      val jtsInter = GeomKernel.intersects(ga, gb)
      val jtsCont = GeomKernel.contains(ga, gb)
      assert(GeomKernel.boxIntersectsBox(ax, ay, axx, ayy, bx, by, bxx, byy) == jtsInter,
        s"intersects mismatch: A=($ax,$ay,$axx,$ayy) B=($bx,$by,$bxx,$byy)")
      assert(GeomKernel.boxContainsBox(ax, ay, axx, ayy, bx, by, bxx, byy) == jtsCont,
        s"contains mismatch: A=($ax,$ay,$axx,$ayy) B=($bx,$by,$bxx,$byy)")
      n += 1
    }
    assert(n == 6561)
    // non-finite corners route to the JTS fallback (same object, no WKB)
    assert(GeomKernel.boxIntersectsBox(Double.NegativeInfinity, 0, 5, 1, 0, 0, 1, 1) ==
      graft.geom.GeomOps.makeBox(Double.NegativeInfinity, 0, 5, 1)
        .intersects(graft.geom.GeomOps.makeBox(0, 0, 1, 1)))
  }

  test("constructed-box predicates fuse to interval arithmetic with null semantics kept") {
    val df = Seq(
      (0.0, 0.0, 4.0, 4.0, 1.0, 1.0, 3.0, 3.0),   // B inside A
      (0.0, 0.0, 4.0, 4.0, 4.0, 0.0, 8.0, 4.0),   // edge touch
      (0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0),   // disjoint
      (0.0, 0.0, 4.0, 4.0, 0.0, 1.0, 0.0, 2.0))   // B = segment on A's boundary
      .toDF("ax", "ay", "axx", "ayy", "bx", "by", "bxx", "byy").repartition(2)
    def boxA = st_makebox(col("ax"), col("ay"), col("axx"), col("ayy"))
    def boxB = st_makebox(col("bx"), col("by"), col("bxx"), col("byy"))
    val q = df.select(col("ax"), col("bx"),
      st_intersects(boxA, boxB).as("i"), st_contains(boxA, boxB).as("c"),
      st_within(boxB, boxA).as("w"), st_disjoint(boxA, boxB).as("d"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("stmakebox"),
      s"no WKB box construction may survive predicate fusion:\n$plan")
    val rows = q.collect().map(r => (r.getDouble(0), r.getDouble(1)) ->
      (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(rows((0.0, 1.0)) == ((true, true, true, false)))   // inside
    assert(rows((0.0, 4.0)) == ((true, false, false, false))) // touch: intersects only
    assert(rows((0.0, 2.0)) == ((false, false, false, true))) // disjoint
    assert(rows((0.0, 0.0)) == ((true, false, false, false))) // boundary segment: covered, not contained
    // null coordinate nulls the predicate (as the unfused chain does)
    val withNull = Seq((Some(0.0), Some(0.0), Some(4.0), Some(4.0),
        Option.empty[Double], Some(1.0), Some(3.0), Some(3.0)))
      .toDF("ax", "ay", "axx", "ayy", "bx", "by", "bxx", "byy").repartition(2)
    val nv = withNull.select(st_intersects(
        st_makebox(col("ax"), col("ay"), col("axx"), col("ayy")),
        st_makebox(col("bx"), col("by"), col("bxx"), col("byy"))).as("i"))
      .collect()(0)
    assert(nv.isNullAt(0), "null corner must null the fused predicate")
  }

  test("predicate in a FILTER over constructed boxes fuses (and prunes when projected)") {
    // parquet-backed source: a LocalRelation would let Catalyst push the
    // deterministic filter through the repartition and constant-fold the
    // whole plan away before the rule can be observed
    val dir = java.nio.file.Files.createTempDirectory("gsfilter").toString
    Seq((0.0, 0.0, 4.0, 4.0, 2.0, 2.0, 6.0, 6.0), (0.0, 0.0, 1.0, 1.0, 5.0, 5.0, 6.0, 6.0))
      .toDF("ax", "ay", "axx", "ayy", "bx", "by", "bxx", "byy")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .withColumn("box_a", st_makebox(col("ax"), col("ay"), col("axx"), col("ayy")))
      .withColumn("box_b", st_makebox(col("bx"), col("by"), col("bxx"), col("byy")))
    val q = df.filter(st_intersects(col("box_a"), col("box_b"))).select(col("ax"), col("bx"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("stboxintersectsbox"),
      s"filter condition over constructed boxes must fuse:\n$plan")
    assert(!plan.toLowerCase.contains("stmakebox"),
      s"projected-away boxes must be pruned after filter fusion:\n$plan")
    assert(q.collect().map(_.getDouble(0)).toSeq == Seq(0.0), "only the overlapping pair survives")
  }

  test("randomized differential: fused native paths == unfusable UDF paths") {
    val rng = new scala.util.Random(20260814)
    def coord(): Double = rng.nextInt(5) match {
      case 0 => rng.nextInt(9) - 4.0
      case 1 => (rng.nextInt(81) - 40) / 10.0
      case 2 => -0.0
      case 3 => rng.nextDouble() * 1e-300 // subnormal territory
      case _ => rng.nextDouble() * 100 - 50
    }
    val rows = Seq.fill(300)((coord(), coord(), coord(), coord(),
      coord(), coord(), coord(), coord()))
    val df = rows.toDF("ax", "ay", "axx", "ayy", "bx", "by", "bxx", "byy").repartition(3)
      .withColumn("box_a", st_makebox(col("ax"), col("ay"), col("axx"), col("ayy")))
      .withColumn("box_b", st_makebox(col("bx"), col("by"), col("bxx"), col("byy")))
      .withColumn("pa", st_point(col("ax"), col("ay")))
      .withColumn("pb", st_point(col("bx"), col("by")))
      // the rule cannot see inside the Unfused UDFs: the unfused truth
      .withColumn("ubox_a", Unfused.makeBox(col("ax"), col("ay"), col("axx"), col("ayy")))
      .withColumn("ubox_b", Unfused.makeBox(col("bx"), col("by"), col("bxx"), col("byy")))
      .withColumn("upa", Unfused.point(col("ax"), col("ay")))
      .withColumn("upb", Unfused.point(col("bx"), col("by")))
    val q = df.select(col("ax"),
      st_intersects(col("box_a"), col("box_b")).as("i"),
      Unfused.intersects(col("ubox_a"), col("ubox_b")).as("ui"),
      st_contains(col("box_a"), col("box_b")).as("c"),
      Unfused.contains(col("ubox_a"), col("ubox_b")).as("uc"),
      st_within(col("box_a"), col("box_b")).as("w"),
      Unfused.within(col("ubox_a"), col("ubox_b")).as("uw"),
      st_disjoint(col("box_a"), col("box_b")).as("dj"),
      Unfused.disjoint(col("ubox_a"), col("ubox_b")).as("udj"),
      st_intersects(col("box_a"), col("pb")).as("ip"),
      Unfused.intersects(col("ubox_a"), col("upb")).as("uip"),
      st_contains(col("box_a"), col("pb")).as("cp"),
      Unfused.contains(col("ubox_a"), col("upb")).as("ucp"),
      st_area(st_envelope(col("box_a"))).as("ar"),
      Unfused.area(Unfused.envelope(col("ubox_a"))).as("uar"),
      st_distance(col("pa"), col("pb")).as("d"),
      Unfused.distance(col("upa"), col("upb")).as("ud"))
    val plan = q.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("stboxintersectsbox") && plan.contains("stboxcontainsbox")
      && plan.contains("hypot"), s"fusions must fire in the differential plan:\n$plan")
    q.collect().foreach { r =>
      for (off <- Seq(1, 3, 5, 7, 9, 11)) // boolean pairs
        assert(r.getBoolean(off) == r.getBoolean(off + 1),
          s"bool mismatch at col $off for ax=${r.getDouble(0)}: $r")
      assert(java.lang.Double.compare(r.getDouble(13), r.getDouble(14)) == 0,
        s"area mismatch: $r")
      assert(java.lang.Double.compare(r.getDouble(15), r.getDouble(16)) == 0,
        s"distance mismatch: $r")
    }
  }

  test("st_length of a constructed 2-point segment fuses to hypot, bit-exact") {
    val df = Seq((0.0, 0.0, 3.0, 4.0), (1e-300, 0.0, 2e-300, 0.0),
        (-7.125, 8.5, 2.375, -9.25), (5.0, 5.0, 5.0, 5.0))
      .toDF("ax", "ay", "bx", "by").repartition(2)
    val q = df.select(st_length(st_makeline(
      st_point(col("ax"), col("ay")), st_point(col("bx"), col("by")))).as("len"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("HYPOT") && !plan.toLowerCase.contains("stmakeline"),
      s"segment length must fuse to arithmetic:\n$plan")
    val got = q.as[Double].collect().toSeq.sorted
    val exp = df.as[(Double, Double, Double, Double)].collect().map { case (ax, ay, bx, by) =>
      GeomKernel.length(GeomKernel.makeLine(GeomKernel.point(ax, ay), GeomKernel.point(bx, by)))
    }.toSeq.sorted
    assert(got == exp, "fused length must be bit-exact vs the JTS kernel path")
  }

  test("naive expression-join conditions over constructed points fuse to arithmetic") {
    val a = Seq((1L, 0.0, 0.0), (2L, 10.0, 0.0)).toDF("ia", "ax", "ay").repartition(2)
      .withColumn("ga", st_point(col("ax"), col("ay")))
    val b = Seq((10L, 0.0, 3.0), (20L, 50.0, 50.0)).toDF("ib", "bx", "by").repartition(2)
      .withColumn("gb", st_point(col("bx"), col("by")))
    val j = a.join(b, st_dwithin(col("ga"), col("gb"), lit(5.0)))
      .select(col("ia"), col("ib"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("HYPOT") && !plan.toLowerCase.contains("stdwithin"),
      s"the per-pair join predicate must fuse to arithmetic:\n$plan")
    assert(j.as[(Long, Long)].collect().toSet == Set((1L, 10L)),
      "only the pair within distance 5 joins")
  }

  test("nondeterministic constructions are never substituted across projections") {
    // st_point(rand()*10, 0) re-evaluated at each fused site would let a
    // filter pass a row whose projected point disagrees with the tested
    // value — the rule must leave the construction alone (and the plan valid)
    val dir = java.nio.file.Files.createTempDirectory("gsnondet").toString
    Seq(1.0, 2.0, 3.0).toDF("x").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .withColumn("p", st_point(rand(42) * 10, lit(0.0)))
    val q = df.filter(st_intersects(col("p"), st_makebox(lit(-1.0), lit(-1.0),
      lit(11.0), lit(1.0)))).select(col("x"), col("p"))
    val plan = q.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("stpoint"),
      s"nondeterministic construction must not be substituted/fused:\n$plan")
    assert(q.collect().length == 3) // every point lands in the box; plan must bind
  }

  test("bare filter fusion bails when the child project drops the raw coordinates") {
    // a nondeterministic SIBLING column blocks Catalyst's predicate pushdown,
    // so the Filter sits directly over a Project that outputs only (box, r) —
    // the fused condition would reference x0..y1 the child no longer has.
    // The guard must bail (valid plan, correct rows) instead of fusing.
    val dir = java.nio.file.Files.createTempDirectory("gsbail").toString
    Seq((0.0, 0.0, 4.0, 4.0), (7.0, 7.0, 8.0, 8.0))
      .toDF("x0", "y0", "x1", "y1").write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .select(st_makebox(col("x0"), col("y0"), col("x1"), col("y1")).as("box"),
        rand(7).as("r"))
      .filter(st_intersects(col("box"), st_makebox(lit(1.0), lit(1.0), lit(3.0), lit(3.0))))
    val rows = q.collect() // pre-guard this failed attribute binding
    assert(rows.length == 1, "only the first box overlaps (1,1,3,3)")
  }

  test("root-level join fusion preserves the analyzed output schema") {
    // children whose Projects DROP the raw coordinates (select, not
    // withColumn): join-condition fusion must pass the coordinates through
    // AND restore the join's original output, or the ordinal-bound row
    // encoder reads shifted columns on a direct collect()
    val a = Seq((1L, 0.0, 0.0), (2L, 10.0, 0.0)).toDF("ia", "ax", "ay").repartition(2)
      .select(col("ia"), st_point(col("ax"), col("ay")).as("ga"))
    val b = Seq((10L, 0.0, 3.0), (20L, 50.0, 50.0)).toDF("ib", "bx", "by").repartition(2)
      .select(col("ib"), st_point(col("bx"), col("by")).as("gb"))
    val j = a.join(b, st_dwithin(col("ga"), col("gb"), lit(5.0)))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("HYPOT"), s"join condition must still fuse:\n$plan")
    assert(j.columns.toSeq == Seq("ia", "ga", "ib", "gb"))
    val rows = j.collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getLong(0) == 1L && r.getLong(2) == 10L, s"ids shifted: $r")
    assert(GeomKernel.x(r.getAs[Array[Byte]](1)) == 0.0 &&
      GeomKernel.y(r.getAs[Array[Byte]](3)) == 3.0,
      "geometry columns must hold the original (unshifted) points")
  }

  test("st_point/st_makebox coerce integer inputs to double (no kernel CCE)") {
    // foldable integer args previously hit ClassCastException inside
    // ConstantFolding (the native expressions had no input casts)
    val area = spark.range(1)
      .select(st_area(st_makebox(lit(0), lit(0), lit(2), lit(3))).as("a"))
      .as[Double].head()
    assert(area == 6.0)
    val df = Seq((1, 2, 4)).toDF("x", "y", "d").repartition(2)
    val got = df.select(
        st_x(st_point(col("x"), col("y"))).as("px"),
        st_area(st_makebox(col("x"), col("y"), col("d"), col("d"))).as("a"))
      .as[(Double, Double)].head()
    assert(got == ((1.0, 6.0)))
  }

  test("st_total_bounds_agg over constructed points fuses to columnar min/max, bit-exact") {
    import graft.agg.GeoAggregates.st_total_bounds_agg
    val dir = java.nio.file.Files.createTempDirectory("gstb").toString
    // nulls on either coordinate, NaN on one axis, ±0.0, negatives — every
    // branch of the kernel's skip/poison semantics
    Seq[(Integer, Option[Double], Option[Double])](
      (1, Some(3.5), Some(-2.0)), (1, Some(-7.25), Some(4.0)), (1, None, Some(9.0)),
      (1, Some(5.0), None), (2, Some(Double.NaN), Some(1.0)), (2, Some(2.0), Some(3.0)),
      (3, None, None), (4, Some(0.0), Some(-0.0)), (4, Some(-0.0), Some(0.0)),
      // kernel finish() quirks: every x = +Inf conflates with the empty
      // all-NaN result (grp 5), but a +Inf that is not the xmin survives
      // (grp 6) — the fused path must reproduce both
      (5, Some(Double.PositiveInfinity), Some(1.0)),
      (5, Some(Double.PositiveInfinity), Some(7.0)),
      (6, Some(Double.PositiveInfinity), Some(1.0)), (6, Some(2.0), Some(5.0)))
      .toDF("grp", "x", "y").write.mode("overwrite").parquet(dir)
    val src = spark.read.parquet(dir)
    val fused = src.withColumn("g", st_point(col("x"), col("y")))
      .groupBy(col("grp")).agg(st_total_bounds_agg(col("g")).as("tb"))
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("stpoint") && !plan.toLowerCase.contains("totalbounds"),
      s"constructed-point total_bounds must fuse to min/max aggregates:\n$plan")
    // a UDF blocks the rewrite, so this is the unfused kernel truth
    val kernel = src.withColumn("g", Unfused.point(col("x"), col("y")))
      .groupBy(col("grp")).agg(st_total_bounds_agg(col("g")).as("tb"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      val s = r.getStruct(1)
      r.getInt(0) -> (0 to 3).map(i =>
        java.lang.Double.doubleToLongBits(s.getDouble(i))).toSeq
    }.toMap
    val (got, exp) = (rows(fused), rows(kernel))
    assert(got == exp, s"fused bounds must be bit-exact vs the WKB kernel: $got vs $exp")
    // grp 2's NaN point became POINT EMPTY through the WKB round-trip and
    // is SKIPPED (probed JTS WKBReader behavior) — only (2,3) contributes
    val g2 = fused.filter(col("grp") === 2).select("tb.*").collect()(0)
    assert((0 to 3).map(g2.getDouble) == Seq(2.0, 3.0, 2.0, 3.0))
    // grp 3 (all-null) reports the reference's all-nan bounds
    val g3 = fused.filter(col("grp") === 3).select("tb.*").collect()(0)
    assert((0 to 3).forall(i => g3.getDouble(i).isNaN))
    // grp 4: ±0.0 ties take math.min/max signs (min −0.0, max +0.0), not
    // Spark's order-dependent first-seen zero
    val g4 = fused.filter(col("grp") === 4).select("tb.*").collect()(0)
    assert((0 to 3).map(i => java.lang.Double.doubleToLongBits(g4.getDouble(i))) ==
      Seq(java.lang.Double.doubleToLongBits(-0.0), java.lang.Double.doubleToLongBits(-0.0), 0L, 0L))
    // grp 5: all-x-+Inf conflates with the kernel's empty sentinel (its
    // finish() only tests xmin == +Inf) -> all-NaN, fused must agree
    val g5 = fused.filter(col("grp") === 5).select("tb.*").collect()(0)
    assert((0 to 3).forall(i => g5.getDouble(i).isNaN))
    // grp 6: +Inf that is not the xmin survives as the xmax
    val g6 = fused.filter(col("grp") === 6).select("tb.*").collect()(0)
    assert((0 to 3).map(g6.getDouble) ==
      Seq(2.0, 1.0, Double.PositiveInfinity, 5.0))
    // global (ungrouped) shape fuses too; NaN row skipped
    val tb = src.withColumn("g", st_point(col("x"), col("y")))
      .agg(st_total_bounds_agg(col("g")).as("tb")).select("tb.*").collect()(0)
    assert((0 to 3).map(tb.getDouble) ==
      Seq(-7.25, -2.0, Double.PositiveInfinity, 7.0))
  }

  test("WKB columns from storage are never rewritten (rule fires on constructions only)") {
    val df = Seq((0.0, 0.0, 3.0, 4.0)).toDF("ax", "ay", "bx", "by")
      .select(st_point(col("ax"), col("ay")).as("ga"),
        st_point(col("bx"), col("by")).as("gb"))
      .localCheckpoint() // materialize: downstream sees plain binary columns
    val q = df.select(st_distance(col("ga"), col("gb")).as("d"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("stdistance"),
      s"stored geometry must keep the kernel path:\n$plan")
    assert(q.as[Double].head() == 5.0)
  }
}

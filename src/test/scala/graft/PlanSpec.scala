package graft

import graft.functions.GeoFunctions._
import graft.geom.{GeomOps, Wkb}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that matter at 100 TB —
  * pushdown reaching the scan, native expressions inside whole-stage
  * codegen, broadcast joins where expected. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def writeSample(): String = {
    val dir = java.nio.file.Files.createTempDirectory("plan").toString
    (0 until 1000).map(i => (i.toLong, (i % 100).toDouble, (i / 100).toDouble))
      .toDF("id", "x", "y").withColumn("geometry", st_point(col("x"), col("y")))
      .write.mode("overwrite").parquet(s"$dir/pts")
    s"$dir/pts"
  }

  test("every session gets the engine's rules and strategies once, in production order") {
    import graft.plans.{AutoSpatialJoin, BboxFastPath, ConnectedComponents, Fence, GeomSimplify}
    val rules = Seq(BboxFastPath, GeomSimplify, AutoSpatialJoin)
    val strategies = Seq(Fence.PlanFence, ConnectedComponents.PlanConnectedComponents)
    def assertInstalled(s: org.apache.spark.sql.SparkSession): Unit = {
      assert(s.experimental.extraOptimizations == rules)
      assert(s.experimental.extraStrategies == strategies)
    }
    // the shared test session has them from its build, whatever ran before
    assertInstalled(spark)
    GraftSession.install(spark)
    assertInstalled(spark)

    // a session the engine did not build gets them when a node needs them
    val fresh = spark.newSession()
    assert(fresh.experimental.extraOptimizations.isEmpty && fresh.experimental.extraStrategies.isEmpty)
    val fenced = graft.plans.Fence(fresh.range(10).withColumn("sq", col("id") * col("id")))
      .filter(col("sq") > 50).select("id")
    assert(fenced.as[Long].collect().sorted.toSeq == Seq(8L, 9L))
    val pairs = fresh.createDataFrame(Seq((1L, 2L), (2L, 3L), (5L, 6L))).toDF("a", "b")
    val cc = graft.ops.Dedup.connectedComponents(pairs, "a", "b")
    assert(cc.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    assertInstalled(fresh)
  }

  test("column pruning: selecting x only reads x") {
    val path = writeSample()
    val plan = spark.read.parquet(path).select("x")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<x:double>"), plan.linesIterator.take(8).mkString("\n"))
  }

  test("filter pushdown reaches parquet scan") {
    val path = writeSample()
    val plan = spark.read.parquet(path).filter(col("id") > 500).select("id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,500)"), plan)
  }

  test("native geometry predicate stays inside WholeStageCodegen") {
    val path = writeSample()
    val df = spark.read.parquet(path)
      .filter(st_intersects(col("geometry"), lit(Wkb.write(GeomOps.makeBox(0, 0, 50, 5)))))
      .select(st_area(col("geometry")))
    val plan = df.queryExecution.executedPlan.toString
    // "*(1)" prefixes mark operators fused into WholeStageCodegen stage 1
    assert(plan.contains("*(1) Filter"), plan)
    // the filter is a native expression (StIntersects), not a UDF node
    assert(plan.contains("stintersects") || plan.contains("StIntersects"), plan)
    df.collect() // forces janino compile of the generated code — must not fall back
  }

  test("table functions plan inside one whole-stage codegen stage, and its code compiles") {
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val path = writeSample()
    val mask = lit(Wkb.write(GeomOps.makeBox(0, 0, 50, 5)))
    val df = spark.read.parquet(path).select(st_make_valid(col("geometry")).as("v"),
      st_bounds(col("geometry")).as("b"), st_intersection(col("geometry"), mask).as("i"))
    val plan = df.queryExecution.executedPlan
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.size == 1 && stages.head.child.isInstanceOf[ProjectExec], plan)
    CodeGenerator.compile(stages.head.doCodeGen()._2) // throws if the generated code does not compile
    val rows = df.collect()
    assert(rows.length == 1000 && rows.count(r => !Wkb.read(r.getAs[Array[Byte]]("i")).isEmpty) == 306)
  }

  test("BboxFastPath rule: .cx over GeoParquet covering column reaches PushedFilters") {
    import graft.api.GeoDataFrame
    val dir = java.nio.file.Files.createTempDirectory("bboxrule").toString
    val src = GeoDataFrame((0 until 2000).map(i => (i.toLong, (i % 100).toDouble, (i / 100).toDouble))
      .toDF("id", "x", "y").withColumn("geometry", st_point(col("x"), col("y"))).drop("x", "y"))
    graft.io.GeoParquet.write(src, s"$dir/pts", spatialSort = true)
    val back = graft.io.GeoParquet.read(spark, s"$dir/pts")

    // ad-hoc literal intersects filter (what .cx builds) — no readBbox API
    val q = back.cx(10, 2, 30, 8)
    val plan = q.df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("bbox.xmin") || plan.contains("LessThanOrEqual(bbox")),
      s"expected bbox conjuncts in PushedFilters:\n${plan.take(2500)}")
    // results identical to the unaccelerated filter
    val expect = spark.read.parquet(s"$dir/pts")
      .filter(st_intersects(col("geometry"), lit(Wkb.write(GeomOps.makeBox(10, 2, 30, 8)))))
      .select("id").as[Long].collect().sorted.toSeq
    assert(q.df.select("id").as[Long].collect().sorted.toSeq == expect && expect.nonEmpty)

    // contains/within/dwithin literal forms get bounds too, and stay correct
    val boxLit = lit(Wkb.write(GeomOps.makeBox(20, 3, 22, 5)))
    val w = back.df.filter(st_within(col("geometry"), boxLit))
    assert(w.queryExecution.executedPlan.toString.contains("bbox"), "within should gain bbox bounds")
    val wIds = w.select("id").as[Long].collect().sorted.toSeq
    val wExpect = spark.read.parquet(s"$dir/pts")
      .filter(st_within(col("geometry"), boxLit)).select("id").as[Long].collect().sorted.toSeq
    assert(wIds == wExpect && wIds.nonEmpty)
    val dw = back.df.filter(st_dwithin(col("geometry"), lit(Wkb.write(GeomOps.point(50, 5))), lit(3.0)))
    val dwExpect = spark.read.parquet(s"$dir/pts")
      .filter(st_dwithin(col("geometry"), lit(Wkb.write(GeomOps.point(50, 5))), lit(3.0)))
      .select("id").as[Long].collect().sorted.toSeq
    assert(dw.select("id").as[Long].collect().sorted.toSeq == dwExpect && dwExpect.nonEmpty)
  }

  test("BboxFastPath: null bbox with non-null geometry is never dropped") {
    val dir = java.nio.file.Files.createTempDirectory("bboxnull").toString
    // externally-written layout: spec-shaped covering column, but one row's
    // bbox entry is legally null while its geometry is not
    val df = Seq((1L, Wkb.write(GeomOps.point(5, 5)), true), (2L, Wkb.write(GeomOps.point(6, 6)), false))
      .toDF("id", "geometry", "hasb")
      .withColumn("bbox", when(col("hasb"), struct(
        (st_x(col("geometry")) - 0.1).as("xmin"), (st_y(col("geometry")) - 0.1).as("ymin"),
        (st_x(col("geometry")) + 0.1).as("xmax"), (st_y(col("geometry")) + 0.1).as("ymax"))))
      .drop("hasb")
    df.write.parquet(s"$dir/pts")
    val back = spark.read.parquet(s"$dir/pts")
    val got = back.filter(st_intersects(col("geometry"), lit(Wkb.write(GeomOps.makeBox(4, 4, 7, 7)))))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L), s"null-bbox row dropped: got $got")
  }

  test("sjoin broadcast path plans one Generate of the index probe and no join") {
    val pts = (0 until 100).map(i => (i, Wkb.write(GeomOps.point(i % 10, i / 10))))
      .toDF("pid", "geometry")
    val polys = Seq((0, Wkb.write(GeomOps.makeBox(0, 0, 20, 20)))).toDF("poly_id", "geometry")
    for (how <- Seq("inner", "left")) {
      val j = graft.join.SpatialJoin.sjoin(pts, polys, "intersects", how)
      val plan = j.queryExecution.executedPlan
      val generators = plan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g.generator }
      assert(generators.map(_.getClass) == Seq(classOf[graft.join.BroadcastProbe]), s"$how:\n$plan")
      assert(plan.collect { case b: org.apache.spark.sql.execution.joins.BaseJoinExec => b }.isEmpty, s"$how:\n$plan")
      assert(!plan.toString.contains("CartesianProduct"), s"$how:\n$plan")
      assert(plan.toString.contains("broadcast_probe(intersects, 1 build rows"), s"$how:\n$plan")
      assert(j.count() == 100, how)
    }
  }

  test("grid sjoin plans a hash join on the cell key, not a cartesian product") {
    val rng = new scala.util.Random(5)
    val pts = (0 until 200).map(i => (i, Wkb.write(GeomOps.point(rng.nextDouble() * 100, rng.nextDouble() * 100))))
      .toDF("pid", "geometry")
    val polys = (0 until 50).map { i =>
      val x = rng.nextDouble() * 90
      (i, Wkb.write(GeomOps.makeBox(x, x, x + 5, x + 5)))
    }.toDF("poly_id", "geometry")
    val j = graft.join.SpatialJoin.sjoin(pts, polys, "intersects", "inner", broadcastThreshold = -1)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("__cell"), plan)
  }
}

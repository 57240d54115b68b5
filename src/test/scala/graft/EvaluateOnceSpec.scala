package graft

import graft.functions.GeoFunctions._
import graft.functions.expr.WkbFunction
import graft.geom.{GeomOps, Wkb}
import graft.join.{BroadcastProbe, Clip, Pins, SJoinNearest, SpatialJoin}
import graft.ops.Dedup
import graft.plans.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, Expression, ScalaUDF, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project, RepartitionOperation, Sort}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Finds function calls that an optimized plan evaluates twice for one
  * row: Spark UDFs, the function table's [[WkbFunction]]s and the native
  * geometry expressions of `graft.functions.expr`. */
object UdfOnce {

  /** The function name of a table or native geometry call. */
  private def geomName(e: Expression): Option[String] = e match {
    case f: WkbFunction => Some(f.name)
    case n if n.getClass.getPackageName == "graft.functions.expr" && n.getClass.getSimpleName.startsWith("St") =>
      Some(n.prettyName)
    case _ => None
  }

  private def calls(e: Expression): Seq[Expression] =
    e.collect { case c if c.isInstanceOf[ScalaUDF] || geomName(c).isDefined => c }

  private def evaluated(p: LogicalPlan): Seq[Expression] = p match {
    case Project(list, _) => list.flatMap(calls)
    case Filter(cond, _)  => calls(cond)
    case g: Generate      => calls(g.generator)
    case _                => Nil
  }

  /** A call in `upper` rewritten into the input terms of `lower`: every
    * attribute that `lower` defines by an alias is replaced by that
    * alias's expression, so exprIds introduced by the projection do not
    * hide a repeated call. */
  private def below(e: Expression, lower: LogicalPlan): Expression = lower match {
    case Project(list, _) =>
      val defs: Map[ExprId, Expression] = list.collect { case a: Alias => a.exprId -> a.child }.toMap
      e.transform { case a: Attribute if defs.contains(a.exprId) => defs(a.exprId) }
    case _ => e
  }

  /** Nodes that pass their child's rows through, so a call above them and
    * the same call below them run on the same row. */
  private def rowPreserving(p: LogicalPlan): Boolean = p match {
    case _: Filter | _: RepartitionOperation | _: Sort | _: Fence => true
    case _ => false
  }

  /** One line per repeated call: a Project, Filter or Generate whose call
    * is evaluated again beneath it, on the same row. The search goes down
    * through projections and row-preserving nodes, rewriting the call
    * through each projection's aliases. */
  def duplicates(plan: LogicalPlan): Seq[String] = plan.collect {
    case upper @ (_: Project | _: Filter | _: Generate) =>
      def scan(lower: LogicalPlan, up: Seq[Expression]): Seq[String] = {
        val here = evaluated(lower).map(_.canonicalized).toSet
        val rewritten = up.map(below(_, lower))
        val hits = rewritten.filter(c => here.contains(c.canonicalized))
          .map(c => s"${upper.nodeName} and a ${lower.nodeName} below it both evaluate ${c.sql}")
        if (lower.isInstanceOf[Project] || rowPreserving(lower)) hits ++ scan(lower.children.head, rewritten)
        else hits
      }
      val up = evaluated(upper)
      if (up.isEmpty) Nil else scan(upper.children.head, up)
  }.flatten

  /** How many times the plan evaluates the function `c` calls (a column
    * built by a `st_*` function over literals), matched by name. */
  def count(plan: LogicalPlan, c: Column): Int = {
    val name = SparkTestBase.spark.range(1).select(c).queryExecution.analyzed
      .expressions.flatMap(_.collect(Function.unlift(geomName))).head
    occurrences(plan, { case e => geomName(e).contains(name) })
  }

  def occurrences(plan: LogicalPlan, hit: PartialFunction[Expression, Boolean]): Int = {
    val isHit = (e: Expression) => hit.applyOrElse(e, (_: Expression) => false)
    plan.collect { case p => p.expressions.map(_.collect { case e if isHit(e) => e }.size).sum }.sum
  }
}

/** Every geometry kernel runs once per row, as in GeoPandas' eager
  * execution, with the kernels declared deterministic. */
class EvaluateOnceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries that repeat a function call on purpose, though never twice for one
    * row, so they are not findings; the sweep checks them like every other
    * query. */
  private val repeatedOnPurpose: Map[String, String] = Map(
    "q104_sample_points" ->
      "samples the same points twice in one projection: the query checks that the seeded sampler is deterministic",
    "q140_minhash_banded_snapshot" ->
      "runs the signature transform in two separate branches (snapshot and probe), each on its own rows")

  private def parquet(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("eval_once").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def boxes(name: String, bs: (Double, Double, Double, Double)*): DataFrame = parquet(
    bs.zipWithIndex.map { case ((x0, y0, x1, y1), i) => (i, Wkb.write(GeomOps.makeBox(x0, y0, x1, y1))) }
      .toDF(name, "geometry"))

  private def points(ps: (Double, Double)*): DataFrame = parquet(
    ps.zipWithIndex.map { case ((x, y), i) => (i, Wkb.write(GeomOps.point(x, y))) }.toDF("pid", "geometry"))

  private def query(name: String): DataFrame = {
    assume(new java.io.File(sfDir).exists(), s"test data absent at $sfDir")
    SparkEntry.queries(name)(spark, sfDir)
  }

  private def assertOnce(df: DataFrame): LogicalPlan = {
    val plan = df.queryExecution.optimizedPlan
    val dups = UdfOnce.duplicates(plan)
    assert(dups.isEmpty, dups.mkString("\n") + s"\n$plan")
    plan
  }

  test("the detector flags a filter over a computed column and Fence clears it") {
    val area = udf((b: Array[Byte]) => Wkb.read(b).getArea)
    val df = boxes("id", (0, 0, 2, 2), (0, 0, 0, 0)).withColumn("a", area(col("geometry")))
    assert(UdfOnce.duplicates(df.filter(col("a") > 0).queryExecution.optimizedPlan).size == 1)
    val fenced = Fence(df).filter(col("a") > 0)
    val plan = assertOnce(fenced)
    assert(UdfOnce.occurrences(plan, { case _: ScalaUDF => true }) == 1, plan)
    assert(plan.exists(_.isInstanceOf[Fence]), plan)
    assert(!fenced.queryExecution.executedPlan.toString.contains("Fence"))
    assert(fenced.select("id").as[Int].collect().toSeq == Seq(0))
  }

  test("no declared query evaluates a UDF call twice for one row") {
    assume(new java.io.File(sfDir).exists(), s"test data absent at $sfDir")
    val plans = SparkEntry.queries.keys.toSeq.sorted.map(q => q -> query(q).queryExecution.optimizedPlan).toMap
    val hits = plans.toSeq.sortBy(_._1).flatMap { case (q, p) => UdfOnce.duplicates(p).map(d => s"$q: $d") }
    assert(hits.isEmpty, hits.mkString("\n"))
    repeatedOnPurpose.keys.foreach(q => assert(plans.contains(q), s"unknown query $q"))
  }

  test("overlay intersection and difference evaluate their JTS op once (q13, q14)") {
    val one = lit(Array[Byte]())
    val inter = assertOnce(query("q13_overlay_intersection"))
    assert(UdfOnce.count(inter, st_intersection(one, one)) == 1, inter)
    val diff = assertOnce(query("q14_overlay_difference"))
    assert(UdfOnce.count(diff, st_difference(one, one)) == 1, diff)
  }

  test("q87 and q93 evaluate their shared geometry once") {
    val one = lit(Array[Byte]())
    val q87 = assertOnce(query("q87_interior_rings"))
    assert(UdfOnce.count(q87, st_difference(one, one)) == 1, q87)
    val q93 = assertOnce(query("q93_inscribed_circle"))
    assert(UdfOnce.count(q93, st_interpolate(one, lit(0.0), lit(false))) == 1, q93)
  }

  /** Broadcast index probes whose search is a `kind`. */
  private def probes(plan: LogicalPlan, kind: Class[_]): Int =
    UdfOnce.occurrences(plan, { case p: BroadcastProbe => kind.isInstance(p.search) })

  test("inner and left broadcast sjoin probe the tree once per row") {
    val pts = points((1, 1), (3, 3), (50, 50))
    val polys = boxes("poly_id", (0, 0, 2, 2), (0, 0, 4, 4))
    for ((how, want) <- Seq("inner" -> 3L, "left" -> 4L)) {
      val j = SpatialJoin.sjoin(pts, polys, "intersects", how)
      val plan = assertOnce(j)
      assert(probes(plan, classOf[BroadcastProbe.Predicate]) == 1, s"$how:\n$plan")
      assert(j.count() == want, how)
    }
  }

  test("sjoin_nearest probes the tree once per row") {
    val pts = points((1, 0), (4.5, 0), (9, 0))
    val targets = boxes("tid", (0, 0, 1, 1), (8, 0, 9, 1))
    for (how <- Seq("inner", "left")) {
      val j = SJoinNearest.sjoinNearest(pts, targets, how, distanceCol = Some("d"))
      val plan = assertOnce(j)
      assert(probes(plan, classOf[BroadcastProbe.Nearest]) == 1, s"$how:\n$plan")
      assert(j.select("pid", "tid").as[(Int, Int)].collect().sorted.toSeq == Seq((0, 0), (1, 0), (1, 1), (2, 1)), how)
    }
  }

  test("clip evaluates once, and a left sjoin over it needs no pin and persists nothing") {
    val src = boxes("a_id", (0, 0, 4, 4), (10, 10, 12, 12), (20, 20, 22, 22))
    val mask = boxes("m", (1, 1, 11, 11))
    val clipped = Clip.clip(src, mask)
    assertOnce(clipped)
    assertOnce(Clip.clip(src, mask, keepGeomType = true))
    assert(!Pins.needsPin(clipped), clipped.queryExecution.analyzed)
    val sc = spark.sparkContext
    val marker = sc.emptyRDD[Int].id
    val j = SpatialJoin.sjoin(points((2, 2), (10.5, 10.5), (30, 30)), clipped.select("a_id", "geometry"),
      "intersects", "left")
    assert(j.select("pid", "a_id").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).sorted.toSeq ==
      Seq((0, 0), (1, 1), (2, -1)))
    assert(sc.getPersistentRDDs.keys.forall(_ < marker), sc.getPersistentRDDs)
  }

  test("minhash shingling tokenizes once per row, after the spread") {
    val docs = parquet(Seq((1L, "a b c d"), (2L, "a b"), (3L, "x y z w v")).toDF("id", "text").coalesce(1))
    val sigs = Dedup.minhashSignatureTable(docs, "id", "text")
    val plan = assertOnce(sigs)
    assert(UdfOnce.occurrences(plan, { case _: StringSplit => true }) == 1, plan)
    val spread = plan.collectFirst { case r: RepartitionOperation => r }
    assert(spread.nonEmpty && spread.get.collectFirst { case f: Filter => f }.isEmpty,
      s"the token-count filter must stay above the spread:\n$plan")
    assert(sigs.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }
}

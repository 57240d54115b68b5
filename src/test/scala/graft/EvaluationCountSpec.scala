package graft

import graft.geom.{GeomOps, Wkb}
import graft.join.{Clip, Overlay, SJoinNearest, SpatialJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** How many times a frame's geometry is computed per row across every job
  * an operator starts: its bounded build-side collect, which also chooses
  * the strategy, and the final action. `EvaluateOnceSpec` reads one
  * optimized plan at a time, so it cannot see a second job re-running a
  * plan. Here a deterministic identity UDF counts its calls in an
  * accumulator. */
class EvaluationCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // a parquet scan, so no optimizer rule evaluates the UDF on the driver
  private def parquet(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("eval_count").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def boxes(name: String, bs: (Double, Double, Double, Double)*): DataFrame = parquet(
    bs.zipWithIndex.map { case ((x0, y0, x1, y1), i) => (i, Wkb.write(GeomOps.makeBox(x0, y0, x1, y1))) }
      .toDF(name, "geometry"))

  private def points(ps: (Double, Double)*): DataFrame = parquet(
    ps.zipWithIndex.map { case ((x, y), i) => (i, Wkb.write(GeomOps.point(x, y))) }.toDF("pid", "geometry"))

  /** `df` with its geometry passed through a counting identity UDF, and
    * the function that reads how many calls the block made. */
  private def counted(df: DataFrame)(block: DataFrame => Unit): Long = {
    val calls = spark.sparkContext.longAccumulator("geometry calls")
    val countU = udf((b: Array[Byte]) => { calls.add(1); b })
    block(df.withColumn("geometry", countU(col("geometry"))))
    calls.value
  }

  private val polys = Seq((0.0, 0.0, 4.0, 4.0), (3.0, 3.0, 7.0, 7.0), (10.0, 10.0, 12.0, 12.0),
    (20.0, 0.0, 22.0, 2.0), (1.0, 5.0, 2.0, 6.0))
  private lazy val mask = boxes("m", (0, 0, 11, 11))
  private lazy val probes = points((1, 1), (3.5, 3.5), (11, 11), (30, 30), (6, 6))

  test("a clip output under a left broadcast sjoin is clipped once per row: the bounded build") {
    val n = counted(boxes("id", polys: _*)) { src =>
      val joined = SpatialJoin.sjoin(probes, Clip.clip(src, mask).select("id", "geometry"), how = "left")
      assert(joined.select("pid", "id").as[(Int, Option[Int])].collect().sorted.toSeq ==
        Seq((0, Some(0)), (1, Some(0)), (1, Some(1)), (2, Some(2)), (3, None), (4, Some(1))))
    }
    assert(n == polys.size.toLong, s"$n calls for ${polys.size} rows")
  }

  test("the build side of a broadcast sjoin_nearest is computed once per row") {
    val n = counted(boxes("id", polys: _*)) { src =>
      val joined = SJoinNearest.sjoinNearest(probes, Clip.clip(src, mask).select("id", "geometry"),
        how = "left", distanceCol = Some("d"))
      assert(joined.select("pid", "id").as[(Int, Option[Int])].collect().sorted.toSeq ==
        Seq((0, Some(0)), (1, Some(0)), (1, Some(1)), (2, Some(2)), (3, Some(2)), (4, Some(1))))
    }
    assert(n == polys.size.toLong, s"$n calls for ${polys.size} rows")
  }

  private def differenceCalls(keepGeomType: Boolean): Long = {
    val right = boxes("r", (2, 2, 5, 5), (0, 0, 1, 1))
    counted(boxes("id", polys: _*)) { left =>
      val diff = Overlay.overlay(left, right, "difference", keepGeomType = keepGeomType)
      val areas = diff.select(col("id"), graft.functions.GeoFunctions.st_area(col("geometry")))
        .as[(Int, Double)].collect().sorted.toSeq
      assert(areas.map(_._1) == Seq(0, 1, 2, 3, 4))
      assert(areas.map(a => math.rint(a._2 * 1e9) / 1e9) == Seq(16.0 - 4.0 - 1.0, 16.0 - 4.0, 4.0, 4.0, 1.0))
    }
  }

  test("the left frame of a broadcast-path overlay difference runs once per row without keepGeomType") {
    val n = differenceCalls(keepGeomType = false)
    assert(n == polys.size.toLong, s"$n calls for ${polys.size} rows")
  }

  test("with keepGeomType (the default) the difference's left frame still runs once per row") {
    val n = differenceCalls(keepGeomType = true)
    assert(n == polys.size.toLong, s"$n calls for ${polys.size} rows")
  }

  test("a left broadcast sjoin over a stored build side keeps every probe row") {
    val src = boxes("id", polys: _*).select("id", "geometry")
    val joined = SpatialJoin.sjoin(probes, src, how = "left")
    assert(joined.select("pid", "id").as[(Int, Option[Int])].collect().sorted.toSeq ==
      Seq((0, Some(0)), (1, Some(0)), (1, Some(1)), (2, Some(2)), (3, None), (4, Some(1))))
  }

  test("a built broadcast sjoin runs one job when it executes, over a stored or a computed build side") {
    val stored = boxes("id", polys: _*).select("id", "geometry")
    val computed = Clip.clip(boxes("id", polys: _*), mask).select("id", "geometry")
    for ((name, build) <- Seq("stored" -> stored, "computed" -> computed); how <- Seq("inner", "left")) {
      val joined = SpatialJoin.sjoin(probes, build, how = how).select("pid", "id")
      val (rows, n) = SparkTestBase.jobsDuring(joined.as[(Int, Option[Int])].collect().toSeq)
      assert(n == 1, s"$name $how build: $n jobs")
      assert(rows.flatMap { case (p, id) => id.map(p -> _) }.sorted == Seq((0, 0), (1, 0), (1, 1), (2, 2), (4, 1)),
        s"$name $how build")
    }
  }
}

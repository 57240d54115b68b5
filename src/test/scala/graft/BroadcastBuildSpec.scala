package graft

import graft.api.GeoDataFrame
import graft.geom.{GeomOps, Wkb}
import graft.join.{BroadcastIndex, Clip, Overlay, SJoinNearest, SpatialJoin}
import graft.streaming.StreamingGeo
import org.apache.spark.SparkConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bounded broadcast build: one job both decides the strategy and
  * collects the build side, and the strategy leaves the output's columns
  * and rows as they are. Inputs are parquet scans, so their plans run as
  * jobs (a local relation is read on the driver with none). */
class BroadcastBuildSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._
  import SparkTestBase.jobsDuring

  private def parquet(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("broadcast_build").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def boxes(name: String, bs: (Double, Double, Double, Double)*): DataFrame = parquet(
    bs.zipWithIndex.map { case ((x0, y0, x1, y1), i) => (i, s"$name$i", Wkb.write(GeomOps.makeBox(x0, y0, x1, y1))) }
      .toDF(name, s"${name}_tag", "geometry"))

  private def points(ps: (Double, Double)*): DataFrame = parquet(
    ps.zipWithIndex.map { case ((x, y), i) => (i, Wkb.write(GeomOps.point(x, y))) }.toDF("pid", "geometry"))

  private val polyBoxes = Seq((0.0, 0.0, 4.0, 4.0), (3.0, 3.0, 7.0, 7.0), (10.0, 10.0, 12.0, 12.0),
    (20.0, 0.0, 22.0, 2.0), (1.0, 5.0, 2.0, 6.0))
  private lazy val polys = boxes("id", polyBoxes: _*)
  private lazy val probes = points((1, 1), (3.5, 3.5), (11, 11), (30, 30), (6, 6), (1.5, 5.5), (21, 1))
  private lazy val mask = boxes("m", (0, 0, 11, 11)).select("geometry")

  /** Writing an input and inferring its schema run jobs: do both before
    * counting a build's. */
  private def inputsReady(): Unit = { polys; probes; mask }

  /** Rows as sortable strings, binary values spelled out. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case v              => String.valueOf(v)
    }.mkString("|")).sorted

  private def broadcasts(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("broadcast_probe")

  test("building an overlay intersection or difference with a small right side starts one job") {
    inputsReady()
    val right = boxes("r", (2, 2, 5, 5), (0, 0, 1, 1))
    for (how <- Seq("intersection", "difference")) {
      val (df, jobs) = jobsDuring(Overlay.overlay(polys, right, how))
      assert(jobs == 1, s"$how: $jobs jobs")
      assert(df.count() == (if (how == "intersection") 3 else 5), how)
    }
  }

  test("building a clip or a broadcast sjoin starts one job") {
    inputsReady()
    val (clipped, clipJobs) = jobsDuring(Clip.clip(polys, mask))
    assert(clipJobs == 1, s"clip: $clipJobs jobs")
    assert(clipped.count() == 4)
    val (_, keepTypeJobs) = jobsDuring(Clip.clip(polys, mask, keepGeomType = true))
    assert(keepTypeJobs == 1, s"keep-type clip: $keepTypeJobs jobs")
    for (how <- Seq("inner", "left", "right")) {
      val (joined, jobs) = jobsDuring(SpatialJoin.sjoin(probes, polys, how = how))
      assert(jobs == 1, s"$how: $jobs jobs")
      assert(broadcasts(joined), how)
    }
  }

  test("a left sjoin over a clip output starts two jobs: the mask and the build") {
    inputsReady()
    val (joined, jobs) = jobsDuring(
      SpatialJoin.sjoin(probes, Clip.clip(polys, mask).select("id", "geometry"), how = "left"))
    assert(jobs == 2, s"$jobs jobs")
    assert(joined.select("pid", "id").as[(Int, Option[Int])].collect().sorted.toSeq ==
      Seq((0, Some(0)), (1, Some(0)), (1, Some(1)), (2, Some(2)), (3, None), (4, Some(1)), (5, Some(4)), (6, None)))
  }

  test("a threshold of n broadcasts an n-row side; n - 1 takes the grid path with the same rows") {
    val n = polyBoxes.size.toLong
    for (how <- Seq("inner", "left")) {
      val at = SpatialJoin.sjoin(probes, polys, how = how, broadcastThreshold = n)
      val under = SpatialJoin.sjoin(probes, polys, how = how, broadcastThreshold = n - 1)
      assert(broadcasts(at) && !broadcasts(under), how)
      assert(at.columns.toSeq == under.columns.toSeq, how)
      assert(rowsOf(at) == rowsOf(under), how)
    }
    val near = SJoinNearest.sjoinNearest(probes, polys, maxDistance = Some(100.0), broadcastThreshold = n)
    val nearGrid = SJoinNearest.sjoinNearest(probes, polys, maxDistance = Some(100.0), broadcastThreshold = n - 1)
    assert(broadcasts(near) && !broadcasts(nearGrid))
    assert(rowsOf(near) == rowsOf(nearGrid))
    val over = Overlay.overlay(polys, boxes("r", (2, 2, 5, 5), (0, 0, 1, 1)), "difference", broadcastThreshold = 1)
    val at2 = Overlay.overlay(polys, boxes("r", (2, 2, 5, 5), (0, 0, 1, 1)), "difference", broadcastThreshold = 2)
    assert(rowsOf(over.select("id")) == rowsOf(at2.select("id")))
    assert(over.select(graft.functions.GeoFunctions.st_area(col("geometry"))).as[Double].collect().sorted.toSeq
      .map(math.rint) == at2.select(graft.functions.GeoFunctions.st_area(col("geometry"))).as[Double].collect()
      .sorted.toSeq.map(math.rint))
  }

  test("an over-threshold mask or static layer fails with its message after one job") {
    inputsReady()
    val bigMask = boxes("m", (0 to 9).map(i => (i.toDouble, 0.0, i + 1.0, 1.0)): _*)
    val (err, jobs) = jobsDuring(intercept[IllegalArgumentException](Clip.clip(polys, bigMask, maxMaskRows = 5)))
    assert(err.getMessage.contains("Clip mask exceeds 5 rows"), err.getMessage)
    assert(jobs == 1, s"$jobs jobs")
    assert(Clip.clip(polys, bigMask, maxMaskRows = 10).count() == 1)
    val stream = spark.readStream.format("rate").load()
      .withColumn("geometry", graft.functions.GeoFunctions.st_point(col("value").cast("double"), lit(0.5)))
    val (e, staticJobs) = jobsDuring(intercept[IllegalArgumentException](
      StreamingGeo.sjoinAgainstStatic(stream, GeoDataFrame(bigMask), broadcastThreshold = 9L)))
    assert(e.getMessage.contains("the static layer, which exceeds 9 rows"), e.getMessage)
    assert(staticJobs == 1, s"$staticJobs jobs")
  }

  test("a side past the byte budget takes the grid path after one job, however few rows its partitions hold") {
    // 4 partitions of 10 rows of about 1 KiB of hash bytes each, which no
    // codec shrinks: about 10 KiB per task, 40 KiB in all
    val hashes = (0 until 16).map(k => unhex(sha2(concat(col("id").cast("string"), lit(s"/$k")), 512)))
    val side = spark.range(0, 40, 1, 4).select(col("id"), concat(hashes: _*).as("b"))
    assert(side.rdd.getNumPartitions == 4)
    val (all, jobs) = jobsDuring(BroadcastIndex.collectUpTo(side, 1000L, 1L << 20))
    assert(jobs == 1, s"$jobs jobs")
    assert(all.get.map(r => (r.getLong(0), r.getBinary(1).toSeq)).sortBy(_._1).toSeq ==
      side.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSeq)
    // every task fits 20 KiB, their total does not; no task fits 5 KiB
    for (budget <- Seq(20L << 10, 5L << 10)) {
      val (none, overJobs) = jobsDuring(BroadcastIndex.collectUpTo(side, 1000L, budget))
      assert(none.isEmpty && overJobs == 1, s"budget $budget: $overJobs jobs")
    }
  }

  test("the byte budget leaves room below maxResultSize for the results Spark checks before the handler") {
    val conf = new SparkConf().set("spark.driver.maxResultSize", "6m").set("spark.resultGetter.threads", "4")
    assert(BroadcastIndex.resultBudget(conf) == (1L << 20))
    assert(BroadcastIndex.resultBudget(new SparkConf()) == (1L << 30) / 6)
    assert(BroadcastIndex.resultBudget(conf.set("spark.driver.maxResultSize", "0")) == Long.MaxValue)
  }

  test("sjoin lists the left frame's columns first whichever side the broadcast builds") {
    // inner: threshold 7 builds the right side, threshold 6 fails the
    // right side (7 boxes) and builds the left (5 points), -1 is the grid;
    // a dotted name is one column, not a field path
    val left = points((1, 1), (3.5, 3.5), (11, 11), (30, 30), (21, 1)).withColumnRenamed("pid", "p.id")
    val right = boxes("id", polyBoxes :+ ((40.0, 40.0, 41.0, 41.0)) :+ ((0.0, 0.0, 1.0, 1.0)): _*)
      .withColumnRenamed("id_tag", "id.tag")
    def sj(how: String, t: Long) = SpatialJoin.sjoin(left, right, how = how, broadcastThreshold = t)
    for ((how, paths) <- Seq("inner" -> Seq(7L, 6L), "left" -> Seq(7L), "right" -> Seq(5L))) {
      val grid = sj(how, -1L)
      assert(!broadcasts(grid), how)
      for (t <- paths) {
        val b = sj(how, t)
        assert(broadcasts(b), s"$how at $t")
        assert(b.columns.toSeq == grid.columns.toSeq, s"$how at $t")
        assert(rowsOf(b) == rowsOf(grid), s"$how at $t")
      }
    }
    assert(sj("inner", 6L).columns.toSeq == Seq("p.id", "geometry", "id", "id.tag"))
    assert(sj("right", 5L).columns.toSeq == Seq("p.id", "id", "id.tag", "geometry"))
  }
}

package graftbench

import graft.api.GeoDataFrame
import graft.geom.Wkb
import graft.join.{Clip, Overlay, SpatialJoin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.operation.overlayng.OverlayNGRobust
import scala.jdk.CollectionConverters._

/** One public call of a pass. `build` is the construction (the call that
  * returns a DataFrame); executing its full plan is the action. `layer` is
  * the engine module whose public function `build` calls. `tap` selects the
  * rows of the cold pass's result that the correctness checks read. */
final case class Op(name: String, layer: String, areaCol: Option[String], build: () => DataFrame,
                    tap: Option[Tap] = None)

trait Workload {
  def name: String
  /** Names of every op or query this workload can run (one per-layer
    * `op.<name>.wall_s` or `query.<name>.wall_s` metric each). */
  def opNames: Seq[String]
  def opPrefix: String = "op"
  /** One set-up round: make the inputs ready under `dir`. Returns the
    * seconds spent writing GeoParquet. */
  def setup(spark: SparkSession, dir: String): Double
  /** The ops of one pass, reading the inputs of the last set-up round. */
  def ops(spark: SparkSession): Seq[Op]
  /** Correctness checks of the cold pass: its fingerprints and the rows its
    * ops' taps kept. Failures are keyed by op name. */
  def check(spark: SparkSession, cold: Map[String, Fp], taps: Map[String, Seq[Seq[Any]]]): Map[String, Seq[String]]
  /** GeoParquet inputs a pass reads (for the `io.geoparquet_read_s` probe). */
  def inputPaths: Seq[String]
  /** A fixed sample of the workload's own geometries: (polygons, points). */
  def geomSample(spark: SparkSession): (Seq[Geometry], Seq[Geometry])
}

/** Shared by the two generated workloads: inputs come from [[Gen]] and are
  * written to GeoParquet in every set-up round. */
abstract class Generated(val seed: Long) extends Workload {
  protected lazy val tabs: Seq[Gen.Table] = Gen.tables(name, seed, 1.0)
  protected var dir: String = ""

  def setup(spark: SparkSession, d: String): Double = {
    val t0 = System.nanoTime()
    Gen.write(spark, tabs, d)
    val w = (System.nanoTime() - t0) / 1e9
    // read back: the inputs are ready once every file scans
    Gen.read(spark, tabs, d).values.foreach(g => g.df.queryExecution.toRdd.count())
    dir = d
    w
  }

  def inputPaths: Seq[String] = tabs.map(t => s"$dir/${t.name}")
  protected def in(spark: SparkSession, t: String): DataFrame = graft.io.GeoParquet.read(spark, s"$dir/$t").df

  /** `n` distinct row ids of `table`, chosen by the seed. */
  protected def sampleIds(table: String, n: Int): Seq[Long] = {
    val rows = tabs.find(_.name == table).get.rows
    (0 until n).map(k => java.lang.Math.floorMod(Gen.mix(seed * 7919 + k), rows)).distinct
  }

  protected def geoms(df: DataFrame, id: String): Seq[(Long, Geometry)] =
    df.select(col(id), col("geometry")).collect().toSeq
      .map(r => (r.getLong(0), Wkb.read(r.getAs[Array[Byte]](1))))

  protected def tapped(taps: Map[String, Seq[Seq[Any]]], op: String): Seq[Seq[Any]] = taps.getOrElse(op, Nil)
  protected def geom(v: Any): Geometry = Wkb.read(v.asInstanceOf[Array[Byte]])
  protected def optLong(v: Any): Option[Long] = Option(v).map(_.asInstanceOf[Long])
}

/** Grid sjoin of clustered, wide points against irregular polygons. */
final class SjoinGrid(seed: Long) extends Generated(seed) {
  val name = "sjoin_grid"
  val opNames = Seq("sjoin_inner_agg", "sjoin_left")
  /** Below both row counts, so the strategy probe picks the grid path. */
  private val GridThreshold = 8L
  private lazy val polyIds = sampleIds("polygons", 150)
  private lazy val pointIds = sampleIds("points", 300)

  private def inner(pts: DataFrame, polys: DataFrame): DataFrame =
    SpatialJoin.sjoin(pts, polys, predicate = "intersects", how = "inner", broadcastThreshold = GridThreshold)
  private def agg(df: DataFrame): DataFrame =
    df.groupBy(col("poly_id")).agg(count(lit(1)).as("n"), sum(col("n1")).as("s"))
  private def left(pts: DataFrame, polys: DataFrame): DataFrame =
    SpatialJoin.sjoin(pts, polys, predicate = "intersects", how = "left", broadcastThreshold = GridThreshold)

  def ops(spark: SparkSession): Seq[Op] = {
    val (pts, polys) = (in(spark, "points"), in(spark, "polygons"))
    Seq(
      Op("sjoin_inner_agg", "graft.join", None, () => agg(inner(pts, polys)),
        Some(Tap("poly_id", polyIds.toSet, Seq("poly_id", "n", "s")))),
      Op("sjoin_left", "graft.join", None, () => left(pts, polys),
        Some(Tap("pid", pointIds.toSet, Seq("pid", "poly_id")))))
  }

  /** Both ops' sampled rows against a brute-force plain-JTS scan: per
    * sampled polygon, the count and `n1` sum of every point inside it; per
    * sampled point, its matched polygons or one null row. */
  def check(spark: SparkSession, cold: Map[String, Fp], taps: Map[String, Seq[Seq[Any]]]): Map[String, Seq[String]] = {
    val polys = geoms(in(spark, "polygons"), "poly_id")
    val pts = in(spark, "points").select("pid", "n1", "geometry").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), Wkb.read(r.getAs[Array[Byte]](2))))
    val sampledPolys = polyIds.toSet
    val inPoly = Checks.bruteForcePairs(pts.map(p => (p._1, p._3)), polys.filter(p => sampledPolys(p._1)))
    val n1 = pts.map(p => p._1 -> p._2.toLong).toMap
    val wantAgg = inPoly.groupBy(_._2).map { case (poly, ps) => poly -> (ps.size.toLong, ps.toSeq.map(p => n1(p._1)).sum) }
    val gotAgg = tapped(taps, "sjoin_inner_agg").map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))
    val sampledPts = pointIds.toSet
    val wantLeft = Checks.bruteForcePairs(pts.collect { case (id, _, g) if sampledPts(id) => (id, g) }, polys)
    val gotLeft = tapped(taps, "sjoin_left").map(r => (r(0).asInstanceOf[Long], optLong(r(1))))
    Map(
      "sjoin_inner_agg" -> Checks.groupCounts("sjoin inner + groupBy", wantAgg, gotAgg),
      "sjoin_left" -> Checks.leftPairs("sjoin left", sampledPts, wantLeft, gotLeft))
  }

  def geomSample(spark: SparkSession): (Seq[Geometry], Seq[Geometry]) = {
    val polys = (0 until 256).map(i => Wkb.read(Gen.polyRow(seed, 256, i).getAs[Array[Byte]](3)))
    val pts = (0 until 256).map(i => Wkb.read(Gen.pointRow(seed, 64, i).getAs[Array[Byte]](10)))
    (polys, pts)
  }
}

/** Constructive overlay, clip and dissolve over irregular polygons and an
  * edge-matched coverage, then a left sjoin of points onto the clip output. */
final class OverlayDissolve(seed: Long) extends Generated(seed) {
  val name = "overlay_dissolve"
  val opNames = Seq("overlay_intersection", "overlay_difference", "clip", "dissolve", "clip_sjoin_left")
  private lazy val leftIds = sampleIds("left", 200)
  private lazy val probeIds = sampleIds("probes", 300)
  /** Zones of eight seeded coverage cells. */
  private lazy val zones = sampleIds("coverage", 8).map { id =>
    val g = math.sqrt(tabs.find(_.name == "coverage").get.rows.toDouble).round.toInt
    Gen.coverRow(seed, g, id).getString(1)
  }.distinct

  private def inter(a: DataFrame, b: DataFrame) = Overlay.overlay(a, b, "intersection")
  private def diff(a: DataFrame, b: DataFrame) = Overlay.overlay(a, b, "difference")
  private def clip(a: DataFrame, mask: DataFrame) = Clip.clip(a, mask)
  private def dissolve(i: DataFrame) =
    GeoDataFrame(i.select("zone", "a_val", "geometry")).dissolve(by = Seq("zone"), aggfunc = Map("a_val" -> "sum")).df
  private def probeJoin(q: DataFrame, a: DataFrame, mask: DataFrame) =
    SpatialJoin.sjoin(q, clip(a, mask).select("a_id", "geometry"), predicate = "intersects", how = "left")

  def ops(spark: SparkSession): Seq[Op] = {
    val Seq(a, b, m, q) = Seq("left", "coverage", "mask", "probes").map(in(spark, _))
    val byLeft = Some(Tap("a_id", leftIds.toSet, Seq("a_id", "geometry")))
    Seq(
      Op("overlay_intersection", "graft.join", Some("geometry"), () => inter(a, b), byLeft),
      Op("overlay_difference", "graft.join", Some("geometry"), () => diff(a, b), byLeft),
      Op("clip", "graft.join", Some("geometry"), () => clip(a, m), byLeft),
      Op("dissolve", "graft.agg", Some("geometry"), () => dissolve(inter(a, b)),
        Some(Tap("zone", zones.toSet, Seq("zone", "geometry")))),
      Op("clip_sjoin_left", "graft.join", None, () => probeJoin(q, a, m),
        Some(Tap("qid", probeIds.toSet, Seq("qid", "a_id")))))
  }

  /** The cold pass's sampled rows against plain JTS on the driver. */
  def check(spark: SparkSession, cold: Map[String, Fp], taps: Map[String, Seq[Seq[Any]]]): Map[String, Seq[String]] = {
    val all = geoms(in(spark, "left"), "a_id")
    val ids = leftIds.toSet
    val src = all.filter(p => ids(p._1)).toMap
    def pieces(op: String) = tapped(taps, op).map(r => (r(0).asInstanceOf[Long], geom(r(1))))
    // area(A ∩ coverage) + area(A − coverage) = area(A), per sampled A
    val identity = Checks.areaIdentity(src.map { case (k, g) => k -> g.getArea },
      pieces("overlay_intersection").map { case (k, g) => (k, g.getArea) },
      pieces("overlay_difference").map { case (k, g) => (k, g.getArea) })
    // each sampled zone's dissolved area against the robust JTS union of
    // every left polygon clipped to the zone's cells
    val cover = in(spark, "coverage").select("zone", "geometry").collect().toSeq
      .map(r => (r.getString(0), Wkb.read(r.getAs[Array[Byte]](1))))
    val wantDissolve = zones.map { z =>
      val cell = OverlayNGRobust.union(Wkb.factory.buildGeometry(cover.collect { case (`z`, g) => g }.asJava))
      val env = cell.getEnvelopeInternal
      val parts = all.collect { case (_, g) if g.getEnvelopeInternal.intersects(env) => g.intersection(cell) }
        .filterNot(_.isEmpty)
      z -> OverlayNGRobust.union(Wkb.factory.buildGeometry(parts.asJava)).getArea
    }.toMap
    val gotDissolve = tapped(taps, "dissolve").map(r => r(0).asInstanceOf[String] -> geom(r(1)).getArea).toMap
    val mask = Wkb.read(in(spark, "mask").collect().head.getAs[Array[Byte]](0))
    // left sjoin of sampled probes onto the clip output, against plain JTS
    // clipping of every left polygon
    val clipped = all.map { case (k, g) => (k, g.intersection(mask)) }.filterNot(_._2.isEmpty)
    val qs = probeIds.toSet
    val q = geoms(in(spark, "probes"), "qid").filter(p => qs(p._1))
    val want = Checks.bruteForcePairs(q, clipped)
    val got = tapped(taps, "clip_sjoin_left").map(r => (r(0).asInstanceOf[Long], optLong(r(1))))
    Map(
      "overlay_intersection" -> identity,
      "overlay_difference" -> identity,
      "dissolve" -> Checks.dissolveAreas(wantDissolve, gotDissolve),
      "clip" -> Checks.clip(mask, src, pieces("clip")),
      "clip_sjoin_left" -> Checks.leftPairs("clip sjoin left", qs, want, got))
  }

  def geomSample(spark: SparkSession): (Seq[Geometry], Seq[Geometry]) = {
    val left = (0 until 256).map(i => Wkb.read(Gen.leftRow(seed, 256, i).getAs[Array[Byte]](3)))
    val pts = (0 until 256).map(i => Wkb.read(Gen.probeRow(seed, 256, i).getAs[Array[Byte]](3)))
    (left, pts)
  }
}

/** Declared `SparkEntry.queries` over the read-only test data. The
  * seed changes nothing here: the data is fixed, so each query's result
  * fingerprint is compared with a stored one. */
final class CompositeQueries(sfDir: String, expected: Map[String, Fp]) extends Workload {
  val name = "composite_queries"
  override val opPrefix = "query"
  /** The composite ROADMAP item 5 measured at the lowest core occupancy,
    * and the AutoSpatialJoin left path that pins its input (item 3). Every
    * query adds seconds of first-execution cost to each run, which bounds
    * how many fit the run budget. */
  val opNames = Seq("q152_cc_incremental", "q142_sjoin_auto_left")
  /** The tables the two queries read. */
  private val Tables = Seq("customer", "documents", "nation")

  def setup(spark: SparkSession, dir: String): Double = {
    require(new java.io.File(sfDir).isDirectory, s"test data directory $sfDir not found")
    // the data is fixed and read-only: ready once every table's footer reads
    Tables.foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").schema)
    0.0
  }

  def ops(spark: SparkSession): Seq[Op] =
    opNames.map { n =>
      val q = graft.SparkEntry.queries(n)
      Op(n, "graft.entry", None, () => q(spark, sfDir))
    }

  def check(spark: SparkSession, cold: Map[String, Fp], taps: Map[String, Seq[Seq[Any]]]): Map[String, Seq[String]] =
    cold.map { case (n, fp) =>
      System.err.println(s"[graftbench] fingerprint $n ${fp.json}")
      n -> expected.get(n).fold(Seq(s"$n: no expected fingerprint"))(e => Checks.fingerprint(n, e, fp))
    }

  def inputPaths: Seq[String] = Nil
  /** This workload writes no generated geometry; the micro-benchmark uses
    * the overlay generator's shapes for seed 0. */
  def geomSample(spark: SparkSession): (Seq[Geometry], Seq[Geometry]) =
    new OverlayDissolve(0).geomSample(spark)
}

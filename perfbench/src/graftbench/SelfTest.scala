package graftbench

import graft.geom.Wkb
import org.locationtech.jts.geom.{Coordinate, Geometry}

/** The benchmark's own tests, run in one JVM at a small scale:
  * generators are deterministic in the seed, and every correctness check
  * rejects a deliberately corrupted result. Prints one line per test and
  * exits non-zero if any fails. */
object SelfTest {
  private var failures = 0
  private def expect(name: String, ok: Boolean): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def run(o: Main.Opts): Unit = {
    val spark = Main.session(2, o.work)
    try {
      generators(spark, o.work)
      taps(spark)
      checks()
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }

  private def generators(spark: org.apache.spark.sql.SparkSession, work: String): Unit =
    Seq("sjoin_grid", "overlay_dissolve").foreach { w =>
      def prints(seed: Long, dir: String): Seq[Fp] = {
        val tabs = Gen.tables(w, seed, 0.01)
        Gen.write(spark, tabs, dir)
        Gen.read(spark, tabs, dir).toSeq.sortBy(_._1).map(t => Fp.of(t._2.df, None))
      }
      val a = prints(1, s"$work/gen-$w-a")
      val b = prints(1, s"$work/gen-$w-b")
      val c = prints(2, s"$work/gen-$w-c")
      expect(s"$w: same seed gives identical GeoParquet fingerprints", a == b)
      expect(s"$w: another seed changes every table's fingerprint", a.zip(c).forall { case (x, y) => x != y })
      if (w == "overlay_dissolve") {
        val z = Gen.sizes(0.01).coverage
        val cells = (0L until z.toLong * z).map(i => Wkb.read(Gen.coverRow(1, z, i).getAs[Array[Byte]](2)))
        expect("overlay_dissolve: coverage cells are valid and tile 750×750 exactly",
          cells.forall(_.isValid) && math.abs(cells.map(_.getArea).sum - 750.0 * 750.0) < 1e-6 &&
            math.abs(graft.geom.GeomOps.unionAll(cells).getArea - 750.0 * 750.0) < 1e-6)
      }
    }

  /** A tap keeps exactly the rows whose key is selected, by Long or String key. */
  private def taps(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"k${i % 10}", i.toInt * 2)).toDF("id", "k", "v").repartition(3)
    val (fp, byId) = Fp.tapped(df, None, Some(Tap("id", Set(3L, 500L, 999L, 5000L), Seq("id", "v"))))
    expect("tap: Long keys keep exactly their rows, fingerprint unchanged",
      byId.map(r => (r(0), r(1))).toSet == Set((3L, 6), (500L, 1000), (999L, 1998)) && fp == Fp.of(df, None))
    val (_, byK) = Fp.tapped(df, None, Some(Tap("k", Set("k7"), Seq("id", "k"))))
    expect("tap: String keys keep exactly their rows",
      byK.size == 100 && byK.forall(r => r(1) == "k7" && r(0).asInstanceOf[Long] % 10 == 7))
  }

  private def box(x0: Double, y0: Double, x1: Double, y1: Double): Geometry =
    Wkb.factory.createPolygon(Array(new Coordinate(x0, y0), new Coordinate(x1, y0), new Coordinate(x1, y1),
      new Coordinate(x0, y1), new Coordinate(x0, y0)))
  private def pt(x: Double, y: Double): Geometry = Wkb.factory.createPoint(new Coordinate(x, y))

  private def checks(): Unit = {
    val polys = Seq(1L -> box(0, 0, 10, 10), 2L -> box(5, 5, 15, 15), 3L -> box(20, 20, 30, 30))
    val points = Seq(10L -> pt(1, 1), 11L -> pt(6, 6), 12L -> pt(50, 50), 13L -> pt(25, 25))
    val want = Checks.bruteForcePairs(points, polys)
    expect("brute force finds the known pairs", want == Set((10L, 1L), (11L, 1L), (11L, 2L), (13L, 3L)))
    val got = want.toSeq
    expect("pairs: exact result passes", Checks.pairs("t", want, got).isEmpty)
    expect("pairs: a missing pair fails", Checks.pairs("t", want, got.tail).nonEmpty)
    expect("pairs: an extra pair fails", Checks.pairs("t", want, got :+ ((12L, 1L))).nonEmpty)
    expect("pairs: a duplicated pair fails", Checks.pairs("t", want, got :+ got.head).nonEmpty)

    val agg = Map(1L -> (2L, 30L), 3L -> (1L, 7L))
    val aggRows = agg.toSeq.map { case (k, (n, v)) => (k, n, v) }
    expect("group counts: exact result passes", Checks.groupCounts("t", agg, aggRows).isEmpty)
    expect("group counts: a wrong count fails", Checks.groupCounts("t", agg, aggRows.map(r => r.copy(_2 = r._2 + 1))).nonEmpty)
    expect("group counts: a wrong sum fails", Checks.groupCounts("t", agg, aggRows.map(r => r.copy(_3 = r._3 - 1))).nonEmpty)
    expect("group counts: a missing group fails", Checks.groupCounts("t", agg, aggRows.tail).nonEmpty)
    expect("group counts: a group without a match fails", Checks.groupCounts("t", agg, aggRows :+ ((2L, 1L, 5L))).nonEmpty)

    val probes = points.map(_._1).toSet
    val left = got.map { case (p, r) => (p, Option(r)) } :+ ((12L, None))
    expect("left pairs: exact result passes", Checks.leftPairs("t", probes, want, left).isEmpty)
    expect("left pairs: a dropped unmatched row fails", Checks.leftPairs("t", probes, want, left.init).nonEmpty)
    expect("left pairs: a matched probe also emitted as null fails",
      Checks.leftPairs("t", probes, want, left :+ ((10L, None))).nonEmpty)

    // A = [0,10]², coverage = two cells covering its left 6 columns
    val a = box(0, 0, 10, 10)
    val cov = Seq(box(-5, -5, 3, 20), box(3, -5, 6, 20))
    val inter = cov.map(c => (1L, a.intersection(c).getArea))
    val diff = Seq((1L, a.difference(graft.geom.GeomOps.unionAll(cov)).getArea))
    val areaA = Map(1L -> a.getArea)
    expect("area identity: exact result passes", Checks.areaIdentity(areaA, inter, diff).isEmpty)
    expect("area identity: a shrunken intersection fails",
      Checks.areaIdentity(areaA, inter.map { case (k, v) => (k, v * 0.99) }, diff).nonEmpty)
    expect("area identity: a dropped difference row fails", Checks.areaIdentity(areaA, inter, Nil).nonEmpty)

    val dis = Map("z1" -> 60.0, "z2" -> 40.0)
    expect("dissolve: exact result passes", Checks.dissolveAreas(dis, dis).isEmpty)
    expect("dissolve: an area off by 1% fails", Checks.dissolveAreas(dis, dis.updated("z1", 60.6)).nonEmpty)
    expect("dissolve: a missing group fails", Checks.dissolveAreas(dis, dis - "z2").nonEmpty)

    val mask = box(0, 0, 8, 8)
    // 1 and 2 overlap the mask, 3 misses it
    val srcs = Map(1L -> box(4, 4, 12, 12), 2L -> box(-2, 1, 3, 3), 3L -> box(20, 20, 30, 30))
    val exact = Seq(1L, 2L).map(k => k -> srcs(k).intersection(mask))
    expect("clip: exact result passes", Checks.clip(mask, srcs, exact).isEmpty)
    expect("clip: a dropped row fails", Checks.clip(mask, srcs, exact.tail).nonEmpty)
    expect("clip: an empty result fails", Checks.clip(mask, srcs, Nil).nonEmpty)
    expect("clip: a shrunken piece fails",
      Checks.clip(mask, srcs, exact.updated(0, 1L -> box(4, 4, 7.9, 8))).nonEmpty)
    expect("clip: a duplicated row fails", Checks.clip(mask, srcs, exact :+ exact.head).nonEmpty)
    expect("clip: a row for a polygon outside the mask fails",
      Checks.clip(mask, srcs, exact :+ (3L -> srcs(3L))).nonEmpty)
    expect("clip: an unclipped geometry fails", Checks.clip(mask, srcs, exact.updated(0, 1L -> srcs(1L))).nonEmpty)
    expect("clip: a piece of the right area outside the mask fails",
      Checks.clip(mask, srcs, exact.updated(0, 1L -> box(8, 8, 12, 12))).nonEmpty)
    expect("clip: a geometry outside its source fails",
      Checks.clip(mask, srcs, exact.updated(0, 1L -> box(0, 0, 4, 4))).nonEmpty)

    val fp = Fp(10, 12345L, 2.5)
    expect("fingerprint: equal passes", Checks.fingerprint("t", fp, fp.copy(area = 2.5 + 1e-12)).isEmpty)
    expect("fingerprint: another hash fails", Checks.fingerprint("t", fp, fp.copy(hash = 12346L)).nonEmpty)
    expect("fingerprint: another row count fails", Checks.fingerprint("t", fp, fp.copy(rows = 11)).nonEmpty)
    expect("fingerprint: another area fails", Checks.fingerprint("t", fp, fp.copy(area = 2.6)).nonEmpty)
  }
}

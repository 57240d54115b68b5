package graft

import graft.agg.{GeoAggregates, GeomUnionAgg, UnionKernel}
import graft.functions.GeoFunctions.st_area
import graft.geom.{GeomOps, Wkb}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.locationtech.jts.geom.{Geometry, TopologyException}
import org.locationtech.jts.io.WKBReader
import org.locationtech.jts.operation.overlayng.OverlayNGRobust
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The union aggregate behind st_union_agg, st_coverage_union_agg and
  * st_disjoint_subset_union_agg, and the union kernel under it. */
class GeomUnionAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val aggs: Seq[(String, Column => Column)] = Seq(
    "st_union_agg" -> GeoAggregates.st_union_agg,
    "st_coverage_union_agg" -> GeoAggregates.st_coverage_union_agg,
    "st_disjoint_subset_union_agg" -> GeoAggregates.st_disjoint_subset_union_agg)

  /** A 12x12 grid of unit boxes (a coverage) in `parts` partitions; group
    * `k` holds the boxes of every fourth column. */
  private def grid(parts: Int): DataFrame =
    (for (i <- 0 until 12; j <- 0 until 12) yield (i % 4, Wkb.write(GeomOps.makeBox(i, j, i + 1, j + 1))))
      .toDF("k", "geometry").repartition(parts)

  private def driverAreas(df: DataFrame): Map[Int, Double] =
    df.as[(Int, Array[Byte])].collect().groupBy(_._1).map { case (k, rows) =>
      k -> GeomOps.unionAll(rows.map(r => Wkb.read(r._2)).toSeq).getArea
    }

  private def areas(df: DataFrame, agg: Column => Column): Map[Int, Double] =
    df.groupBy("k").agg(st_area(agg(col("geometry"))).as("a")).as[(Int, Double)].collect().toMap

  private def close(a: Map[Int, Double], b: Map[Int, Double]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) => math.abs(v - b(k)) < 1e-9 }

  test("null-only and empty groups give null") {
    val nullG: Array[Byte] = null
    val df = Seq((1, nullG), (1, nullG), (2, Wkb.write(GeomOps.makeBox(0, 0, 1, 1)))).toDF("k", "geometry")
    aggs.foreach { case (name, agg) =>
      val got = df.groupBy("k").agg(agg(col("geometry")).as("u")).as[(Int, Array[Byte])].collect().toMap
      assert(got(1) == null, name)
      assert(Wkb.read(got(2)).getArea == 1.0, name)
      val none = df.filter(col("k") === 3).agg(agg(col("geometry")).as("u")).head()
      assert(none.isNullAt(0), name)
    }
  }

  test("a group with one piece gives that piece") {
    val box = Wkb.write(GeomOps.makeBox(0, 0, 2, 3))
    val df = Seq((1, box)).toDF("k", "geometry")
    aggs.foreach { case (name, agg) =>
      val u = Wkb.read(df.groupBy("k").agg(agg(col("geometry"))).head().getAs[Array[Byte]](1))
      assert(u.equalsTopo(Wkb.read(box)), name)
    }
  }

  test("pieces spread over several partitions union to the driver-side GeomOps.unionAll") {
    val df = grid(6)
    assert(df.rdd.getNumPartitions == 6)
    val want = driverAreas(df)
    assert(want == Map(0 -> 36.0, 1 -> 36.0, 2 -> 36.0, 3 -> 36.0))
    aggs.foreach { case (name, agg) => assert(close(areas(df, agg), want), name) }
    // overlapping pieces: a ring of boxes that overlap their neighbours
    val ring = (0 until 40).map { i =>
      val a = 2 * math.Pi * i / 40
      (i % 3, Wkb.write(GeomOps.makeBox(10 * math.cos(a), 10 * math.sin(a), 10 * math.cos(a) + 3, 10 * math.sin(a) + 3)))
    }.toDF("k", "geometry").repartition(5)
    assert(close(areas(ring, GeoAggregates.st_union_agg), driverAreas(ring)))
    assert(close(areas(ring, GeoAggregates.st_disjoint_subset_union_agg), driverAreas(ring)))
  }

  test("the sort-based fallback of the object hash aggregate gives the same unions") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val saved = spark.conf.getOption(key)
    val df = (for (g <- 0 until 30; j <- 0 until 5) yield (g, Wkb.write(GeomOps.makeBox(g, j, g + 1.5, j + 1))))
      .toDF("k", "geometry").repartition(3)
    val want = driverAreas(df)
    assert(want.size == 30 && want.values.forall(_ == 7.5))
    try {
      spark.conf.set(key, "2")
      aggs.foreach { case (name, agg) => assert(close(areas(df, agg), want), name) }
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("SQL calls under all three names") {
    grid(4).createOrReplaceTempView("union_agg_grid")
    aggs.foreach { case (name, _) =>
      val got = spark.sql(s"SELECT k, st_area($name(geometry)) AS a FROM union_agg_grid GROUP BY k")
        .as[(Int, Double)].collect().toMap
      assert(got == Map(0 -> 36.0, 1 -> 36.0, 2 -> 36.0, 3 -> 36.0), name)
    }
    val err = intercept[Exception](spark.sql("SELECT st_union_agg(k) FROM union_agg_grid").collect())
    assert(err.getMessage.contains("st_union_agg"), err.getMessage)
  }

  test("serialize unions the buffer into one partial, and a lone partial is returned as is") {
    val agg = GeomUnionAgg(Literal(null, BinaryType), UnionKernel.Unary)
    val buf = agg.createAggregationBuffer()
    Seq(GeomOps.makeBox(0, 0, 2, 2), GeomOps.makeBox(1, 1, 3, 3), GeomOps.makeBox(5, 5, 6, 6))
      .foreach(g => buf.raw += Wkb.write(g))
    val partial = agg.serialize(buf)
    assert(Wkb.read(partial).getArea == 8.0)
    val merged = agg.merge(agg.createAggregationBuffer(), agg.deserialize(partial))
    assert(agg.eval(merged).asInstanceOf[AnyRef] eq partial)
    assert(agg.eval(agg.deserialize(agg.serialize(agg.createAggregationBuffer()))) == null)
  }

  test("a buffer is unioned in place when it reaches its kernel's compaction point") {
    val agg = GeomUnionAgg(BoundReference(0, BinaryType, nullable = true), UnionKernel.Unary)
    val buf = agg.createAggregationBuffer()
    (0 until UnionKernel.Unary.compactAt - 1).foreach { i =>
      agg.update(buf, InternalRow(Wkb.write(GeomOps.makeBox(i, 0, i + 1, 1))))
    }
    assert(buf.raw.size == UnionKernel.Unary.compactAt - 1 && buf.partials.isEmpty)
    agg.update(buf, InternalRow(Wkb.write(GeomOps.makeBox(0, 0, 1, 2))))
    assert(buf.raw.isEmpty && buf.partials.size == 1)
    assert(Wkb.read(agg.eval(buf).asInstanceOf[Array[Byte]]).getArea == UnionKernel.Unary.compactAt)
  }

  test("unionAll recovers from the TopologyException UnaryUnion throws on overlay-cut pieces") {
    // 55 pieces of one dissolve group that perfbench's overlay_dissolve cut
    // (seed 201, 5 600 left polygons); JTS UnaryUnion fails on them with
    // "Ring edge missing" even after its own snapping fallbacks, and so does
    // OverlayNGRobust after its snap-rounding one: only unionAll's retry on
    // the safe-scale grid unions them
    val reader = new WKBReader()
    val pieces: Seq[Geometry] = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/union_ring_edge_missing.wkbhex"))
      .getLines().filter(_.nonEmpty).map(h => reader.read(WKBReader.hexToBytes(h))).toSeq
    assert(pieces.size == 55)
    intercept[TopologyException](UnaryUnionOp.union(pieces.asJava))
    intercept[TopologyException](OverlayNGRobust.union(Wkb.factory.buildGeometry(pieces.asJava)))
    val u = GeomOps.unionAll(pieces)
    assert(u.isValid)
    assert(u.getArea <= pieces.map(_.getArea).sum)
    pieces.foreach(p => assert(math.abs(u.intersection(p).getArea - p.getArea) < 1e-6 * p.getArea))
  }

  test("st_union_agg and dissolve give a valid union of overlay-cut pieces on every partition split") {
    // the 44 overlay pieces of zone z147 in perfbench's overlay_dissolve,
    // seed 1304: JTS's legacy cascaded UnaryUnion returns an invalid union
    // of them (area 3083.913784) and throws nothing; OverlayNG's union is
    // valid (area 3083.751908)
    val reader = new WKBReader()
    val pieces: Seq[Geometry] = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/dissolve_z147_pieces.wkbhex"))
      .getLines().filter(_.nonEmpty).map(h => reader.read(WKBReader.hexToBytes(h))).toSeq
    assert(pieces.size == 44 && pieces.forall(_.isValid))
    assert(!UnaryUnionOp.union(pieces.asJava).isValid)
    val want = OverlayNGRobust.union(Wkb.factory.buildGeometry(pieces.asJava)).getArea
    val df = pieces.zipWithIndex.map { case (g, i) => (i, "z147", Wkb.write(g)) }.toDF("i", "zone", "geometry")
    for (parts <- Seq(1, 2, 3, 5)) {
      val split = df.repartitionByRange(parts, col("i"))
      val viaAgg = split.agg(GeoAggregates.st_union_agg(col("geometry"))).head().getAs[Array[Byte]](0)
      val viaDissolve = graft.api.GeoDataFrame(split.select("zone", "geometry")).dissolve(by = Seq("zone"))
        .df.select("geometry").head().getAs[Array[Byte]](0)
      for ((name, wkb) <- Seq("st_union_agg" -> viaAgg, "dissolve" -> viaDissolve)) {
        val u = Wkb.read(wkb)
        assert(u.isValid, s"$name over $parts partitions")
        assert(math.abs(u.getArea - want) <= 1e-9 * want, s"$name over $parts partitions: area ${u.getArea}, want $want")
      }
    }
  }
}

package graft

import graft.functions.GeoFunctions._
import graft.geom.GeomOps
import graft.io.Gpkg
import graft.join.SpatialJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM GeoPackage reader against a spec-built fixture: a 5×5 polygon
  * grid layer + a 400-point layer that includes an SQLite overflow-page row
  * (payload > page size) and a NULL geometry. The reference reads the same
  * format through GDAL (`io/file.py:197-339`, `tests/test_file.py`). */
class GpkgSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val fixture = getClass.getResource("/fixtures/grid.gpkg").getPath

  test("listLayers enumerates the feature tables (ref list_layers)") {
    assert(Gpkg.listLayers(spark, fixture).toSet ==
      Set(("cells", "POLYGON"), ("pts", "POINT")))
  }

  test("cells layer: schema, typed attributes, polygon geometry, EPSG CRS") {
    val gdf = Gpkg.read(spark, fixture, layer = Some("cells"))
    val df = gdf.df.cache()
    try {
      assert(df.columns.toSeq == Seq("fid", "name", "region", "score", "flag", "geom"))
      assert(df.count() == 25)
      assert(gdf.activeCrs.contains("EPSG:4326"))
      assert(gdf.geometryCol == "geom")
      // typed attributes survive: int pk (rowid alias), text, long, double, boolean
      val r = df.filter(col("name") === "cell7").select("fid", "region", "score", "flag")
        .as[(Long, Long, Double, Boolean)].head()
      assert(r == ((8L, 2L, 10.5, true)))
      // geometry decodes to the expected 20x20 cells
      val area = df.select(sum(st_area(col("geom")))).as[Double].head()
      assert(area == 25 * 400.0)
    } finally df.unpersist()
  }

  test("pts layer: 401 rows, overflow-page text survives, NULL geometry kept") {
    val df = Gpkg.read(spark, fixture, layer = Some("pts")).df.cache()
    try {
      assert(df.count() == 401)
      val big = df.filter(col("val") === 123).select("label").as[String].head()
      assert(big.length == 5004 && big.startsWith("big:") && big.endsWith("xxx"),
        "overflow-chain payload must reassemble exactly")
      assert(df.filter(col("geom").isNull).select("label").as[String].collect().toSeq == Seq("nogeom"))
      val xs = df.filter(col("val") === 10).select(st_x(col("geom"))).as[Double].head()
      assert(xs == 70.0) // (10*7) % 100
    } finally df.unpersist()
  }

  test("default layer is the first feature table; unknown layer raises") {
    assert(Gpkg.read(spark, fixture).df.columns.contains("name")) // cells
    intercept[IllegalArgumentException](Gpkg.read(spark, fixture, layer = Some("nope")))
  }

  test("pushdown args: bbox, mask, columns, rows") {
    val bboxed = Gpkg.read(spark, fixture, layer = Some("cells"), bbox = Some((0.0, 0.0, 19.0, 19.0)))
    assert(bboxed.df.count() == 1) // only cell0 intersects strictly inside the first cell
    val tri = graft.geom.Wkb.write(graft.geom.Wkb.factory.createPolygon(Array(
      new org.locationtech.jts.geom.Coordinate(0, 0),
      new org.locationtech.jts.geom.Coordinate(45, 0),
      new org.locationtech.jts.geom.Coordinate(0, 45),
      new org.locationtech.jts.geom.Coordinate(0, 0))))
    val masked = Gpkg.read(spark, fixture, layer = Some("cells"), mask = Some(tri)).df
      .select("name").as[String].collect().toSet
    val posthoc = Gpkg.read(spark, fixture, layer = Some("cells")).df
      .filter(st_intersects(col("geom"), lit(tri))).select("name").as[String].collect().toSet
    assert(masked == posthoc && masked.nonEmpty)
    val pruned = Gpkg.read(spark, fixture, layer = Some("cells"),
      columns = Some(Seq("name")), rows = Some(3))
    assert(pruned.df.columns.toSeq == Seq("name", "geom") && pruned.df.count() == 3)
  }

  test("where= predicate matches a post-hoc filter (ref OGR SQL restriction, io/file.py:197)") {
    val viaWhere = Gpkg.read(spark, fixture, layer = Some("cells"),
      where = Some("name like 'cell1%'")).df.select("name").as[String].collect().toSet
    val posthoc = Gpkg.read(spark, fixture, layer = Some("cells")).df
      .filter(col("name").like("cell1%")).select("name").as[String].collect().toSet
    assert(viaWhere == posthoc && viaWhere.nonEmpty)
    // where runs before rows= slices (OGR order), and composes with columns=
    val sliced = Gpkg.read(spark, fixture, layer = Some("cells"),
      where = Some("name like 'cell1%'"), rows = Some(2), columns = Some(Seq("name")))
    assert(sliced.df.count() == 2 &&
      sliced.df.select("name").as[String].collect().forall(_.startsWith("cell1")))
  }

  test("Gpkg.write round-trips through our reader (attrs, nulls, overflow, CRS)") {
    import graft.api.GeoDataFrame
    val big = "y" * 9000 // forces an overflow chain in the written file
    val df = (0 until 600).map { i =>
      (i * 2L, s"w$i", i * 0.25, i % 2 == 0,
        if (i == 77) big else s"note$i",
        if (i == 99) null else graft.geom.Wkb.write(GeomOps.point(i % 30, i / 30)))
    }.toDF("key", "name", "score", "flag", "note", "geometry")
    val gdf = GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:3857"))
    val out = java.nio.file.Files.createTempDirectory("gpkgw").toString + "/out.gpkg"
    Gpkg.write(gdf, out, layer = "stuff")

    assert(Gpkg.listLayers(spark, out) == Seq(("stuff", "POINT")))
    val back = Gpkg.read(spark, out)
    assert(back.geometryCol == "geometry")
    assert(back.activeCrs.contains("EPSG:3857"))
    assert(back.df.count() == 600)
    assert(back.df.columns.toSeq == Seq("fid", "key", "name", "score", "flag", "note", "geometry"))
    val r = back.df.filter(col("key") === 400L)
      .select(col("name"), col("score"), col("flag"), st_x(col("geometry")))
      .as[(String, Double, Boolean, Double)].head()
    assert(r == (("w200", 50.0, true, 20.0)))
    assert(back.df.filter(col("key") === 154L).select("note").as[String].head() == big)
    assert(back.df.filter(col("geometry").isNull).select("key").as[Long].collect().toSeq == Seq(198L))
    // fids are the written rowids 1..600
    assert(back.df.select(min(col("fid")), max(col("fid"))).as[(Long, Long)].head() == ((1L, 600L)))
  }

  test("Gpkg.write stores date/timestamp attributes as ISO-8601 text") {
    import graft.api.GeoDataFrame
    val df = Seq(
      (1L, java.sql.Date.valueOf("2026-03-14"),
        java.sql.Timestamp.from(java.time.Instant.parse("2026-03-14T15:09:26.535Z")),
        graft.geom.Wkb.write(GeomOps.point(1, 2))))
      .toDF("key", "d", "ts", "geometry")
    val gdf = GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:4326"))
    val out = java.nio.file.Files.createTempDirectory("gpkgdt").toString + "/dt.gpkg"
    Gpkg.write(gdf, out)
    val back = Gpkg.read(spark, out).df
    assert(back.select("d").as[String].head() == "2026-03-14")
    assert(back.select("ts").as[String].head() == "2026-03-14T15:09:26.535Z")
  }

  test("Gpkg.write refuses an over-cap frame instead of collecting it") {
    import graft.api.GeoDataFrame
    val df = (0 until 50).map(i => (i.toLong, graft.geom.Wkb.write(GeomOps.point(i, i))))
      .toDF("key", "geometry")
    val out = java.nio.file.Files.createTempDirectory("gpkgcap").toString + "/cap.gpkg"
    val e = intercept[IllegalArgumentException] {
      Gpkg.write(GeoDataFrame(df), out, maxRows = 10L)
    }
    assert(e.getMessage.contains("GeoParquet"))
  }

  test("read -> write -> read round-trip: existing fid becomes the rowid, no column collision") {
    val dir = java.nio.file.Files.createTempDirectory("gpkgrt").toString
    val first = Gpkg.read(spark, fixture, layer = Some("cells"))
    Gpkg.write(first, s"$dir/rt.gpkg", layer = "cells")
    // real sqlite-written fixture -> our writer -> our reader, fids preserved
    val second = Gpkg.read(spark, s"$dir/rt.gpkg")
    assert(second.df.columns.toSeq == first.df.columns.toSeq)
    assert(second.df.count() == 25)
    val a = first.df.select("fid", "name", "region", "score").as[(Long, String, Long, Double)]
      .collect().sortBy(_._1).toSeq
    val b = second.df.select("fid", "name", "region", "score").as[(Long, String, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(a == b)
    val area = second.df.select(sum(st_area(col("geom")))).as[Double].head()
    assert(area == 25 * 400.0)
  }

  test("GeoIO.readFile/toFile dispatch by extension") {
    import graft.api.GeoDataFrame
    val dir = java.nio.file.Files.createTempDirectory("geoio").toString
    val df = (0 until 50).map(i => (i.toLong, graft.geom.Wkb.write(GeomOps.point(i, i))))
      .toDF("id", "geometry")
    val gdf = GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:4326"))
    graft.io.GeoIO.toFile(gdf, s"$dir/a.gpkg")
    assert(graft.io.GeoIO.readFile(spark, s"$dir/a.gpkg").df.count() == 50)
    graft.io.GeoIO.toFile(gdf, s"$dir/a.feather")
    assert(graft.io.GeoIO.readFile(spark, s"$dir/a.feather").df.count() == 50)
    graft.io.GeoIO.toFile(gdf, s"$dir/a.geojson")
    assert(graft.io.GeoIO.readFile(spark, s"$dir/a.geojson").df.count() == 50)
    graft.io.GeoIO.toFile(gdf, s"$dir/pq")
    assert(graft.io.GeoIO.readFile(spark, s"$dir/pq").df.count() == 50)
    assert(graft.io.GeoIO.listLayers(spark, s"$dir/a.gpkg").nonEmpty)
  }

  test("gpkg points sjoin gpkg cells + dissolve round-trip") {
    import graft.api.GeoDataFrame
    val cells = Gpkg.read(spark, fixture, layer = Some("cells")).df
      .select(col("name"), col("region"), col("geom"))
    val pts = Gpkg.read(spark, fixture, layer = Some("pts")).df
      .filter(col("geom").isNotNull).select(col("val"), col("geom"))
    val joined = SpatialJoin.sjoin(pts, cells, predicate = "intersects", how = "inner",
      leftGeom = "geom", rightGeom = "geom")
    // every point lies on the 0..99 grid → inside at least one 20x20 cell
    assert(joined.select("val").distinct().count() == 400)
    val dissolved = GeoDataFrame(cells.select(col("region"), col("geom")), "geom")
      .dissolve(by = Seq("region")).df
    assert(dissolved.count() == 5)
    assert(dissolved.select(sum(st_area(col("geom")))).as[Double].head() == 25 * 400.0)
  }

}

package graft

import graft.functions.GeoFunctions._
import graft.geom.{GeomOps, Wkb}
import graft.io.Shapefile
import graft.join.SpatialJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM shapefile reader on committed stand-ins for the reference's
  * fixture corpus (naturalearth_lowres / naturalearth_cities, the canonical
  * sjoin pairing, and nybb_16a.zip — FIXTURES.md §1-3, ref
  * tests/util.py:17-21). `tools/make_shp_fixtures.py` writes them byte by
  * byte with the real layers' schema, row counts, .prj text and
  * multipart/hole structure, but synthetic geometry; the counts asserted
  * below come from its construction. */
class ShapefileSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def fixture(name: String) = getClass.getResource(s"/fixtures/shp/$name").getPath
  private val lowres = fixture("naturalearth_lowres/naturalearth_lowres.shp")
  private val cities = fixture("naturalearth_cities/naturalearth_cities.shp")

  test("a missing .shp path or directory fails at read, naming the path") {
    val dir = java.nio.file.Files.createTempDirectory("shpmissing").toString
    for (path <- Seq(s"$dir/absent.shp", s"$dir/absent_dir")) {
      val e = intercept[java.io.FileNotFoundException](Shapefile.read(spark, path))
      assert(e.getMessage.contains(path), e.getMessage)
    }
  }

  test("naturalearth_lowres: 177 countries, schema, valid polygons, lon/lat bounds") {
    val gdf = Shapefile.read(spark, lowres)
    val df = gdf.df.cache()
    try {
      assert(df.count() == 177)
      assert(df.columns.toSet == Set("pop_est", "continent", "name", "iso_a3", "gdp_md_est", "geometry"))
      assert(df.filter(col("geometry").isNull).count() == 0)
      // all polygonal, valid coordinates within lon/lat
      val kinds = df.select(st_geometrytype(col("geometry"))).distinct().as[String].collect().toSet
      assert(kinds.subsetOf(Set("Polygon", "MultiPolygon")))
      val b = df.select(min(st_x(st_centroid(col("geometry")))), max(st_x(st_centroid(col("geometry")))))
        .as[(Double, Double)].head()
      assert(b._1 >= -180 && b._2 <= 180)
      // attribute sanity: a known row
      val fr = df.filter(col("name") === "France").select("continent").as[String].head()
      assert(fr == "Europe")
      assert(gdf.crs.getOrElse("geometry", "").contains("GCS_WGS_1984") ||
        gdf.crs.getOrElse("geometry", "").contains("WGS84") || gdf.crs.getOrElse("geometry", "").contains("WGS_1984"))
    } finally df.unpersist()
  }

  test("naturalearth_cities: 243 points") {
    val df = Shapefile.read(spark, cities).df
    assert(df.count() == 243)
    assert(df.columns.toSet == Set("name", "geometry"))
    val kinds = df.select(st_geometrytype(col("geometry"))).distinct().as[String].collect().toSet
    assert(kinds == Set("Point"))
  }

  test("cities sjoin-within countries round-trips (the reference hello-world pairing)") {
    val countries = Shapefile.read(spark, lowres).df.select(col("name").as("country"), col("geometry"))
    val cap = Shapefile.read(spark, cities).df.select(col("name").as("city"), col("geometry"))
    val joined = SpatialJoin.sjoin(cap, countries, predicate = "intersects", how = "inner")
    val n = joined.count()
    // the fixture places 177 capitals and 23 second cities inside their own
    // country and 43 island cities in none
    assert(n == 200, s"expected the 200 cities placed inside a country, got $n")
    val paris = joined.filter(col("city") === "Paris").select("country").as[String].collect()
    assert(paris.toSeq == Seq("France"))
  }

  test("dissolve shapefile polygons by attribute") {
    import graft.api.GeoDataFrame
    val countries = Shapefile.read(spark, lowres).df.select(col("continent"), col("pop_est"), col("geometry"))
    val dissolved = GeoDataFrame(countries)
      .dissolve(by = Seq("continent"), aggfunc = Map("pop_est" -> "sum")).df
    // the fixture assigns the eight Natural Earth continents
    assert(dissolved.count() == 8)
    // dissolved area ~ sum of parts (union of disjoint country polygons)
    val (partArea, disArea) = (
      countries.select(sum(st_area(col("geometry")))).as[Double].head(),
      dissolved.select(sum(st_area(col("geometry")))).as[Double].head())
    assert(math.abs(partArea - disArea) / partArea < 1e-6)
  }

  test("nybb_16a.zip: the reference's canonical dissolve fixture (5 boroughs, EPSG:2263)") {
    import graft.api.GeoDataFrame
    val gdf = Shapefile.read(spark, fixture("nybb_16a.zip"))
    val df = gdf.df.cache()
    try {
      assert(df.count() == 5)
      assert(df.columns.toSet == Set("BoroCode", "BoroName", "Shape_Leng", "Shape_Area", "geometry"))
      val names = df.select("BoroName").as[String].collect().toSet
      assert(names == Set("Staten Island", "Queens", "Brooklyn", "Manhattan", "Bronx"))
      assert(gdf.crs.getOrElse("geometry", "").contains("New_York"))
      // reference's dissolve test shape: manhattan_bronx grouping -> 2 rows
      // (tests/test_dissolve.py:17-27)
      val grouped = df.withColumn("manhattan_bronx", when(col("BoroCode").isin(1L, 2L), 5).otherwise(6))
      val dissolved = GeoDataFrame(grouped.select(col("manhattan_bronx"), col("BoroCode"), col("geometry")))
        .dissolve(by = Seq("manhattan_bronx"), aggfunc = Map("BoroCode" -> "count")).df
      assert(dissolved.count() == 2)
      // areas preserved: sum of dissolved areas == sum of borough areas (disjoint)
      val a0 = df.select(sum(st_area(col("geometry")))).as[Double].head()
      val a1 = dissolved.select(sum(st_area(col("geometry")))).as[Double].head()
      assert(math.abs(a0 - a1) / a0 < 1e-9)
      // Shape_Area attribute roughly matches computed geometry area (ftUS^2)
      val (attr, geom) = df.select(sum(col("Shape_Area")), sum(st_area(col("geometry"))))
        .as[(Double, Double)].head()
      assert(math.abs(attr - geom) / attr < 0.01)
    } finally df.unpersist()
  }

  test("read_file pushdown args: bbox, columns, rows") {
    // bbox around western Europe — France intersects, Australia doesn't
    val eu = Shapefile.read(spark, lowres, bbox = Some((-10.0, 40.0, 10.0, 55.0)),
      columns = Some(Seq("name", "continent")))
    val names = eu.df.select("name").as[String].collect().toSet
    assert(names.contains("France") && !names.contains("Australia"))
    assert(eu.df.columns.toSet == Set("name", "continent", "geometry"))
    val limited = Shapefile.read(spark, lowres, rows = Some(5))
    assert(limited.df.count() == 5)
  }

  test("where= predicate matches a post-hoc filter and composes with bbox/columns") {
    val viaWhere = Shapefile.read(spark, lowres, where = Some("continent = 'Africa'")).df
      .select("name").as[String].collect().toSet
    val posthoc = Shapefile.read(spark, lowres).df
      .filter(col("continent") === "Africa").select("name").as[String].collect().toSet
    // the fixture's Africa has 51 countries, as Natural Earth's does
    assert(viaWhere == posthoc && viaWhere.size == 51)
    // composes: where may reference a column that columns= then prunes away
    val both = Shapefile.read(spark, lowres, bbox = Some((-10.0, 40.0, 10.0, 55.0)),
      where = Some("pop_est > 10000000"), columns = Some(Seq("name")))
    val ns = both.df.select("name").as[String].collect().toSet
    assert(ns.contains("France") && both.df.columns.toSeq == Seq("name", "geometry"))
  }

  test("fillna/isna/notna on geometry columns") {
    import graft.api.GeoDataFrame
    val df = Seq((1, Option(Wkb.write(GeomOps.point(1, 2)))), (2, None: Option[Array[Byte]]))
      .toDF("id", "geometry")
    val gdf = GeoDataFrame(df)
    assert(gdf.isna.filter(col("isna")).select("id").as[Int].collect().toSeq == Seq(2))
    assert(gdf.notna.filter(col("notna")).select("id").as[Int].collect().toSeq == Seq(1))
    val filled = gdf.fillna(Wkb.write(GeomOps.point(0, 0)))
    assert(filled.df.filter(col("geometry").isNull).count() == 0)
    val xs = filled.df.select(st_x(col("geometry"))).as[Double].collect().sorted.toSeq
    assert(xs == Seq(0.0, 1.0))
  }

  test("geocode raises without a provider; works with a plugged one") {
    val df = Seq((1, "somewhere")).toDF("id", "addr")
    assertThrows[UnsupportedOperationException](graft.ops.Geocoding.geocode(df, "addr"))
    val fake = new graft.ops.Geocoding.Geocoder {
      def forward(a: String) = Some((1.0, 2.0))
      def reverse(lon: Double, lat: Double) = Some(s"addr($lon,$lat)")
    }
    val out = graft.ops.Geocoding.geocode(df, "addr", Some(fake))
    assert(out.select(st_x(col("geometry"))).as[Double].head() == 1.0)
    val rev = graft.ops.Geocoding.reverseGeocode(out, "geometry", Some(fake))
    assert(rev.select("address").as[String].head() == "addr(1.0,2.0)")
  }

  test("an EPSG-coded CRS label exports as canonical .prj WKT (pyogrio parity)") {
    val gdf = graft.api.GeoDataFrame(
      Seq((1L, 2.0, 3.0)).toDF("id", "x", "y")
        .withColumn("geometry", st_point(col("x"), col("y"))).drop("x", "y"),
      "geometry", Map("geometry" -> "EPSG:4326"))
    val dir = java.nio.file.Files.createTempDirectory("shpprj").toString
    Shapefile.write(gdf, s"$dir/p.shp")
    val prj = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/p.prj")), "UTF-8")
    assert(prj.startsWith("GEOGCS[\"WGS 84\""), prj)
    // recoverable: the read-back WKT normalizes to the same code
    val back = Shapefile.read(spark, s"$dir/p.shp")
    assert(graft.crs.CrsTransform.normalizeOpt(back.crs("geometry")).contains(4326))
    // an already-WKT CRS passes through untouched
    assert(graft.crs.CrsTransform.prjText(prj) == prj)
  }

  test("write round-trip: countries through .shp/.dbf/.prj and back") {
    val gdf = Shapefile.read(spark, lowres)
    val dir = java.nio.file.Files.createTempDirectory("shpw").toString
    Shapefile.write(gdf, s"$dir/out.shp")
    val back = Shapefile.read(spark, s"$dir/out.shp")
    assert(back.df.count() == 177)
    assert(back.df.columns.toSet == gdf.df.columns.toSet)
    assert(back.crs.get("geometry").exists(_.contains("WGS")))
    val a0 = gdf.df.select(sum(st_area(col("geometry")))).as[Double].head()
    val a1 = back.df.select(sum(st_area(col("geometry")))).as[Double].head()
    assert(math.abs(a0 - a1) / a0 < 1e-12)
    // attributes survive typed: pop_est numeric, names strings
    val fr = back.df.filter(col("name") === "France").select("continent").as[String].head()
    assert(fr == "Europe")
    val pop = back.df.filter(col("name") === "France").select("pop_est").as[Double].head()
    assert(pop > 6.0e7 && pop < 7.0e7)
  }

  test("write round-trip: points with mixed attribute types") {
    import graft.api.GeoDataFrame
    val df = Seq((1L, "a", 1.25, true, Wkb.write(GeomOps.point(3, 4))),
      (2L, "b", -2.5, false, Wkb.write(GeomOps.point(-10, 20))))
      .toDF("id", "tag", "score", "flag", "geometry")
    val dir = java.nio.file.Files.createTempDirectory("shpw2").toString
    Shapefile.write(GeoDataFrame(df), s"$dir/pts.shp")
    val back = Shapefile.read(spark, s"$dir/pts.shp").df
    val rows = back.select("id", "tag", "score", "flag").as[(Long, String, Double, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", 1.25, true), (2L, "b", -2.5, false)))
    val xs = back.select(st_x(col("geometry"))).as[Double].collect().sorted.toSeq
    assert(xs == Seq(-10.0, 3.0))
  }

  test("writePartitioned: executor-side part files, no driver collect, round-trips") {
    val gdf = Shapefile.read(spark, lowres)
    val parted = gdf.copy(df = gdf.df.repartition(4))
    val dir = java.nio.file.Files.createTempDirectory("shpdist").toString + "/countries"
    Shapefile.writePartitioned(parted, dir)
    val parts = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(parts.count(_.endsWith(".shp")) >= 2, s"expected multiple part files, got ${parts.toSeq}")
    assert(parts.count(_.endsWith(".prj")) == parts.count(_.endsWith(".shp")))
    // the directory reads back as one layer corpus
    val back = Shapefile.read(spark, dir)
    assert(back.df.count() == 177)
    assert(back.crs.get("geometry").exists(_.contains("WGS")))
    val a0 = gdf.df.select(sum(st_area(col("geometry")))).as[Double].head()
    val a1 = back.df.select(sum(st_area(col("geometry")))).as[Double].head()
    assert(math.abs(a0 - a1) / a0 < 1e-12)
    val fr = back.df.filter(col("name") === "France").select("continent").as[String].head()
    assert(fr == "Europe")
  }

  test("dbf auto-width: huge numerics and long strings survive the write round trip") {
    import graft.api.GeoDataFrame
    val long = "x" * 200
    val df = Seq(
      (123456789012345678L, 1.23456789e15, long, Wkb.write(GeomOps.point(0, 0))),
      (-42L, -9.87654321e12, "short", Wkb.write(GeomOps.point(1, 1))))
      .toDF("big", "dbl", "txt", "geometry")
    val dir = java.nio.file.Files.createTempDirectory("shpw3").toString
    graft.io.Shapefile.write(GeoDataFrame(df), s"$dir/w.shp")
    val back = graft.io.Shapefile.read(spark, s"$dir/w.shp").df
    val rows = back.select("big", "dbl", "txt").as[(Long, Double, String)].collect().sortBy(_._1).toSeq
    assert(rows(1)._1 == 123456789012345678L)
    assert(math.abs(rows(1)._2 - 1.23456789e15) < 1.0)
    assert(rows(1)._3 == long)
    assert(rows(0)._1 == -42L && math.abs(rows(0)._2 - -9.87654321e12) < 1e-2)
  }

  test("read_file(mask=geometry) equals post-hoc intersects filter; bbox+mask raises") {
    // triangular mask over western Europe — strictly smaller than its bbox,
    // so an envelope-only implementation would differ
    val tri = Wkb.factory.createPolygon(Array(
      new org.locationtech.jts.geom.Coordinate(-10, 35),
      new org.locationtech.jts.geom.Coordinate(25, 35),
      new org.locationtech.jts.geom.Coordinate(5, 60),
      new org.locationtech.jts.geom.Coordinate(-10, 35)))
    val mwkb = Wkb.write(tri)
    val masked = Shapefile.read(spark, lowres, mask = Some(mwkb)).df
      .select("name").as[String].collect().toSet
    val posthoc = Shapefile.read(spark, lowres).df
      .filter(st_intersects(col("geometry"), lit(mwkb)))
      .select("name").as[String].collect().toSet
    assert(masked == posthoc && masked.contains("France"))
    intercept[IllegalArgumentException](
      Shapefile.read(spark, lowres, bbox = Some((0.0, 0.0, 1.0, 1.0)), mask = Some(mwkb)))
    // same mask semantics on the GeoJSON and GeoParquet readers
    import graft.api.GeoDataFrame
    val dir = java.nio.file.Files.createTempDirectory("maskio").toString
    val src = GeoDataFrame(Shapefile.read(spark, lowres).df.select(col("name"), col("geometry")))
    graft.io.GeoJsonIO.write(src, s"$dir/gj")
    val gjMasked = graft.io.GeoJsonIO.read(spark, s"$dir/gj", bbox = None, mask = Some(mwkb)).df
      .select("name").as[String].collect().toSet
    assert(gjMasked == posthoc)
    graft.io.GeoParquet.write(src, s"$dir/gpq")
    val gpqMasked = graft.io.GeoParquet.readMask(spark, s"$dir/gpq", mwkb).df
      .select("name").as[String].collect().toSet
    assert(gpqMasked == posthoc)
  }

  test("planar ops on a WKT-CRS frame warn instead of throwing (ADVICE r3)") {
    // Shapefile.read stores the raw .prj WKT as CRS; area/buffer must not
    // crash on a non-EPSG CRS string (ref array.py:435-446 only warns)
    val gdf = Shapefile.read(spark, lowres)
    assert(gdf.area.count() == 177)        // would NumberFormatException before the fix
    assert(gdf.buffer(0.1).df.count() == 177)
    // the lowres .prj is geographic WKT — the detector should see it
    assert(graft.crs.CrsTransform.isGeographic(gdf.crs("geometry")))
    // sjoin CRS check is also tolerant of WKT-vs-WKT frames
    val joined = gdf.sjoin(Shapefile.read(spark, cities))
    assert(joined.df.count() > 0)
  }

  test("toCrs works directly on shapefile-read frames (ESRI WKT name resolution)") {
    import org.locationtech.jts.geom.Coordinate
    // lowres .prj is ESRI GEOGCS["GCS_WGS_1984",...] with no AUTHORITY —
    // name-based resolution maps it to 4326 so reprojection just works
    val fr = Shapefile.read(spark, lowres).df.filter(col("name") === "France")
    val gdf = Shapefile.read(spark, lowres).copy(df = fr)
    assert(graft.crs.CrsTransform.normalizeOpt(gdf.crs("geometry")).contains(4326))
    val merc = gdf.toCrs("EPSG:3857")
    assert(merc.activeCrs.contains("EPSG:3857"))
    // reprojection round-trips: 4326 -> 3857 -> 4326 restores the centroid
    val cx0 = gdf.df.select(st_x(st_centroid(col("geometry")))).as[Double].head()
    val cxBack = merc.toCrs("EPSG:4326").df
      .select(st_x(st_centroid(col("geometry")))).as[Double].head()
    assert(math.abs(cx0 - cxBack) < 1e-6, s"$cx0 vs $cxBack")
    // and the projected x really is in meters (beyond lon/lat range)
    val mx = merc.df.select(st_x(st_centroid(col("geometry")))).as[Double].head()
    assert(math.abs(mx) > 1000, s"expected mercator meters, got $mx")
  }

  test("cx with open-ended slices falls back to total bounds") {
    import graft.api.GeoDataFrame
    val gdf = Shapefile.read(spark, cities)
    val all = gdf.cx(None, None, None, None).df.count()
    assert(all == 243)
    val north = gdf.cx(None, Some(0.0), None, None).df.count()
    val south = gdf.cx(None, None, None, Some(0.0)).df.count()
    assert(north > 0 && south > 0 && north + south >= 243) // equator points in both
    assert(north < 243 && south < 243)
  }

  test("write raises on mixed geometry-type frames instead of corrupting") {
    import graft.api.GeoDataFrame
    val mixed = Seq(
      (1L, Wkb.write(GeomOps.point(0, 0))),
      (2L, Wkb.write(GeomOps.makeBox(0, 0, 1, 1))))
      .toDF("id", "geometry")
    val dir = java.nio.file.Files.createTempDirectory("shpmx").toString
    val e = intercept[IllegalArgumentException](
      Shapefile.write(GeoDataFrame(mixed), s"$dir/mx.shp"))
    assert(e.getMessage.contains("mix"))
  }

  test("corrupt .shp with negative record length terminates (no infinite loop)") {
    // header declares a large file length, then one record whose contentLen
    // is negative — the scan must stop rather than spin
    val b = java.nio.ByteBuffer.allocate(112)
    b.order(java.nio.ByteOrder.BIG_ENDIAN)
    b.putInt(9994); b.position(24); b.putInt(1000) // fileLen in 16-bit words
    b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.position(32); b.putInt(1000).putInt(1)
    b.order(java.nio.ByteOrder.BIG_ENDIAN)
    b.position(100); b.putInt(1).putInt(-8) // record 1, contentLen -8 words
    val dir = java.nio.file.Files.createTempDirectory("shpcor")
    java.nio.file.Files.write(dir.resolve("bad.shp"), b.array())
    val df = Shapefile.read(spark, dir.resolve("bad.shp").toString).df
    assert(df.count() <= 1) // parsed as a single null geometry row at most
  }

  test("polygon holes: ring orientation assembly preserves area (vs envelope)") {
    // South Africa contains Lesotho as a hole in naturalearth_lowres
    val za = Shapefile.read(spark, lowres).df.filter(col("name") === "South Africa")
    val (area, envArea) = za.select(st_area(col("geometry")), st_area(st_envelope(col("geometry"))))
      .as[(Double, Double)].head()
    assert(area > 0 && area < envArea)
    val wkb = za.select("geometry").as[Array[Byte]].head()
    val g = graft.geom.Wkb.read(wkb)
    val nHoles = (0 until g.getNumGeometries).map(i =>
      g.getGeometryN(i).asInstanceOf[org.locationtech.jts.geom.Polygon].getNumInteriorRing).sum
    assert(nHoles >= 1, "South Africa should contain the Lesotho hole")
  }

  test("Shapefile.write refuses an over-cap frame instead of collecting it") {
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong, graft.geom.Wkb.write(GeomOps.point(i, i))))
      .toDF("key", "geometry")
    val base = java.nio.file.Files.createTempDirectory("shpcap").toString + "/cap"
    val e = intercept[IllegalArgumentException] {
      Shapefile.write(graft.api.GeoDataFrame(df), base + ".shp", maxRows = 10L)
    }
    assert(e.getMessage.contains("writePartitioned") || e.getMessage.contains("GeoParquet"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(base + ".shp")))
  }
}

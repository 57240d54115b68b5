package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: every function that `GraftSession.install` registers
  * is callable from spark.sql on the engine's session. */
class SqlRegistrationSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("st_* functions and aggregates work through SQL") {
    val row = spark.sql(
      """SELECT st_astext(st_point(1.0D, 2.0D)) AS wkt,
        |       st_area(st_makebox(0.0D, 0.0D, 2.0D, 3.0D)) AS a,
        |       st_intersects(st_point(1.0D, 1.0D), st_makebox(0.0D, 0.0D, 2.0D, 2.0D)) AS i,
        |       st_x(st_centroid(st_makebox(0.0D, 0.0D, 4.0D, 4.0D))) AS cx,
        |       text_fingerprint('hello') AS fp""".stripMargin).head()
    assert(row.getString(0) == "POINT (1 2)")
    assert(row.getDouble(1) == 6.0)
    assert(row.getBoolean(2))
    assert(row.getDouble(3) == 2.0)
    assert(row.getLong(4) > 0)

    spark.range(4).createOrReplaceTempView("t")
    val agg = spark.sql(
      """SELECT st_area(st_union_agg(st_makebox(CAST(id AS DOUBLE), 0.0D, CAST(id + 1 AS DOUBLE), 1.0D))) AS ua
        |FROM t""".stripMargin).head()
    assert(agg.getDouble(0) == 4.0)
  }

  test("SQL strings get the native expressions and GeomSimplify fusions") {
    spark.range(5).createOrReplaceTempView("sqlfuse")
    // integer arguments on purpose: the native builders must cast (a UDF
    // would have coerced silently; the raw expression would ClassCastException)
    val q = spark.sql(
      """SELECT id,
        |  st_length(st_makeline(st_point(CAST(id AS DOUBLE), 0.0D),
        |                        st_point(0.0D, CAST(id AS DOUBLE)))) AS seg,
        |  st_distance(st_point(id, 0), st_point(0, id)) AS dist,
        |  st_intersects(st_makebox(0, 0, id, id), st_makebox(1, 1, 9, 9)) AS i,
        |  st_area(st_envelope(st_makebox(0, 0, id, 2))) AS a
        |FROM sqlfuse""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("HYPOT"), s"SQL point distance/length must fuse:\n$plan")
    assert(plan.toLowerCase.contains("stboxintersectsbox")
      && plan.toLowerCase.contains("stenvboxarea"),
      s"SQL box predicate and envelope-area must fuse:\n$plan")
    assert(!plan.toLowerCase.contains("stmakebox") && !plan.toLowerCase.contains("stpoint"),
      s"no WKB construction may survive in the SQL plan:\n$plan")
    val rows = q.collect().map(r => r.getLong(0) ->
      (r.getDouble(1), r.getDouble(2), r.getBoolean(3), r.getDouble(4))).toMap
    for (i <- 0L until 5L) {
      val h = math.hypot(i.toDouble, i.toDouble)
      assert(rows(i)._1 == h && rows(i)._2 == h)
      assert(rows(i)._3 == (i >= 1), s"id=$i intersects")
      assert(rows(i)._4 == i * 2.0)
    }
  }

  test("round-3 SQL surface: coverage agg, M/identical/precision, grid overlays, EWKB") {
    spark.range(4).createOrReplaceTempView("t3")
    val cov = spark.sql(
      """SELECT st_area(st_coverage_union_agg(st_makebox(CAST(id AS DOUBLE), 0.0D, CAST(id + 1 AS DOUBLE), 1.0D))) AS ca
        |FROM t3""".stripMargin).head()
    assert(cov.getDouble(0) == 4.0)
    val row = spark.sql(
      """SELECT st_has_m(st_point(1.0D, 2.0D)) AS hm,
        |       st_geom_equals_identical(st_point(1.0D, 2.0D), st_point(1.0D, 2.0D)) AS ident,
        |       st_get_precision(st_point(1.0D, 2.0D)) AS prec,
        |       st_area(st_intersection_grid(st_makebox(0.0D, 0.0D, 1.04D, 1.0D),
        |                                    st_makebox(0.5D, 0.0D, 2.0D, 1.0D), 0.1D)) AS ga,
        |       ewkb_srid(ewkb_encode_hex(st_point(1.0D, 2.0D), 4326)) AS srid""".stripMargin).head()
    assert(!row.getBoolean(0))
    assert(row.getBoolean(1))
    assert(row.getDouble(2) == 0.0)
    assert(math.abs(row.getDouble(3) - 0.5) < 1e-9)
    assert(row.getInt(4) == 4326)
  }

  test("st_simplify_coverage keeps null slots positional (empty substitute, no drop)") {
    import graft.geom.Wkb
    import spark.implicits._
    // two polygons sharing a jagged edge, with a NULL in the middle slot:
    // output must stay index-aligned with input (the arrays_zip re-attach in
    // GeoDataFrame.simplifyCoverage pairs results back by position)
    val a = Wkb.write(Wkb.readWkt("POLYGON ((0 0, 0 10, 5 10, 5.1 7, 4.9 5, 5.1 3, 5 0, 0 0))"))
    val b = Wkb.write(Wkb.readWkt("POLYGON ((5 10, 10 10, 10 0, 5 0, 5.1 3, 4.9 5, 5.1 7, 5 10))"))
    val parts = Seq((a, b)).toDF("a", "b")
      .selectExpr("st_simplify_coverage(array(a, NULL, b), 1.0D) AS parts")
      .head().getSeq[Array[Byte]](0)
    assert(parts.length == 3, "null slot must not be dropped")
    assert(Wkb.read(parts(1)).isEmpty, "null slot becomes the empty-polygon substitute")
    assert(!Wkb.read(parts(0)).isEmpty && !Wkb.read(parts(2)).isEmpty)
    // the real geometries were actually simplified and stayed at their slots
    assert(Wkb.read(parts(2)).getNumPoints < Wkb.read(b).getNumPoints)
    assert(math.abs(Seq(parts(0), parts(2)).map(Wkb.read(_).getArea).sum
      - (Wkb.read(a).getArea + Wkb.read(b).getArea)) < 1e-6)
  }
}

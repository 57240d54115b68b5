package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: every function that `GraftSession.install` registers
  * is callable from spark.sql on the engine's session. */
class SqlRegistrationSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** Every geometry function the SQL surface has registered since it was a
    * set of Spark UDFs: name, argument types and result type. */
  private val registered: Seq[(String, Seq[String], String)] = """
    |st_point(DOUBLE, DOUBLE) BINARY
    |st_point_z(DOUBLE, DOUBLE, DOUBLE) BINARY
    |st_makebox(DOUBLE, DOUBLE, DOUBLE, DOUBLE) BINARY
    |st_makeline(BINARY, BINARY) BINARY
    |st_geomfromwkt(STRING) BINARY
    |st_geomfromwkb(BINARY) BINARY
    |st_astext(BINARY) STRING
    |st_asgeojson(BINARY) STRING
    |st_geomfromgeojson(STRING) BINARY
    |st_isvalid(BINARY) BOOLEAN
    |st_isvalidreason(BINARY) STRING
    |st_isempty(BINARY) BOOLEAN
    |st_issimple(BINARY) BOOLEAN
    |st_isring(BINARY) BOOLEAN
    |st_isccw(BINARY) BOOLEAN
    |st_isclosed(BINARY) BOOLEAN
    |st_hasz(BINARY) BOOLEAN
    |st_intersects(BINARY, BINARY) BOOLEAN
    |st_contains(BINARY, BINARY) BOOLEAN
    |st_contains_properly(BINARY, BINARY) BOOLEAN
    |st_within(BINARY, BINARY) BOOLEAN
    |st_covers(BINARY, BINARY) BOOLEAN
    |st_covered_by(BINARY, BINARY) BOOLEAN
    |st_crosses(BINARY, BINARY) BOOLEAN
    |st_disjoint(BINARY, BINARY) BOOLEAN
    |st_overlaps(BINARY, BINARY) BOOLEAN
    |st_touches(BINARY, BINARY) BOOLEAN
    |st_equals(BINARY, BINARY) BOOLEAN
    |st_equals_exact(BINARY, BINARY, DOUBLE) BOOLEAN
    |st_dwithin(BINARY, BINARY, DOUBLE) BOOLEAN
    |st_relate(BINARY, BINARY) STRING
    |st_relate_pattern(BINARY, BINARY, STRING) BOOLEAN
    |st_area(BINARY) DOUBLE
    |st_length(BINARY) DOUBLE
    |st_distance(BINARY, BINARY) DOUBLE
    |st_hausdorff_distance(BINARY, BINARY) DOUBLE
    |st_frechet_distance(BINARY, BINARY) DOUBLE
    |st_x(BINARY) DOUBLE
    |st_y(BINARY) DOUBLE
    |st_z(BINARY) DOUBLE
    |st_npoints(BINARY) INT
    |st_ngeometries(BINARY) INT
    |st_n_interior_rings(BINARY) INT
    |st_geometrytype(BINARY) STRING
    |st_bounds(BINARY) STRUCT<xmin: DOUBLE NOT NULL, ymin: DOUBLE NOT NULL, xmax: DOUBLE NOT NULL, ymax: DOUBLE NOT NULL>
    |st_boundary(BINARY) BINARY
    |st_centroid(BINARY) BINARY
    |st_representative_point(BINARY) BINARY
    |st_convex_hull(BINARY) BINARY
    |st_concave_hull(BINARY, DOUBLE, BOOLEAN) BINARY
    |st_envelope(BINARY) BINARY
    |st_minimum_rotated_rectangle(BINARY) BINARY
    |st_minimum_bounding_circle(BINARY) BINARY
    |st_maximum_inscribed_circle(BINARY, DOUBLE) BINARY
    |st_normalize(BINARY) BINARY
    |st_make_valid(BINARY) BINARY
    |st_reverse(BINARY) BINARY
    |st_segmentize(BINARY, DOUBLE) BINARY
    |st_force_2d(BINARY) BINARY
    |st_force_3d(BINARY, DOUBLE) BINARY
    |st_line_merge(BINARY) BINARY
    |st_simplify(BINARY, DOUBLE, BOOLEAN) BINARY
    |st_buffer(BINARY, DOUBLE) BINARY
    |st_buffer_full(BINARY, DOUBLE, INT, INT, INT, DOUBLE, BOOLEAN) BINARY
    |st_interpolate(BINARY, DOUBLE, BOOLEAN) BINARY
    |st_clip_by_rect(BINARY, DOUBLE, DOUBLE, DOUBLE, DOUBLE) BINARY
    |st_snap(BINARY, BINARY, DOUBLE) BINARY
    |st_shortest_line(BINARY, BINARY) BINARY
    |st_geometry_n(BINARY, INT) BINARY
    |st_delaunay_triangles(BINARY, DOUBLE, BOOLEAN) BINARY
    |st_voronoi_polygons(BINARY, DOUBLE, BOOLEAN) BINARY
    |st_build_area(BINARY) BINARY
    |st_sample_points(BINARY, INT, BIGINT) BINARY
    |st_translate(BINARY, DOUBLE, DOUBLE) BINARY
    |st_rotate(BINARY, DOUBLE, DOUBLE, DOUBLE) BINARY
    |st_scale(BINARY, DOUBLE, DOUBLE, DOUBLE, DOUBLE) BINARY
    |st_skew(BINARY, DOUBLE, DOUBLE, DOUBLE, DOUBLE) BINARY
    |st_affine(BINARY, DOUBLE, DOUBLE, DOUBLE, DOUBLE, DOUBLE, DOUBLE) BINARY
    |st_intersection(BINARY, BINARY) BINARY
    |st_union(BINARY, BINARY) BINARY
    |st_difference(BINARY, BINARY) BINARY
    |st_sym_difference(BINARY, BINARY) BINARY
    |st_coords(BINARY) ARRAY<STRUCT<x: DOUBLE NOT NULL, y: DOUBLE NOT NULL>>
    |st_parts(BINARY) ARRAY<BINARY>
    |st_hilbert(BINARY, DOUBLE, DOUBLE, DOUBLE, DOUBLE, INT) BIGINT
    |st_transform(BINARY, INT, INT) BINARY
    |st_exterior(BINARY) BINARY
    |st_transform_crs(BINARY, STRING, STRING) BINARY
    |st_interiors(BINARY) ARRAY<BINARY>
    |st_extract_unique_points(BINARY) BINARY
    |st_offset_curve(BINARY, DOUBLE) BINARY
    |st_remove_repeated_points(BINARY, DOUBLE) BINARY
    |st_set_precision(BINARY, DOUBLE) BINARY
    |st_boundsxy(BINARY) STRUCT<xmin: DOUBLE NOT NULL, ymin: DOUBLE NOT NULL, xmax: DOUBLE NOT NULL, ymax: DOUBLE NOT NULL>
    |st_project(BINARY, BINARY, BOOLEAN) DOUBLE
    |st_minimum_clearance(BINARY) DOUBLE
    |st_minimum_clearance_line(BINARY) BINARY
    |st_minimum_bounding_radius(BINARY) DOUBLE
    |st_has_m(BINARY) BOOLEAN
    |st_m(BINARY) DOUBLE
    |st_geom_equals_identical(BINARY, BINARY) BOOLEAN
    |st_get_precision(BINARY) DOUBLE
    |st_set_precision_mode(BINARY, DOUBLE, STRING) BINARY
    |st_make_valid_method(BINARY, STRING, BOOLEAN) BINARY
    |st_line_merge_directed(BINARY) BINARY
    |st_voronoi_extend(BINARY, DOUBLE, BOOLEAN, BINARY) BINARY
    |st_offset_curve_full(BINARY, DOUBLE, INT, INT, DOUBLE) BINARY
    |st_hausdorff_densify(BINARY, BINARY, DOUBLE) DOUBLE
    |st_frechet_densify(BINARY, BINARY, DOUBLE) DOUBLE
    |st_intersection_grid(BINARY, BINARY, DOUBLE) BINARY
    |st_union_grid(BINARY, BINARY, DOUBLE) BINARY
    |st_difference_grid(BINARY, BINARY, DOUBLE) BINARY
    |st_sym_difference_grid(BINARY, BINARY, DOUBLE) BINARY
    |st_shared_paths(BINARY, BINARY) BINARY
    |ewkb_decode_hex(STRING) BINARY
    |ewkb_srid(STRING) INT
    |ewkb_encode_hex(BINARY, INT) STRING
    |st_polygonize(ARRAY<BINARY>) BINARY
    |st_polygonize_full(ARRAY<BINARY>) STRUCT<_1: BINARY, _2: BINARY, _3: BINARY, _4: BINARY>
    |st_simplify_coverage(ARRAY<BINARY>, DOUBLE) ARRAY<BINARY>
    |""".stripMargin.linesIterator.filter(_.nonEmpty).map { line =>
      val m = """(\w+)\((.*?)\) (.*)""".r.findFirstMatchIn(line).get
      (m.group(1), m.group(2).split(", ").toSeq, m.group(3))
    }.toSeq

  private val poly = "st_geomfromwkt('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')"
  private val poly2 = "st_geomfromwkt('POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))')"
  private val pt = "st_geomfromwkt('POINT (1 2)')"
  private val line = "st_geomfromwkt('LINESTRING (0 0, 4 0, 4 4)')"

  /** Arguments a function needs beyond the defaults [[args]] picks. */
  private val special: Map[String, Seq[String]] = Map(
    "st_x" -> Seq(pt), "st_y" -> Seq(pt), "st_z" -> Seq(pt), "st_m" -> Seq(pt),
    "st_interpolate" -> Seq(line, "1", "false"),
    "st_project" -> Seq(line, pt, "false"),
    "st_shared_paths" -> Seq(line, "st_geomfromwkt('LINESTRING (4 4, 4 0, 8 0)')"),
    "st_polygonize" -> Seq(s"array($line, st_geomfromwkt('LINESTRING (4 4, 0 0)'))"),
    "st_polygonize_full" -> Seq(s"array($line, st_geomfromwkt('LINESTRING (4 4, 0 0)'))"),
    "st_hausdorff_densify" -> Seq(poly, poly2, "1"),
    "st_frechet_densify" -> Seq(poly, poly2, "1"),
    "st_buffer_full" -> Seq(poly, "1", "8", "2", "2", "5", "false"),
    "st_transform" -> Seq(poly, "4326", "3857"),
    "st_transform_crs" -> Seq(poly, "'EPSG:4326'", "'EPSG:3857'"),
    "st_relate_pattern" -> Seq(poly, poly2, "'T********'"),
    "st_make_valid_method" -> Seq(poly, "'structure'", "false"),
    "st_set_precision_mode" -> Seq(poly, "1", "'pointwise'"),
    "st_geomfromwkt" -> Seq("'POINT (1 2)'"),
    "st_geomfromgeojson" -> Seq("""'{"type":"Point","coordinates":[1,2]}'"""),
    "ewkb_decode_hex" -> Seq("'0101000020E6100000000000000000F03F0000000000000040'"),
    "ewkb_srid" -> Seq("'0101000020E6100000000000000000F03F0000000000000040'"))

  /** SQL arguments for a call: integer literals for numbers (the i-th
    * argument is `i`), a polygon for geometries. */
  private def args(name: String, types: Seq[String]): Seq[String] = special.getOrElse(name,
    types.zipWithIndex.map {
      case ("BINARY", i) => if (i == 0) poly else poly2
      case ("DOUBLE" | "INT" | "BIGINT", i) => s"$i"
      case ("BOOLEAN", _) => "false"
      case ("ARRAY<BINARY>", _) => s"array($poly, $poly2)"
      case (t, _) => fail(s"no default argument for $t")
    })

  /** Null in any argument gives null, except where the argument is optional. */
  private val nullTolerant: Set[(String, Int)] = Set(
    "st_voronoi_extend" -> 3) // extendTo: null means the sites' own envelope

  private def withCodegenFallbackOff[T](body: => T): T = {
    val key = "spark.sql.codegen.fallback"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false") // a kernel call that does not compile fails the query
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every function the UDF surface registered resolves with its result type; integers cast; nulls give null") {
    assert(registered.size == 120)
    withCodegenFallbackOff {
      for ((name, types, resultType) <- registered) {
        val as = args(name, types)
        val call = s"$name(${as.mkString(", ")})"
        // the same call with each integer literal spelled as a double where a double is declared
        val dbl = as.zip(types).map { case (a, t) => if (t == "DOUBLE" && a.matches("\\d+")) s"$a.0D" else a }
        val nulls = types.indices.map { i => s"$name(${as.updated(i, s"CAST(NULL AS ${types(i)})").mkString(", ")}) IS NULL" }
        val q = spark.sql(s"SELECT $call AS r, to_json(named_struct('r', $call)) AS j, " +
          s"to_json(named_struct('r', $name(${dbl.mkString(", ")}))) AS jd, " +
          nulls.zipWithIndex.map { case (n, i) => s"$n AS n$i" }.mkString(", ") + " FROM range(1)")
        assert(q.schema("r").dataType.sql == resultType, call)
        val row = q.head()
        assert(row.getString(1) == row.getString(2), s"$call gives ${row.getString(1)} with integer arguments")
        types.indices.foreach { i =>
          assert(row.getBoolean(3 + i) != nullTolerant((name, i)), s"$name with a null argument $i")
        }
      }
    }
  }

  test("a table call compares by name and children, is deterministic like its children, and is never folded") {
    import graft.functions.GeoFunctions.{st_buffer, st_centroid}
    import graft.functions.expr.WkbFunction
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.functions.{col, lit, rand}
    val df = spark.range(1).select(lit(Array[Byte]()).as("g"))
    def call(c: Column) = df.select(c).queryExecution.analyzed.expressions.head.asInstanceOf[Alias].child
    val a = call(st_buffer(col("g"), lit(1.0)))
    assert(a.isInstanceOf[WkbFunction] && a == call(st_buffer(col("g"), lit(1.0))))
    assert(a != call(st_buffer(col("g"), lit(2.0))) && a != call(st_centroid(col("g"))))
    val overLiterals = call(st_buffer(lit(Array[Byte]()), lit(1.0)))
    assert(overLiterals.deterministic && !overLiterals.foldable)
    assert(!call(st_buffer(col("g"), rand())).deterministic)
  }

  test("st_bounds is a struct of four non-null doubles, the bbox shape BboxFastPath matches") {
    val bounds = StructType(Seq("xmin", "ymin", "xmax", "ymax").map(StructField(_, DoubleType, nullable = false)))
    for (name <- Seq("st_bounds", "st_boundsxy")) {
      val q = spark.sql(s"SELECT $name($poly) AS b FROM range(1)")
      assert(q.schema("b").dataType == bounds, name)
      assert(q.selectExpr("b.xmin", "b.ymin", "b.xmax", "b.ymax").head().toSeq == Seq(0.0, 0.0, 4.0, 4.0))
    }
  }

  test("installing the functions replaces one built-in: st_geomfromwkb, which returns Spark's GEOMETRY type") {
    val logger = LogManager.getLogger(classOf[org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry])
      .asInstanceOf[CoreLogger]
    val replaced = scala.collection.mutable.ArrayBuffer[String]()
    val appender = new AbstractAppender("replaced-functions", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = replaced.synchronized {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("replaced a previously registered function")) replaced += m
      }
    }
    val level = logger.getLevel // the test session logs errors only
    appender.start()
    logger.addAppender(appender)
    Configurator.setLevel(logger.getName, Level.WARN)
    try GraftSession.install(spark.newSession())
    finally { Configurator.setLevel(logger.getName, level); logger.removeAppender(appender); appender.stop() }
    assert(replaced.toSeq == Seq("The function st_geomfromwkb replaced a previously registered function."))
  }

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

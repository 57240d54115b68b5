package graft.functions

import graft.crs.CrsTransform
import graft.functions.expr._
import graft.geom.{GeomOps, Hilbert, Wkb}
import graft.io.PostgisIO
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{column => exprCol, expression => colExpr}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, udf}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry

/** `st_*` column functions — the Spark surface of the reference's
  * GeoSeries/GeoDataFrame per-row methods (`geopandas/base.py`,
  * `geopandas/array.py:543-1095`). Geometry travels as WKB bytes in
  * `BinaryType` columns.
  *
  * Every function is one entry of one table: an SQL name, an arity and the
  * Catalyst expression it builds. The Column functions below and the SQL
  * names that [[registerAll]] registers are both built from it, so a
  * Column call and its SQL spelling plan the same expression. Nineteen hot
  * functions build the native expressions of `GeomExpressions`, which the
  * optimizer rules match (`GeomSimplify`, `BboxFastPath`,
  * `AutoSpatialJoin`); every other entry is a [[WkbKernel]], called by a
  * [[WkbFunction]] expression. Both kinds are deterministic, generate code
  * inside whole-stage codegen, and compose with Structured Streaming.
  */
object GeoFunctions extends Serializable {

  private val G = BinaryType
  private val D = DoubleType
  private val I = IntegerType
  private val B = BooleanType
  private val S = StringType
  private val GA = ArrayType(BinaryType)

  // kernel arguments, as Catalyst's internal values
  private def geo(a: Array[Any], i: Int): Geometry = Wkb.read(a(i).asInstanceOf[Array[Byte]])
  private def dbl(a: Array[Any], i: Int): Double = a(i).asInstanceOf[Double]
  private def int(a: Array[Any], i: Int): Int = a(i).asInstanceOf[Int]
  private def bool(a: Array[Any], i: Int): Boolean = a(i).asInstanceOf[Boolean]
  private def str(a: Array[Any], i: Int): String = a(i).toString
  private def bins(a: Array[Any], i: Int): Seq[Array[Byte]] = a(i).asInstanceOf[ArrayData].toSeq[Array[Byte]](G)
  // kernel results
  private def wkb(g: Geometry): Array[Byte] = if (g == null) null else Wkb.write(g)
  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def wkbs(gs: Seq[Geometry]): ArrayData = new GenericArrayData(gs.map(wkb).toArray[Any])

  private def fn(name: String, out: DataType, in: DataType*)(f: Array[Any] => Any): WkbKernel =
    WkbKernel(name, in, out)(f)
  private def g2g(name: String, f: Geometry => Geometry) = fn(name, G, G)(a => wkb(f(geo(a, 0))))
  private def g2b(name: String, f: Geometry => Boolean) = fn(name, B, G)(a => f(geo(a, 0)))
  private def g2d(name: String, f: Geometry => Double) = fn(name, D, G)(a => f(geo(a, 0)))
  private def gg2g(name: String, f: (Geometry, Geometry) => Geometry) = fn(name, G, G, G)(a => wkb(f(geo(a, 0), geo(a, 1))))
  private def gg2b(name: String, f: (Geometry, Geometry) => Boolean) = fn(name, B, G, G)(a => f(geo(a, 0), geo(a, 1)))
  private def gg2d(name: String, f: (Geometry, Geometry) => Double) = fn(name, D, G, G)(a => f(geo(a, 0), geo(a, 1)))
  private def ggd2g(name: String, f: (Geometry, Geometry, Double) => Geometry) =
    fn(name, G, G, G, D)(a => wkb(f(geo(a, 0), geo(a, 1), dbl(a, 2))))
  private def ggd2d(name: String, f: (Geometry, Geometry, Double) => Double) =
    fn(name, D, G, G, D)(a => f(geo(a, 0), geo(a, 1), dbl(a, 2)))
  private def gd2g(name: String, f: (Geometry, Double) => Geometry) = fn(name, G, G, D)(a => wkb(f(geo(a, 0), dbl(a, 1))))
  private def gdb2g(name: String, f: (Geometry, Double, Boolean) => Geometry) =
    fn(name, G, G, D, B)(a => wkb(f(geo(a, 0), dbl(a, 1), bool(a, 2))))

  /** `on_invalid` parse behavior (ref array.py:217-283, shapely from_wkt/
    * from_wkb): raise = throw (the reference default), warn = log + NULL,
    * ignore = NULL, fix = repair structurally-invalid parses with
    * GeometryFixer (unparseable input still becomes NULL). */
  private def parseOnInvalid(parse: => Geometry, what: => String, mode: String): Array[Byte] = {
    val parsed =
      try Right(parse)
      catch { case e: Exception => Left(e) }
    parsed match {
      case Right(g) =>
        if (mode == "fix" && !g.isValid) Wkb.write(GeomOps.makeValid(g)) else Wkb.write(g)
      case Left(e) => mode match {
        case "raise" => throw new IllegalArgumentException(s"Invalid $what: ${e.getMessage}", e)
        case "warn" =>
          org.slf4j.LoggerFactory.getLogger("graft.functions.GeoFunctions")
            .warn(s"Invalid $what skipped: ${e.getMessage}")
          null
        case _ => null // ignore / fix (unparseable cannot be fixed)
      }
    }
  }

  /** Reprojects every vertex, keeping z. */
  private def reproject(g: Geometry, t: CrsTransform): Geometry =
    GeomOps.transformCoords(g, (x, y, z) => { val (tx, ty) = t.forward(x, y); (tx, ty, z) })

  private val bounds = StructType(Seq("xmin", "ymin", "xmax", "ymax").map(StructField(_, D, nullable = false)))
  private def boundsRow(a: Array[Any]): InternalRow = {
    val (x0, y0, x1, y1) = GeomOps.bounds(geo(a, 0))
    new GenericInternalRow(Array[Any](x0, y0, x1, y1))
  }
  private val xy = StructType(Seq("x", "y").map(StructField(_, D, nullable = false)))

  private val kernels: Seq[WkbKernel] = Seq(
    // ---- constructors / codecs
    fn("st_point_z", G, D, D, D)(a => wkb(GeomOps.pointZ(dbl(a, 0), dbl(a, 1), dbl(a, 2)))),
    fn("st_line_from_coords", G, ArrayType(D), ArrayType(D)) { a =>
      val (xs, ys) = (a(0).asInstanceOf[ArrayData].toDoubleArray(), a(1).asInstanceOf[ArrayData].toDoubleArray())
      wkb(Wkb.factory.createLineString(
        xs.zip(ys).map { case (x, y) => new org.locationtech.jts.geom.Coordinate(x, y) }))
    },
    fn("st_geomfromwkt", G, S)(a => try Wkb.write(Wkb.readWkt(str(a, 0))) catch { case _: Exception => null }),
    fn("st_geomfromwkb", G, G)(a => try Wkb.write(geo(a, 0)) catch { case _: Exception => null }),
    fn("st_geomfromwkt", G, S, S)(a => parseOnInvalid(Wkb.readWkt(str(a, 0)), s"WKT '${str(a, 0)}'", str(a, 1))),
    fn("st_geomfromwkb", G, G, S)(a => parseOnInvalid(geo(a, 0), "WKB", str(a, 1))),
    fn("st_geomfromgeojson", G, S)(a => try Wkb.write(GeoJson.parse(str(a, 0))) catch { case _: Exception => null }),
    fn("st_astext", S, G)(a => utf8(Wkb.writeWkt(geo(a, 0)))),
    // to_wkt(rounding_precision=) (ref geoseries.py:1408): WKT with at
    // most `decimals` fraction digits
    fn("st_astext", S, G, I) { a =>
      val factor = math.pow(10, int(a, 1))
      utf8(Wkb.writeWkt(GeomOps.transformCoords(geo(a, 0),
        (x, y, z) => (math.round(x * factor) / factor, math.round(y * factor) / factor, z))))
    },
    fn("st_asgeojson", S, G)(a => utf8(GeoJson.write(geo(a, 0)))),
    fn("ewkb_decode_hex", G, S)(a => PostgisIO.decodeHexEwkb(str(a, 0))),
    fn("ewkb_srid", I, S)(a => PostgisIO.ewkbSrid(str(a, 0))),
    fn("ewkb_encode_hex", S, G, I)(a => utf8(PostgisIO.encodeHexEwkb(geo(a, 0), int(a, 1)))),
    // ---- unary predicates
    g2b("st_isvalid", GeomOps.isValid),
    fn("st_isvalidreason", S, G)(a => utf8(GeomOps.isValidReason(geo(a, 0)))),
    g2b("st_isempty", GeomOps.isEmpty),
    g2b("st_issimple", GeomOps.isSimple),
    g2b("st_isring", GeomOps.isRing),
    g2b("st_isccw", GeomOps.isCcw),
    g2b("st_isclosed", GeomOps.isClosed),
    g2b("st_hasz", GeomOps.hasZ),
    g2b("st_has_m", GeomOps.hasM),
    // ---- binary predicates
    gg2b("st_contains_properly", GeomOps.containsProperly),
    gg2b("st_equals", GeomOps.geomEquals),
    gg2b("st_geom_equals_identical", GeomOps.geomEqualsIdentical),
    fn("st_equals_exact", B, G, G, D)(a => GeomOps.geomEqualsExact(geo(a, 0), geo(a, 1), dbl(a, 2))),
    fn("st_relate", S, G, G)(a => utf8(GeomOps.relate(geo(a, 0), geo(a, 1)))),
    fn("st_relate_pattern", B, G, G, S)(a => GeomOps.relatePattern(geo(a, 0), geo(a, 1), str(a, 2))),
    // ---- measures
    gg2d("st_hausdorff_distance", GeomOps.hausdorff),
    gg2d("st_frechet_distance", GeomOps.frechet),
    ggd2d("st_hausdorff_densify", GeomOps.hausdorffDensify),
    ggd2d("st_frechet_densify", GeomOps.frechetDensify),
    g2d("st_z", GeomOps.pointZ),
    g2d("st_m", GeomOps.pointM),
    g2d("st_get_precision", GeomOps.getPrecision),
    g2d("st_minimum_clearance", GeomOps.minimumClearance),
    g2d("st_minimum_bounding_radius", GeomOps.minimumBoundingRadius),
    fn("st_npoints", I, G)(a => GeomOps.numPoints(geo(a, 0))),
    fn("st_ngeometries", I, G)(a => GeomOps.numGeometries(geo(a, 0))),
    fn("st_n_interior_rings", I, G)(a => GeomOps.numInteriorRings(geo(a, 0))),
    fn("st_dimension", I, G)(a => geo(a, 0).getDimension),
    fn("st_geometrytype", S, G)(a => utf8(GeomOps.geometryType(geo(a, 0)))),
    fn("st_bounds", bounds, G)(boundsRow),
    fn("st_boundsxy", bounds, G)(boundsRow),
    fn("st_project", D, G, G, B)(a => GeomOps.project(geo(a, 0), geo(a, 1), bool(a, 2))),
    fn("st_estimate_utm_epsg", I, G) { a =>
      val c = geo(a, 0).getCoordinate
      CrsTransform.estimateUtmEpsg(c.x, c.y)
    },
    // ---- unary transforms
    g2g("st_boundary", GeomOps.boundary),
    g2g("st_centroid", GeomOps.centroid),
    g2g("st_representative_point", GeomOps.representativePoint),
    g2g("st_convex_hull", GeomOps.convexHull),
    gdb2g("st_concave_hull", GeomOps.concaveHull),
    g2g("st_minimum_rotated_rectangle", GeomOps.minimumRotatedRectangle),
    g2g("st_minimum_bounding_circle", GeomOps.minimumBoundingCircle),
    gd2g("st_maximum_inscribed_circle", GeomOps.maximumInscribedCircle),
    g2g("st_minimum_clearance_line", GeomOps.minimumClearanceLine),
    g2g("st_exterior", GeomOps.exterior),
    fn("st_interiors", GA, G)(a => wkbs(GeomOps.interiors(geo(a, 0)).toSeq)),
    g2g("st_extract_unique_points", GeomOps.extractUniquePoints),
    gd2g("st_offset_curve", GeomOps.offsetCurve(_, _, 8, 1, 5.0)),
    fn("st_offset_curve_full", G, G, D, I, I, D)(a =>
      wkb(GeomOps.offsetCurve(geo(a, 0), dbl(a, 1), int(a, 2), int(a, 3), dbl(a, 4)))),
    gd2g("st_remove_repeated_points", GeomOps.removeRepeatedPoints),
    gd2g("st_set_precision", GeomOps.setPrecision),
    fn("st_set_precision_mode", G, G, D, S)(a => wkb(GeomOps.setPrecision(geo(a, 0), dbl(a, 1), str(a, 2)))),
    g2g("st_normalize", GeomOps.normalize),
    g2g("st_make_valid", GeomOps.makeValid),
    fn("st_make_valid_method", G, G, S, B)(a => wkb(GeomOps.makeValid(geo(a, 0), str(a, 1), bool(a, 2)))),
    g2g("st_reverse", GeomOps.reverse),
    gd2g("st_segmentize", GeomOps.segmentize),
    g2g("st_force_2d", GeomOps.force2d),
    gd2g("st_force_3d", GeomOps.force3d),
    g2g("st_line_merge", GeomOps.lineMerge),
    g2g("st_line_merge_directed", GeomOps.lineMergeDirected),
    gdb2g("st_simplify", GeomOps.simplify),
    gd2g("st_buffer", GeomOps.buffer(_, _)),
    fn("st_buffer_full", G, G, D, I, I, I, D, B)(a => wkb(GeomOps.buffer(geo(a, 0), dbl(a, 1),
      int(a, 2), int(a, 3), int(a, 4), dbl(a, 5), bool(a, 6)))),
    gdb2g("st_interpolate", GeomOps.interpolate),
    fn("st_clip_by_rect", G, G, D, D, D, D)(a =>
      wkb(GeomOps.clipByRect(geo(a, 0), dbl(a, 1), dbl(a, 2), dbl(a, 3), dbl(a, 4)))),
    fn("st_collection_extract", G, G, I)(a => wkb(GeomOps.collectionExtract(geo(a, 0), int(a, 1)))),
    ggd2g("st_snap", GeomOps.snap),
    gg2g("st_shortest_line", GeomOps.shortestLine),
    fn("st_geometry_n", G, G, I)(a => wkb(GeomOps.getGeometryN(geo(a, 0), int(a, 1)))),
    gdb2g("st_delaunay_triangles", GeomOps.delaunayTriangles),
    gdb2g("st_voronoi_polygons", GeomOps.voronoiPolygons(_, _, _)),
    // extendTo may be null: the diagram then spans the sites' own envelope
    WkbKernel("st_voronoi_extend", Seq(G, D, B, G), G, nullTolerant = Set(3))(a => wkb(GeomOps.voronoiPolygons(
      geo(a, 0), dbl(a, 1), bool(a, 2), if (a(3) == null) null else geo(a, 3)))),
    g2g("st_build_area", GeomOps.buildArea),
    g2g("st_constrained_delaunay", GeomOps.constrainedDelaunay),
    fn("st_orient_polygons", G, G, B)(a => wkb(GeomOps.orientPolygons(geo(a, 0), bool(a, 1)))),
    fn("st_sample_points", G, G, I, LongType)(a =>
      wkb(GeomOps.samplePoints(geo(a, 0), int(a, 1), a(2).asInstanceOf[Long]))),
    // ---- affine
    fn("st_translate", G, G, D, D)(a => wkb(GeomOps.translate(geo(a, 0), dbl(a, 1), dbl(a, 2)))),
    fn("st_rotate", G, G, D, D, D)(a => wkb(GeomOps.rotate(geo(a, 0), dbl(a, 1), dbl(a, 2), dbl(a, 3)))),
    fn("st_scale", G, G, D, D, D, D)(a =>
      wkb(GeomOps.scale(geo(a, 0), dbl(a, 1), dbl(a, 2), dbl(a, 3), dbl(a, 4)))),
    fn("st_skew", G, G, D, D, D, D)(a =>
      wkb(GeomOps.skew(geo(a, 0), dbl(a, 1), dbl(a, 2), dbl(a, 3), dbl(a, 4)))),
    fn("st_affine", G, G, D, D, D, D, D, D)(a => wkb(GeomOps.affine(geo(a, 0),
      dbl(a, 1), dbl(a, 2), dbl(a, 3), dbl(a, 4), dbl(a, 5), dbl(a, 6)))),
    // ---- binary geo ops, and their grid_size forms (ref base.py:4405-4762;
    // OverlayNG fixed-precision)
    gg2g("st_intersection", GeomOps.intersection),
    gg2g("st_union", GeomOps.union),
    gg2g("st_difference", GeomOps.difference),
    gg2g("st_sym_difference", GeomOps.symDifference),
    ggd2g("st_intersection_grid", GeomOps.intersection),
    ggd2g("st_union_grid", GeomOps.union),
    ggd2g("st_difference_grid", GeomOps.difference),
    ggd2g("st_sym_difference_grid", GeomOps.symDifference),
    gg2g("st_shared_paths", GeomOps.sharedPaths),
    // ---- coords / parts / ordering
    fn("st_coords", ArrayType(xy), G)(a => new GenericArrayData(
      GeomOps.coordinates(geo(a, 0)).map { case (x, y) => new GenericInternalRow(Array[Any](x, y)) })),
    fn("st_parts", GA, G)(a => wkbs(GeomOps.parts(geo(a, 0)).toSeq)),
    fn("st_hilbert", LongType, G, D, D, D, D, I) { a =>
      val e = geo(a, 0).getEnvelopeInternal
      Hilbert.distance((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2,
        dbl(a, 1), dbl(a, 2), dbl(a, 3), dbl(a, 4), int(a, 5))
    },
    // ---- CRS: an EPSG pair, or two strings that are each an EPSG code, a
    // WKT1/WKT2 string (e.g. a shapefile .prj) or PROJJSON — parameters are
    // parsed when the code isn't in the registry (ref pyproj accepts any
    // CRS input, array.py:1098-1187)
    fn("st_transform", G, G, I, I)(a => wkb(reproject(geo(a, 0), CrsCache.get(int(a, 1), int(a, 2))))),
    fn("st_transform_crs", G, G, S, S)(a => wkb(reproject(geo(a, 0), CrsCache.getStr(str(a, 1), str(a, 2))))),
    // ---- over an array of geometries: polygonize (ref base.py:6545; the
    // full=True 4-output form returns a struct) and coverage-preserving
    // simplification (ref geoseries.py simplify_coverage; JTS
    // CoverageSimplifier), whose output is positional, one geometry per
    // input slot: GeomOps substitutes an empty polygon for a null slot
    fn("st_polygonize", G, GA)(a => wkb(GeomOps.polygonize(bins(a, 0).filter(_ != null).map(Wkb.read)))),
    fn("st_polygonize_full", StructType(Seq("_1", "_2", "_3", "_4").map(StructField(_, G))), GA) { a =>
      val (p, c, d, i) = GeomOps.polygonizeFull(bins(a, 0).filter(_ != null).map(Wkb.read))
      new GenericInternalRow(Array[Any](wkb(p), wkb(c), wkb(d), wkb(i)))
    },
    fn("st_simplify_coverage", GA, GA, D)(a => wkbs(GeomOps.simplifyCoverage(
      bins(a, 0).map(b => if (b == null) null else Wkb.read(b)), dbl(a, 1)).toSeq)),
  )

  private val kernelTable: Map[(String, Int), WkbKernel] = kernels.map(k => (k.name, k.inputs.size) -> k).toMap

  /** The kernel a [[WkbFunction]] names. */
  def wkbKernel(name: String, arity: Int): WkbKernel = kernelTable((name, arity))

  // the native expressions do no implicit casts, so their numeric arguments
  // are cast to double here: an integer would ClassCastException in the
  // kernel (SimplifyCasts removes a no-op double→double cast)
  private def toDouble(e: Expression): Expression = Cast(e, DoubleType)

  /** The function table: (SQL name, arity) → the expression it builds. */
  private val table: Map[(String, Int), Seq[Expression] => Expression] = Map[(String, Int), Seq[Expression] => Expression](
    ("st_point", 2) -> (a => StPoint(toDouble(a(0)), toDouble(a(1)))),
    ("st_makebox", 4) -> (a => StMakeBox(toDouble(a(0)), toDouble(a(1)), toDouble(a(2)), toDouble(a(3)))),
    ("st_makeline", 2) -> (a => StMakeLine(a(0), a(1))),
    ("st_envelope", 1) -> (a => StEnvelope(a(0))),
    ("st_intersects", 2) -> (a => StIntersects(a(0), a(1))),
    ("st_contains", 2) -> (a => StContains(a(0), a(1))),
    ("st_within", 2) -> (a => StWithin(a(0), a(1))),
    ("st_disjoint", 2) -> (a => StDisjoint(a(0), a(1))),
    ("st_touches", 2) -> (a => StTouches(a(0), a(1))),
    ("st_crosses", 2) -> (a => StCrosses(a(0), a(1))),
    ("st_overlaps", 2) -> (a => StOverlaps(a(0), a(1))),
    ("st_covers", 2) -> (a => StCovers(a(0), a(1))),
    ("st_covered_by", 2) -> (a => StCoveredBy(a(0), a(1))),
    ("st_area", 1) -> (a => StArea(a(0))),
    ("st_length", 1) -> (a => StLength(a(0))),
    ("st_x", 1) -> (a => StX(a(0))),
    ("st_y", 1) -> (a => StY(a(0))),
    ("st_distance", 2) -> (a => StDistance(a(0), a(1))),
    ("st_dwithin", 3) -> (a => StDWithin(a(0), a(1), toDouble(a(2)))),
  ) ++ kernelTable.keys.map(k => k -> ((a: Seq[Expression]) => WkbFunction(k._1, a)))

  private[graft] def call(name: String, args: Column*): Column = exprCol(table((name, args.size))(args.map(colExpr)))

  /** Registers every table entry under its SQL name (spark.sql("... st_area(g) ...")).
    * `st_geomfromwkb` replaces Spark's built-in `ST_GeomFromWKB`, which
    * returns Spark's GEOMETRY type rather than WKB. */
  def registerAll(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    table.keys.groupBy(_._1).foreach { case (name, keys) =>
      val arities = keys.map(_._2).toSeq.sorted
      fr.registerFunction(FunctionIdentifier(name), new ExpressionInfo(getClass.getName.stripSuffix("$"), name),
        { args: Seq[Expression] =>
          require(arities.contains(args.length),
            s"$name takes ${arities.mkString(" or ")} arguments, got ${args.length}")
          table((name, args.length))(args)
        })
    }
  }

  // ---- constructors / codecs ---------------------------------------------
  def st_point(x: Column, y: Column): Column = call("st_point", x, y)
  def st_point_z(x: Column, y: Column, z: Column): Column = call("st_point_z", x, y, z)
  def st_makebox(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    call("st_makebox", xmin, ymin, xmax, ymax)
  def st_makeline(a: Column, b: Column): Column = call("st_makeline", a, b)
  def st_line_from_coords(xs: Column, ys: Column): Column = call("st_line_from_coords", xs, ys)
  def st_geomfromwkt(s: Column): Column = call("st_geomfromwkt", s)
  def st_geomfromwkb(b: Column): Column = call("st_geomfromwkb", b)
  def st_geomfromwkt(s: Column, onInvalid: String): Column = call("st_geomfromwkt", s, lit(onInvalid))
  def st_geomfromwkb(b: Column, onInvalid: String): Column = call("st_geomfromwkb", b, lit(onInvalid))
  def st_astext(g: Column): Column = call("st_astext", g)
  def st_astext(g: Column, decimals: Column): Column = call("st_astext", g, decimals)
  def st_aswkb(g: Column): Column = g // WKB is the storage encoding
  def st_asgeojson(g: Column): Column = call("st_asgeojson", g)
  def st_geomfromgeojson(s: Column): Column = call("st_geomfromgeojson", s)

  // ---- unary predicates ---------------------------------------------------
  def st_isvalid(g: Column): Column = call("st_isvalid", g)
  def st_isvalidreason(g: Column): Column = call("st_isvalidreason", g)
  def st_isempty(g: Column): Column = call("st_isempty", g)
  def st_issimple(g: Column): Column = call("st_issimple", g)
  def st_isring(g: Column): Column = call("st_isring", g)
  def st_isccw(g: Column): Column = call("st_isccw", g)
  def st_isclosed(g: Column): Column = call("st_isclosed", g)
  def st_hasz(g: Column): Column = call("st_hasz", g)
  def st_has_m(g: Column): Column = call("st_has_m", g)

  // ---- binary predicates --------------------------------------------------
  def st_intersects(a: Column, b: Column): Column = call("st_intersects", a, b)
  def st_contains(a: Column, b: Column): Column = call("st_contains", a, b)
  def st_contains_properly(a: Column, b: Column): Column = call("st_contains_properly", a, b)
  def st_within(a: Column, b: Column): Column = call("st_within", a, b)
  def st_covers(a: Column, b: Column): Column = call("st_covers", a, b)
  def st_covered_by(a: Column, b: Column): Column = call("st_covered_by", a, b)
  def st_crosses(a: Column, b: Column): Column = call("st_crosses", a, b)
  def st_disjoint(a: Column, b: Column): Column = call("st_disjoint", a, b)
  def st_overlaps(a: Column, b: Column): Column = call("st_overlaps", a, b)
  def st_touches(a: Column, b: Column): Column = call("st_touches", a, b)
  def st_equals(a: Column, b: Column): Column = call("st_equals", a, b)
  def st_equals_exact(a: Column, b: Column, tol: Column): Column = call("st_equals_exact", a, b, tol)
  def st_geom_equals_identical(a: Column, b: Column): Column = call("st_geom_equals_identical", a, b)
  def st_dwithin(a: Column, b: Column, d: Column): Column = call("st_dwithin", a, b, d)
  def st_relate(a: Column, b: Column): Column = call("st_relate", a, b)
  def st_relate_pattern(a: Column, b: Column, p: Column): Column = call("st_relate_pattern", a, b, p)

  // ---- measures -----------------------------------------------------------
  def st_area(g: Column): Column = call("st_area", g)
  def st_length(g: Column): Column = call("st_length", g)
  def st_distance(a: Column, b: Column): Column = call("st_distance", a, b)
  def st_hausdorff_distance(a: Column, b: Column): Column = call("st_hausdorff_distance", a, b)
  def st_hausdorff_distance(a: Column, b: Column, densify: Column): Column =
    call("st_hausdorff_densify", a, b, densify)
  def st_frechet_distance(a: Column, b: Column): Column = call("st_frechet_distance", a, b)
  def st_frechet_distance(a: Column, b: Column, densify: Column): Column =
    call("st_frechet_densify", a, b, densify)
  def st_x(g: Column): Column = call("st_x", g)
  def st_y(g: Column): Column = call("st_y", g)
  def st_z(g: Column): Column = call("st_z", g)
  def st_m(g: Column): Column = call("st_m", g)
  def st_get_precision(g: Column): Column = call("st_get_precision", g)
  def st_minimum_clearance(g: Column): Column = call("st_minimum_clearance", g)
  def st_minimum_bounding_radius(g: Column): Column = call("st_minimum_bounding_radius", g)
  def st_npoints(g: Column): Column = call("st_npoints", g)
  def st_ngeometries(g: Column): Column = call("st_ngeometries", g)
  def st_n_interior_rings(g: Column): Column = call("st_n_interior_rings", g)
  def st_dimension(g: Column): Column = call("st_dimension", g)
  def st_geometrytype(g: Column): Column = call("st_geometrytype", g)
  def st_bounds(g: Column): Column = call("st_bounds", g)
  def st_project(a: Column, b: Column, normalized: Column): Column = call("st_project", a, b, normalized)
  /** UTM zone estimation from a lon/lat point (ref array.py:1190-1276). */
  def st_estimate_utm_epsg(g: Column): Column = call("st_estimate_utm_epsg", g)

  // ---- unary transforms ---------------------------------------------------
  def st_boundary(g: Column): Column = call("st_boundary", g)
  def st_centroid(g: Column): Column = call("st_centroid", g)
  def st_representative_point(g: Column): Column = call("st_representative_point", g)
  def st_convex_hull(g: Column): Column = call("st_convex_hull", g)
  def st_concave_hull(g: Column, ratio: Column, allowHoles: Column): Column =
    call("st_concave_hull", g, ratio, allowHoles)
  def st_envelope(g: Column): Column = call("st_envelope", g)
  def st_minimum_rotated_rectangle(g: Column): Column = call("st_minimum_rotated_rectangle", g)
  def st_minimum_bounding_circle(g: Column): Column = call("st_minimum_bounding_circle", g)
  def st_maximum_inscribed_circle(g: Column, tol: Column): Column = call("st_maximum_inscribed_circle", g, tol)
  def st_minimum_clearance_line(g: Column): Column = call("st_minimum_clearance_line", g)
  def st_exterior(g: Column): Column = call("st_exterior", g)
  def st_interiors(g: Column): Column = call("st_interiors", g)
  def st_extract_unique_points(g: Column): Column = call("st_extract_unique_points", g)
  def st_offset_curve(g: Column, d: Column, quadSegs: Column, joinStyle: Column, mitre: Column): Column =
    call("st_offset_curve_full", g, d, quadSegs, joinStyle, mitre)
  def st_remove_repeated_points(g: Column, tol: Column): Column = call("st_remove_repeated_points", g, tol)
  def st_set_precision(g: Column, gridSize: Column): Column = call("st_set_precision", g, gridSize)
  def st_set_precision(g: Column, gridSize: Column, mode: Column): Column =
    call("st_set_precision_mode", g, gridSize, mode)
  def st_normalize(g: Column): Column = call("st_normalize", g)
  def st_make_valid(g: Column): Column = call("st_make_valid", g)
  def st_make_valid(g: Column, method: Column, keepCollapsed: Column): Column =
    call("st_make_valid_method", g, method, keepCollapsed)
  def st_reverse(g: Column): Column = call("st_reverse", g)
  def st_segmentize(g: Column, maxLen: Column): Column = call("st_segmentize", g, maxLen)
  def st_force_2d(g: Column): Column = call("st_force_2d", g)
  def st_force_3d(g: Column, z: Column): Column = call("st_force_3d", g, z)
  def st_line_merge(g: Column): Column = call("st_line_merge", g)
  def st_line_merge_directed(g: Column): Column = call("st_line_merge_directed", g)
  def st_simplify(g: Column, tol: Column, preserveTopology: Column): Column =
    call("st_simplify", g, tol, preserveTopology)
  def st_buffer(g: Column, d: Column): Column = call("st_buffer", g, d)
  def st_buffer(g: Column, d: Column, quadSegs: Column, capStyle: Column, joinStyle: Column,
                mitre: Column, singleSided: Column): Column =
    call("st_buffer_full", g, d, quadSegs, capStyle, joinStyle, mitre, singleSided)
  def st_interpolate(g: Column, d: Column, normalized: Column): Column = call("st_interpolate", g, d, normalized)
  def st_clip_by_rect(g: Column, x0: Column, y0: Column, x1: Column, y1: Column): Column =
    call("st_clip_by_rect", g, x0, y0, x1, y1)
  /** The parts of `g` of dimension `dim` (ref `_collection_extract`,
    * overlay.py); an empty geometry of that dimension when there are none. */
  def st_collection_extract(g: Column, dim: Column): Column = call("st_collection_extract", g, dim)
  def st_snap(a: Column, b: Column, tol: Column): Column = call("st_snap", a, b, tol)
  def st_shortest_line(a: Column, b: Column): Column = call("st_shortest_line", a, b)
  def st_geometry_n(g: Column, i: Column): Column = call("st_geometry_n", g, i)
  def st_delaunay_triangles(g: Column, tol: Column, onlyEdges: Column): Column =
    call("st_delaunay_triangles", g, tol, onlyEdges)
  def st_voronoi(g: Column, tol: Column, onlyEdges: Column, extendTo: Column): Column =
    call("st_voronoi_extend", g, tol, onlyEdges, extendTo)
  def st_build_area(g: Column): Column = call("st_build_area", g)
  def st_constrained_delaunay(g: Column): Column = call("st_constrained_delaunay", g)
  def st_orient_polygons(g: Column, exteriorCw: Column): Column = call("st_orient_polygons", g, exteriorCw)
  def st_sample_points(g: Column, n: Column, seed: Column): Column = call("st_sample_points", g, n, seed)

  // ---- affine -------------------------------------------------------------
  def st_translate(g: Column, dx: Column, dy: Column): Column = call("st_translate", g, dx, dy)
  def st_rotate(g: Column, deg: Column, ox: Column, oy: Column): Column = call("st_rotate", g, deg, ox, oy)
  def st_scale(g: Column, fx: Column, fy: Column, ox: Column, oy: Column): Column =
    call("st_scale", g, fx, fy, ox, oy)

  // ---- binary geo ops -----------------------------------------------------
  def st_intersection(a: Column, b: Column): Column = call("st_intersection", a, b)
  def st_union(a: Column, b: Column): Column = call("st_union", a, b)
  def st_difference(a: Column, b: Column): Column = call("st_difference", a, b)
  def st_sym_difference(a: Column, b: Column): Column = call("st_sym_difference", a, b)
  def st_intersection(a: Column, b: Column, gridSize: Column): Column = call("st_intersection_grid", a, b, gridSize)
  def st_union(a: Column, b: Column, gridSize: Column): Column = call("st_union_grid", a, b, gridSize)
  def st_difference(a: Column, b: Column, gridSize: Column): Column = call("st_difference_grid", a, b, gridSize)
  def st_sym_difference(a: Column, b: Column, gridSize: Column): Column =
    call("st_sym_difference_grid", a, b, gridSize)
  def st_shared_paths(a: Column, b: Column): Column = call("st_shared_paths", a, b)

  /** transform(func) (ref base.py:2257): arbitrary per-vertex coordinate
    * map as a Column op — the closure ships to executors like any UDF. */
  def st_transform_coords(g: Column)(f: (Double, Double, Double) => (Double, Double, Double)): Column = {
    val u = udf((b: Array[Byte]) => if (b == null) null else Wkb.write(GeomOps.transformCoords(Wkb.read(b), f)))
    u(g)
  }

  // ---- coords / parts / ordering -----------------------------------------
  def st_coords(g: Column): Column = call("st_coords", g)
  def st_parts(g: Column): Column = call("st_parts", g)
  def st_hilbert(g: Column, x0: Column, y0: Column, x1: Column, y1: Column, order: Column): Column =
    call("st_hilbert", g, x0, y0, x1, y1, order)

  // ---- CRS ----------------------------------------------------------------
  def st_transform(g: Column, fromEpsg: Column, toEpsg: Column): Column = call("st_transform", g, fromEpsg, toEpsg)
  def st_transform_crs(g: Column, fromCrs: Column, toCrs: Column): Column =
    call("st_transform_crs", g, fromCrs, toCrs)

  // ---- over arrays of geometries ------------------------------------------
  def st_polygonize(arr: Column): Column = call("st_polygonize", arr)
  def st_polygonize_full(arr: Column): Column =
    call("st_polygonize_full", arr).cast("struct<polygons:binary,cut_edges:binary,dangles:binary,invalid_rings:binary>")
  def st_simplify_coverage(arr: Column, tol: Column): Column = call("st_simplify_coverage", arr, tol)
}

/** Per-JVM cache of CRS transform chains (ref: pyproj Transformer lru_cache,
  * `array.py:44-47`). */
object CrsCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[(Int, Int), CrsTransform]()
  def get(from: Int, to: Int): CrsTransform =
    cache.computeIfAbsent((from, to), { k: (Int, Int) => CrsTransform.chain(k._1, k._2) })
  private val cacheStr = new java.util.concurrent.ConcurrentHashMap[(String, String), CrsTransform]()
  def getStr(from: String, to: String): CrsTransform =
    cacheStr.computeIfAbsent((from, to), { k: (String, String) => CrsTransform.chainStr(k._1, k._2) })
}

package graft.functions

import graft.crs.CrsTransform
import graft.geom.{GeomOps, Hilbert, Wkb}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

/** `st_*` column functions — the Spark surface of the reference's
  * GeoSeries/GeoDataFrame per-row methods (`geopandas/base.py`,
  * `geopandas/array.py:543-1095`). Geometry travels as WKB bytes in
  * `BinaryType` columns; every function is a deterministic scalar UDF over
  * WKB, so the whole layer composes with Catalyst optimization, whole-stage
  * codegen call sites, and Structured Streaming unchanged.
  */
object GeoFunctions extends Serializable {

  case class BoundsRow(xmin: Double, ymin: Double, xmax: Double, ymax: Double)
  case class XY(x: Double, y: Double)

  @inline private def rd(b: Array[Byte]): Geometry = Wkb.read(b)

  private def g2g(f: Geometry => Geometry): Array[Byte] => Array[Byte] =
    (b: Array[Byte]) => if (b == null) null else Wkb.write(f(rd(b)))
  private def g2d(f: Geometry => Double): Array[Byte] => Option[Double] =
    (b: Array[Byte]) => if (b == null) None else Some(f(rd(b)))
  private def g2b(f: Geometry => Boolean): Array[Byte] => Option[Boolean] =
    (b: Array[Byte]) => if (b == null) None else Some(f(rd(b)))
  private def gg2b(f: (Geometry, Geometry) => Boolean): (Array[Byte], Array[Byte]) => Option[Boolean] =
    (a: Array[Byte], b: Array[Byte]) => if (a == null || b == null) None else Some(f(rd(a), rd(b)))
  private def gg2d(f: (Geometry, Geometry) => Double): (Array[Byte], Array[Byte]) => Option[Double] =
    (a: Array[Byte], b: Array[Byte]) => if (a == null || b == null) None else Some(f(rd(a), rd(b)))
  private def gg2g(f: (Geometry, Geometry) => Geometry): (Array[Byte], Array[Byte]) => Array[Byte] =
    (a: Array[Byte], b: Array[Byte]) => if (a == null || b == null) null else Wkb.write(f(rd(a), rd(b)))

  // ---- constructors / codecs ---------------------------------------------
  val stPointU: UserDefinedFunction = udf((x: Option[Double], y: Option[Double]) =>
    for (xx <- x; yy <- y) yield Wkb.write(GeomOps.point(xx, yy)))
  val stPointZU: UserDefinedFunction = udf((x: Double, y: Double, z: Double) => Wkb.write(GeomOps.pointZ(x, y, z)))
  val stMakeBoxU: UserDefinedFunction = udf((xmin: Double, ymin: Double, xmax: Double, ymax: Double) =>
    Wkb.write(GeomOps.makeBox(xmin, ymin, xmax, ymax)))
  val stMakeLineU: UserDefinedFunction = udf(gg2g(GeomOps.makeLine))
  val stLineFromCoordsU: UserDefinedFunction = udf((xs: Seq[Double], ys: Seq[Double]) =>
    Wkb.write(Wkb.factory.createLineString(
      xs.zip(ys).map { case (x, y) => new org.locationtech.jts.geom.Coordinate(x, y) }.toArray)))
  val stPolygonFromCoordsU: UserDefinedFunction = udf((xs: Seq[Double], ys: Seq[Double]) => {
    val cs = xs.zip(ys).map { case (x, y) => new org.locationtech.jts.geom.Coordinate(x, y) }
    val closed = if (cs.nonEmpty && cs.head != cs.last) cs :+ cs.head else cs
    Wkb.write(Wkb.factory.createPolygon(closed.toArray))
  })
  val stGeomFromWktU: UserDefinedFunction = udf((s: String) =>
    if (s == null) null else try Wkb.write(Wkb.readWkt(s)) catch { case _: Exception => null })
  val stGeomFromWkbU: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) null else try Wkb.write(Wkb.read(b)) catch { case _: Exception => null })

  /** `on_invalid` parse behavior (ref array.py:217-283, shapely from_wkt/
    * from_wkb): raise = throw (the reference default), warn = log + NULL,
    * ignore = NULL, fix = repair structurally-invalid parses with
    * GeometryFixer (unparseable input still becomes NULL). */
  private def parseOnInvalid(parse: => org.locationtech.jts.geom.Geometry,
                             what: String, mode: String): Array[Byte] = {
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
  val stGeomFromWktModeU: UserDefinedFunction = udf((s: String, mode: String) =>
    if (s == null) null else parseOnInvalid(Wkb.readWkt(s), s"WKT '$s'", mode))
  val stGeomFromWkbModeU: UserDefinedFunction = udf((b: Array[Byte], mode: String) =>
    if (b == null) null else parseOnInvalid(Wkb.read(b), "WKB", mode))
  val stAsTextU: UserDefinedFunction = udf((b: Array[Byte]) => if (b == null) null else Wkb.writeWkt(rd(b)))
  val stAsGeoJsonU: UserDefinedFunction = udf((b: Array[Byte]) => if (b == null) null else GeoJson.write(rd(b)))
  val stGeomFromGeoJsonU: UserDefinedFunction = udf((s: String) =>
    if (s == null) null else try Wkb.write(GeoJson.parse(s)) catch { case _: Exception => null })

  // hot-path functions route to native Catalyst expressions (codegen, no
  // UDF boxing — SURVEY §4); the U-suffixed UDF twins remain for SQL
  // registration and as reference implementations
  import org.apache.spark.sql.GraftColumnBridge.{column => exprCol, expression => colExpr}
  import graft.functions.{expr => gexpr}
  // coordinate args are Cast to Double like the SQL builders below: the
  // native expressions have no implicit input casts (AbstractDataType is
  // private[sql]), so an integer column/literal that the old ScalaUDF path
  // silently coerced would CCE in the kernel — for foldable args already
  // during ConstantFolding. SimplifyCasts removes the no-op double→double.
  private def dcast(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(colExpr(c),
      org.apache.spark.sql.types.DoubleType)
  def st_point(x: Column, y: Column): Column = exprCol(gexpr.StPoint(dcast(x), dcast(y)))
  def st_point_z(x: Column, y: Column, z: Column): Column = stPointZU(x, y, z)
  def st_makebox(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    exprCol(gexpr.StMakeBox(dcast(xmin), dcast(ymin), dcast(xmax), dcast(ymax)))
  def st_makeline(a: Column, b: Column): Column = exprCol(gexpr.StMakeLine(colExpr(a), colExpr(b)))
  def st_geomfromwkt(s: Column): Column = stGeomFromWktU(s)
  def st_geomfromwkb(b: Column): Column = stGeomFromWkbU(b)
  def st_geomfromwkt(s: Column, onInvalid: String): Column = stGeomFromWktModeU(s, lit(onInvalid))
  def st_geomfromwkb(b: Column, onInvalid: String): Column = stGeomFromWkbModeU(b, lit(onInvalid))
  def st_astext(g: Column): Column = stAsTextU(g)

  /** to_wkt(rounding_precision=) (ref geoseries.py:1408): WKT with at most
    * `decimals` fraction digits. */
  val stAsTextPrecU: UserDefinedFunction = udf((b: Array[Byte], decimals: Int) =>
    if (b == null) null
    else {
      val factor = math.pow(10, decimals)
      Wkb.writeWkt(GeomOps.transformCoords(rd(b),
        (x, y, z) => (math.round(x * factor) / factor, math.round(y * factor) / factor, z)))
    })
  def st_astext(g: Column, decimals: Column): Column = stAsTextPrecU(g, decimals)
  def st_aswkb(g: Column): Column = g // WKB is the storage encoding
  def st_asgeojson(g: Column): Column = stAsGeoJsonU(g)
  def st_geomfromgeojson(s: Column): Column = stGeomFromGeoJsonU(s)

  // ---- unary predicates ---------------------------------------------------
  val stIsValidU: UserDefinedFunction = udf(g2b(GeomOps.isValid))
  val stIsValidReasonU: UserDefinedFunction = udf((b: Array[Byte]) => if (b == null) null else GeomOps.isValidReason(rd(b)))
  val stIsEmptyU: UserDefinedFunction = udf(g2b(GeomOps.isEmpty))
  val stIsSimpleU: UserDefinedFunction = udf(g2b(GeomOps.isSimple))
  val stIsRingU: UserDefinedFunction = udf(g2b(GeomOps.isRing))
  val stIsCcwU: UserDefinedFunction = udf(g2b(GeomOps.isCcw))
  val stIsClosedU: UserDefinedFunction = udf(g2b(GeomOps.isClosed))
  val stHasZU: UserDefinedFunction = udf(g2b(GeomOps.hasZ))

  def st_isvalid(g: Column): Column = stIsValidU(g)
  def st_isvalidreason(g: Column): Column = stIsValidReasonU(g)
  def st_isempty(g: Column): Column = stIsEmptyU(g)
  def st_issimple(g: Column): Column = stIsSimpleU(g)
  def st_isring(g: Column): Column = stIsRingU(g)
  def st_isccw(g: Column): Column = stIsCcwU(g)
  def st_isclosed(g: Column): Column = stIsClosedU(g)
  def st_hasz(g: Column): Column = stHasZU(g)

  // ---- binary predicates --------------------------------------------------
  val stIntersectsU: UserDefinedFunction = udf(gg2b(GeomOps.intersects))
  val stContainsU: UserDefinedFunction = udf(gg2b(GeomOps.contains))
  val stContainsProperlyU: UserDefinedFunction = udf(gg2b(GeomOps.containsProperly))
  val stWithinU: UserDefinedFunction = udf(gg2b(GeomOps.within))
  val stCoversU: UserDefinedFunction = udf(gg2b(GeomOps.covers))
  val stCoveredByU: UserDefinedFunction = udf(gg2b(GeomOps.coveredBy))
  val stCrossesU: UserDefinedFunction = udf(gg2b(GeomOps.crosses))
  val stDisjointU: UserDefinedFunction = udf(gg2b(GeomOps.disjoint))
  val stOverlapsU: UserDefinedFunction = udf(gg2b(GeomOps.overlaps))
  val stTouchesU: UserDefinedFunction = udf(gg2b(GeomOps.touches))
  val stEqualsU: UserDefinedFunction = udf(gg2b(GeomOps.geomEquals))
  val stEqualsExactU: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], tol: Double) =>
    if (a == null || b == null) None else Some(GeomOps.geomEqualsExact(rd(a), rd(b), tol)))
  val stDWithinU: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], d: Double) =>
    if (a == null || b == null) None else Some(GeomOps.dwithin(rd(a), rd(b), d)))
  val stRelateU: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) null else GeomOps.relate(rd(a), rd(b)))
  val stRelatePatternU: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], p: String) =>
    if (a == null || b == null) None else Some(GeomOps.relatePattern(rd(a), rd(b), p)))

  def st_intersects(a: Column, b: Column): Column = exprCol(gexpr.StIntersects(colExpr(a), colExpr(b)))
  def st_contains(a: Column, b: Column): Column = exprCol(gexpr.StContains(colExpr(a), colExpr(b)))
  def st_contains_properly(a: Column, b: Column): Column = stContainsProperlyU(a, b)
  def st_within(a: Column, b: Column): Column = exprCol(gexpr.StWithin(colExpr(a), colExpr(b)))
  def st_covers(a: Column, b: Column): Column = exprCol(gexpr.StCovers(colExpr(a), colExpr(b)))
  def st_covered_by(a: Column, b: Column): Column = exprCol(gexpr.StCoveredBy(colExpr(a), colExpr(b)))
  def st_crosses(a: Column, b: Column): Column = exprCol(gexpr.StCrosses(colExpr(a), colExpr(b)))
  def st_disjoint(a: Column, b: Column): Column = exprCol(gexpr.StDisjoint(colExpr(a), colExpr(b)))
  def st_overlaps(a: Column, b: Column): Column = exprCol(gexpr.StOverlaps(colExpr(a), colExpr(b)))
  def st_touches(a: Column, b: Column): Column = exprCol(gexpr.StTouches(colExpr(a), colExpr(b)))
  def st_equals(a: Column, b: Column): Column = stEqualsU(a, b)
  def st_equals_exact(a: Column, b: Column, tol: Column): Column = stEqualsExactU(a, b, tol)
  def st_dwithin(a: Column, b: Column, d: Column): Column =
    exprCol(gexpr.StDWithin(colExpr(a), colExpr(b), colExpr(d)))
  def st_relate(a: Column, b: Column): Column = stRelateU(a, b)
  def st_relate_pattern(a: Column, b: Column, p: Column): Column = stRelatePatternU(a, b, p)

  // ---- measures -----------------------------------------------------------
  val stAreaU: UserDefinedFunction = udf(g2d(GeomOps.area))
  val stLengthU: UserDefinedFunction = udf(g2d(GeomOps.length))
  val stDistanceU: UserDefinedFunction = udf(gg2d(GeomOps.distance))
  val stHausdorffU: UserDefinedFunction = udf(gg2d(GeomOps.hausdorff))
  val stFrechetU: UserDefinedFunction = udf(gg2d(GeomOps.frechet))
  val stXU: UserDefinedFunction = udf(g2d(GeomOps.pointX))
  val stYU: UserDefinedFunction = udf(g2d(GeomOps.pointY))
  val stZU: UserDefinedFunction = udf(g2d(GeomOps.pointZ))
  val stNPointsU: UserDefinedFunction = udf((b: Array[Byte]) => if (b == null) None else Some(GeomOps.numPoints(rd(b))))
  val stNGeometriesU: UserDefinedFunction = udf((b: Array[Byte]) => if (b == null) None else Some(GeomOps.numGeometries(rd(b))))
  val stNInteriorRingsU: UserDefinedFunction = udf((b: Array[Byte]) => if (b == null) None else Some(GeomOps.numInteriorRings(rd(b))))
  val stGeometryTypeU: UserDefinedFunction = udf((b: Array[Byte]) => if (b == null) null else GeomOps.geometryType(rd(b)))
  val stMinClearanceU: UserDefinedFunction = udf(g2d(GeomOps.minimumClearance))
  val stMinBoundingRadiusU: UserDefinedFunction = udf(g2d(GeomOps.minimumBoundingRadius))
  val stBoundsU: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None else { val (x0, y0, x1, y1) = GeomOps.bounds(rd(b)); Some(BoundsRow(x0, y0, x1, y1)) })
  val stProjectU: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], normalized: Boolean) =>
    if (a == null || b == null) None else Some(GeomOps.project(rd(a), rd(b), normalized)))

  def st_area(g: Column): Column = exprCol(gexpr.StArea(colExpr(g)))
  def st_length(g: Column): Column = exprCol(gexpr.StLength(colExpr(g)))
  def st_distance(a: Column, b: Column): Column = exprCol(gexpr.StDistance(colExpr(a), colExpr(b)))
  def st_hausdorff_distance(a: Column, b: Column): Column = stHausdorffU(a, b)
  def st_frechet_distance(a: Column, b: Column): Column = stFrechetU(a, b)
  def st_x(g: Column): Column = exprCol(gexpr.StX(colExpr(g)))
  def st_y(g: Column): Column = exprCol(gexpr.StY(colExpr(g)))
  def st_z(g: Column): Column = stZU(g)
  def st_npoints(g: Column): Column = stNPointsU(g)
  def st_ngeometries(g: Column): Column = stNGeometriesU(g)
  def st_n_interior_rings(g: Column): Column = stNInteriorRingsU(g)
  def st_geometrytype(g: Column): Column = stGeometryTypeU(g)
  def st_bounds(g: Column): Column = stBoundsU(g)
  def st_project(a: Column, b: Column, normalized: Column): Column = stProjectU(a, b, normalized)

  // ---- unary transforms ---------------------------------------------------
  val stBoundaryU: UserDefinedFunction = udf(g2g(GeomOps.boundary))
  val stCentroidU: UserDefinedFunction = udf(g2g(GeomOps.centroid))
  val stRepresentativePointU: UserDefinedFunction = udf(g2g(GeomOps.representativePoint))
  val stConvexHullU: UserDefinedFunction = udf(g2g(GeomOps.convexHull))
  val stConcaveHullU: UserDefinedFunction = udf((b: Array[Byte], ratio: Double, holes: Boolean) =>
    if (b == null) null else Wkb.write(GeomOps.concaveHull(rd(b), ratio, holes)))
  val stEnvelopeU: UserDefinedFunction = udf(g2g(GeomOps.envelope))
  val stMinRotatedRectU: UserDefinedFunction = udf(g2g(GeomOps.minimumRotatedRectangle))
  val stMinBoundingCircleU: UserDefinedFunction = udf(g2g(GeomOps.minimumBoundingCircle))
  val stMaxInscribedCircleU: UserDefinedFunction = udf((b: Array[Byte], tol: Double) =>
    if (b == null) null else Wkb.write(GeomOps.maximumInscribedCircle(rd(b), tol)))
  val stMinClearanceLineU: UserDefinedFunction = udf(g2g(GeomOps.minimumClearanceLine))
  val stExteriorU: UserDefinedFunction = udf(g2g(GeomOps.exterior))
  val stInteriorsU: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) null else GeomOps.interiors(rd(b)).map(Wkb.write))
  val stExtractUniquePointsU: UserDefinedFunction = udf(g2g(GeomOps.extractUniquePoints))
  val stOffsetCurveU: UserDefinedFunction = udf((b: Array[Byte], d: Double) =>
    if (b == null) null else Wkb.write(GeomOps.offsetCurve(rd(b), d, 8, 1, 5.0)))
  val stRemoveRepeatedU: UserDefinedFunction = udf((b: Array[Byte], tol: Double) =>
    if (b == null) null else Wkb.write(GeomOps.removeRepeatedPoints(rd(b), tol)))
  val stSetPrecisionU: UserDefinedFunction = udf((b: Array[Byte], grid: Double) =>
    if (b == null) null else Wkb.write(GeomOps.setPrecision(rd(b), grid)))
  val stNormalizeU: UserDefinedFunction = udf(g2g(GeomOps.normalize))
  val stMakeValidU: UserDefinedFunction = udf(g2g(GeomOps.makeValid))
  val stReverseU: UserDefinedFunction = udf(g2g(GeomOps.reverse))
  val stSegmentizeU: UserDefinedFunction = udf((b: Array[Byte], m: Double) =>
    if (b == null) null else Wkb.write(GeomOps.segmentize(rd(b), m)))
  val stForce2DU: UserDefinedFunction = udf(g2g(GeomOps.force2d))
  val stForce3DU: UserDefinedFunction = udf((b: Array[Byte], z: Double) =>
    if (b == null) null else Wkb.write(GeomOps.force3d(rd(b), z)))
  val stLineMergeU: UserDefinedFunction = udf(g2g(GeomOps.lineMerge))
  val stSimplifyU: UserDefinedFunction = udf((b: Array[Byte], tol: Double, topo: Boolean) =>
    if (b == null) null else Wkb.write(GeomOps.simplify(rd(b), tol, topo)))
  val stBufferU: UserDefinedFunction = udf((b: Array[Byte], d: Double) =>
    if (b == null) null else Wkb.write(GeomOps.buffer(rd(b), d)))
  val stBufferFullU: UserDefinedFunction = udf(
    (b: Array[Byte], d: Double, quadSegs: Int, capStyle: Int, joinStyle: Int, mitre: Double, singleSided: Boolean) =>
      if (b == null) null else Wkb.write(GeomOps.buffer(rd(b), d, quadSegs, capStyle, joinStyle, mitre, singleSided)))
  val stInterpolateU: UserDefinedFunction = udf((b: Array[Byte], d: Double, norm: Boolean) =>
    if (b == null) null else Wkb.write(GeomOps.interpolate(rd(b), d, norm)))
  val stClipByRectU: UserDefinedFunction = udf((b: Array[Byte], x0: Double, y0: Double, x1: Double, y1: Double) =>
    if (b == null) null else Wkb.write(GeomOps.clipByRect(rd(b), x0, y0, x1, y1)))
  val stSnapU: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], tol: Double) =>
    if (a == null || b == null) null else Wkb.write(GeomOps.snap(rd(a), rd(b), tol)))
  val stShortestLineU: UserDefinedFunction = udf(gg2g(GeomOps.shortestLine))
  val stGeometryNU: UserDefinedFunction = udf((b: Array[Byte], i: Int) =>
    if (b == null) null else { val g = GeomOps.getGeometryN(rd(b), i); if (g == null) null else Wkb.write(g) })
  val stDelaunayU: UserDefinedFunction = udf((b: Array[Byte], tol: Double, edges: Boolean) =>
    if (b == null) null else Wkb.write(GeomOps.delaunayTriangles(rd(b), tol, edges)))
  val stVoronoiU: UserDefinedFunction = udf((b: Array[Byte], tol: Double, edges: Boolean) =>
    if (b == null) null else Wkb.write(GeomOps.voronoiPolygons(rd(b), tol, edges)))
  val stBuildAreaU: UserDefinedFunction = udf(g2g(GeomOps.buildArea))
  val stSamplePointsU: UserDefinedFunction = udf((b: Array[Byte], n: Int, seed: Long) =>
    if (b == null) null else Wkb.write(GeomOps.samplePoints(rd(b), n, seed)))

  def st_boundary(g: Column): Column = stBoundaryU(g)
  def st_centroid(g: Column): Column = stCentroidU(g)
  def st_representative_point(g: Column): Column = stRepresentativePointU(g)
  def st_convex_hull(g: Column): Column = stConvexHullU(g)
  def st_concave_hull(g: Column, ratio: Column, allowHoles: Column): Column = stConcaveHullU(g, ratio, allowHoles)
  def st_envelope(g: Column): Column = exprCol(gexpr.StEnvelope(colExpr(g)))
  def st_minimum_rotated_rectangle(g: Column): Column = stMinRotatedRectU(g)
  def st_minimum_bounding_circle(g: Column): Column = stMinBoundingCircleU(g)
  def st_normalize(g: Column): Column = stNormalizeU(g)
  def st_make_valid(g: Column): Column = stMakeValidU(g)
  def st_reverse(g: Column): Column = stReverseU(g)
  def st_buffer(g: Column, d: Column): Column = stBufferU(g, d)
  def st_buffer(g: Column, d: Column, quadSegs: Column, capStyle: Column, joinStyle: Column,
                mitre: Column, singleSided: Column): Column =
    stBufferFullU(g, d, quadSegs, capStyle, joinStyle, mitre, singleSided)
  def st_simplify(g: Column, tol: Column, preserveTopology: Column): Column = stSimplifyU(g, tol, preserveTopology)
  def st_interpolate(g: Column, d: Column, normalized: Column): Column = stInterpolateU(g, d, normalized)
  def st_clip_by_rect(g: Column, x0: Column, y0: Column, x1: Column, y1: Column): Column =
    stClipByRectU(g, x0, y0, x1, y1)
  def st_geometry_n(g: Column, i: Column): Column = stGeometryNU(g, i)
  def st_exterior(g: Column): Column = stExteriorU(g)
  def st_interiors(g: Column): Column = stInteriorsU(g)
  def st_force_2d(g: Column): Column = stForce2DU(g)
  def st_force_3d(g: Column, z: Column): Column = stForce3DU(g, z)
  def st_sample_points(g: Column, n: Column, seed: Column): Column = stSamplePointsU(g, n, seed)

  // ---- affine -------------------------------------------------------------
  val stTranslateU: UserDefinedFunction = udf((b: Array[Byte], dx: Double, dy: Double) =>
    if (b == null) null else Wkb.write(GeomOps.translate(rd(b), dx, dy)))
  val stRotateU: UserDefinedFunction = udf((b: Array[Byte], deg: Double, ox: Double, oy: Double) =>
    if (b == null) null else Wkb.write(GeomOps.rotate(rd(b), deg, ox, oy)))
  val stScaleU: UserDefinedFunction = udf((b: Array[Byte], fx: Double, fy: Double, ox: Double, oy: Double) =>
    if (b == null) null else Wkb.write(GeomOps.scale(rd(b), fx, fy, ox, oy)))
  val stSkewU: UserDefinedFunction = udf((b: Array[Byte], xs: Double, ys: Double, ox: Double, oy: Double) =>
    if (b == null) null else Wkb.write(GeomOps.skew(rd(b), xs, ys, ox, oy)))
  val stAffineU: UserDefinedFunction = udf((bt: Array[Byte], a: Double, bb: Double, d: Double, e: Double, xo: Double, yo: Double) =>
    if (bt == null) null else Wkb.write(GeomOps.affine(rd(bt), a, bb, d, e, xo, yo)))

  def st_translate(g: Column, dx: Column, dy: Column): Column = stTranslateU(g, dx, dy)
  def st_rotate(g: Column, deg: Column, ox: Column, oy: Column): Column = stRotateU(g, deg, ox, oy)
  def st_scale(g: Column, fx: Column, fy: Column, ox: Column, oy: Column): Column = stScaleU(g, fx, fy, ox, oy)

  // ---- binary geo ops -----------------------------------------------------
  val stIntersectionU: UserDefinedFunction = udf(gg2g(GeomOps.intersection))
  val stUnionU: UserDefinedFunction = udf(gg2g(GeomOps.union))
  val stDifferenceU: UserDefinedFunction = udf(gg2g(GeomOps.difference))
  val stSymDifferenceU: UserDefinedFunction = udf(gg2g(GeomOps.symDifference))

  def st_intersection(a: Column, b: Column): Column = stIntersectionU(a, b)
  def st_union(a: Column, b: Column): Column = stUnionU(a, b)
  def st_difference(a: Column, b: Column): Column = stDifferenceU(a, b)
  def st_sym_difference(a: Column, b: Column): Column = stSymDifferenceU(a, b)

  // grid_size forms (ref base.py:4405-4762; OverlayNG fixed-precision)
  val stIntersectionGridU: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], gs: Double) =>
    if (a == null || b == null) null else Wkb.write(GeomOps.intersection(rd(a), rd(b), gs)))
  val stUnionGridU: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], gs: Double) =>
    if (a == null || b == null) null else Wkb.write(GeomOps.union(rd(a), rd(b), gs)))
  val stDifferenceGridU: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], gs: Double) =>
    if (a == null || b == null) null else Wkb.write(GeomOps.difference(rd(a), rd(b), gs)))
  val stSymDifferenceGridU: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], gs: Double) =>
    if (a == null || b == null) null else Wkb.write(GeomOps.symDifference(rd(a), rd(b), gs)))
  def st_intersection(a: Column, b: Column, gridSize: Column): Column = stIntersectionGridU(a, b, gridSize)
  def st_union(a: Column, b: Column, gridSize: Column): Column = stUnionGridU(a, b, gridSize)
  def st_difference(a: Column, b: Column, gridSize: Column): Column = stDifferenceGridU(a, b, gridSize)
  def st_sym_difference(a: Column, b: Column, gridSize: Column): Column = stSymDifferenceGridU(a, b, gridSize)

  // ---- tail operators (round 3) -------------------------------------------
  val stHasMU: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None else Some(GeomOps.hasM(rd(b))))
  val stMU: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None else Some(GeomOps.pointM(rd(b))))
  val stGeomEqualsIdenticalU: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) None else Some(GeomOps.geomEqualsIdentical(rd(a), rd(b))))
  val stGetPrecisionU: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None else Some(GeomOps.getPrecision(rd(b))))
  val stLineMergeDirectedU: UserDefinedFunction = udf(g2g(GeomOps.lineMergeDirected))
  val stVoronoiExtendU: UserDefinedFunction = udf((b: Array[Byte], tol: Double, edges: Boolean, ext: Array[Byte]) =>
    if (b == null) null else Wkb.write(GeomOps.voronoiPolygons(rd(b), tol, edges, if (ext == null) null else rd(ext))))

  val stOffsetCurveFullU: UserDefinedFunction = udf(
    (b: Array[Byte], d: Double, quadSegs: Int, joinStyle: Int, mitre: Double) =>
      if (b == null) null else Wkb.write(GeomOps.offsetCurve(rd(b), d, quadSegs, joinStyle, mitre)))
  val stMakeValidFullU: UserDefinedFunction = udf(
    (b: Array[Byte], method: String, keepCollapsed: Boolean) =>
      if (b == null) null else Wkb.write(GeomOps.makeValid(rd(b), method, keepCollapsed)))
  val stSetPrecisionModeU: UserDefinedFunction = udf(
    (b: Array[Byte], grid: Double, mode: String) =>
      if (b == null) null else Wkb.write(GeomOps.setPrecision(rd(b), grid, mode)))
  val stHausdorffDensifyU: UserDefinedFunction = udf(
    (a: Array[Byte], b: Array[Byte], frac: Double) =>
      if (a == null || b == null) None else Some(GeomOps.hausdorffDensify(rd(a), rd(b), frac)))
  val stFrechetDensifyU: UserDefinedFunction = udf(
    (a: Array[Byte], b: Array[Byte], frac: Double) =>
      if (a == null || b == null) None else Some(GeomOps.frechetDensify(rd(a), rd(b), frac)))

  def st_offset_curve(g: Column, d: Column, quadSegs: Column, joinStyle: Column, mitre: Column): Column =
    stOffsetCurveFullU(g, d, quadSegs, joinStyle, mitre)
  def st_make_valid(g: Column, method: Column, keepCollapsed: Column): Column =
    stMakeValidFullU(g, method, keepCollapsed)
  def st_set_precision(g: Column, gridSize: Column, mode: Column): Column =
    stSetPrecisionModeU(g, gridSize, mode)
  def st_hausdorff_distance(a: Column, b: Column, densify: Column): Column =
    stHausdorffDensifyU(a, b, densify)
  def st_frechet_distance(a: Column, b: Column, densify: Column): Column =
    stFrechetDensifyU(a, b, densify)

  def st_has_m(g: Column): Column = stHasMU(g)
  def st_m(g: Column): Column = stMU(g)
  def st_geom_equals_identical(a: Column, b: Column): Column = stGeomEqualsIdenticalU(a, b)
  def st_get_precision(g: Column): Column = stGetPrecisionU(g)
  def st_line_merge_directed(g: Column): Column = stLineMergeDirectedU(g)
  def st_voronoi(g: Column, tol: Column, onlyEdges: Column, extendTo: Column): Column =
    stVoronoiExtendU(g, tol, onlyEdges, extendTo)

  /** transform(func) (ref base.py:2257): arbitrary per-vertex coordinate
    * map as a Column op — the closure ships to executors like any UDF. */
  def st_transform_coords(g: Column)(f: (Double, Double, Double) => (Double, Double, Double)): Column = {
    val u = udf((b: Array[Byte]) => if (b == null) null else Wkb.write(GeomOps.transformCoords(rd(b), f)))
    u(g)
  }

  // ---- coords / parts / ordering -----------------------------------------
  val stCoordsU: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) null else GeomOps.coordinates(rd(b)).map { case (x, y) => XY(x, y) })
  val stPartsU: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) null else GeomOps.parts(rd(b)).map(Wkb.write))
  val stHilbertU: UserDefinedFunction = udf(
    (b: Array[Byte], x0: Double, y0: Double, x1: Double, y1: Double, order: Int) =>
      if (b == null) None
      else {
        val e = rd(b).getEnvelopeInternal
        Some(Hilbert.distance((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2, x0, y0, x1, y1, order))
      })

  def st_coords(g: Column): Column = stCoordsU(g)
  def st_parts(g: Column): Column = stPartsU(g)
  def st_hilbert(g: Column, x0: Column, y0: Column, x1: Column, y1: Column, order: Column): Column =
    stHilbertU(g, x0, y0, x1, y1, order)

  // ---- CRS ----------------------------------------------------------------
  val stTransformU: UserDefinedFunction = udf((b: Array[Byte], from: Int, to: Int) =>
    if (b == null) null
    else {
      val t = CrsCache.get(from, to)
      val ed = new org.locationtech.jts.geom.util.GeometryEditor(Wkb.factory)
      val out = ed.edit(rd(b), new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
        override def edit(coords: Array[org.locationtech.jts.geom.Coordinate], geometry: Geometry) =
          coords.map { c =>
            val (x, y) = t.forward(c.x, c.y)
            new org.locationtech.jts.geom.Coordinate(x, y, c.getZ)
          }
      })
      Wkb.write(out)
    })
  def st_transform(g: Column, fromEpsg: Column, toEpsg: Column): Column = stTransformU(g, fromEpsg, toEpsg)

  /** String-keyed reprojection: either CRS may be an EPSG code, a WKT1/WKT2
    * string (e.g. a shapefile .prj) or PROJJSON — parameters are parsed when
    * the code isn't in the registry (ref pyproj accepts any CRS input,
    * array.py:1098-1187). */
  val stTransformCrsU: UserDefinedFunction = udf((b: Array[Byte], from: String, to: String) =>
    if (b == null) null
    else {
      val t = CrsCache.getStr(from, to)
      val ed = new org.locationtech.jts.geom.util.GeometryEditor(Wkb.factory)
      val out = ed.edit(rd(b), new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
        override def edit(coords: Array[org.locationtech.jts.geom.Coordinate], geometry: Geometry) =
          coords.map { c =>
            val (x, y) = t.forward(c.x, c.y)
            new org.locationtech.jts.geom.Coordinate(x, y, c.getZ)
          }
      })
      Wkb.write(out)
    })
  def st_transform_crs(g: Column, fromCrs: Column, toCrs: Column): Column =
    stTransformCrsU(g, fromCrs, toCrs)

  val stOrientPolygonsU: UserDefinedFunction = udf((b: Array[Byte], exteriorCw: Boolean) =>
    if (b == null) null else Wkb.write(GeomOps.orientPolygons(rd(b), exteriorCw)))
  val stConstrainedDelaunayU: UserDefinedFunction = udf(g2g(GeomOps.constrainedDelaunay))
  val stSharedPathsU: UserDefinedFunction = udf(gg2g(GeomOps.sharedPaths))
  def st_orient_polygons(g: Column, exteriorCw: Column): Column = stOrientPolygonsU(g, exteriorCw)
  def st_constrained_delaunay(g: Column): Column = stConstrainedDelaunayU(g)

  /** polygonize over an array-of-geometries column (ref base.py:6545);
    * the full=True 4-output form returns a struct. */
  val stPolygonizeU: UserDefinedFunction = udf((arr: Seq[Array[Byte]]) =>
    if (arr == null) null
    else Wkb.write(GeomOps.polygonize(arr.filter(_ != null).map(rd))))
  val stPolygonizeFullU: UserDefinedFunction = udf((arr: Seq[Array[Byte]]) =>
    if (arr == null) None
    else {
      val (p, c, d, i) = GeomOps.polygonizeFull(arr.filter(_ != null).map(rd))
      Some((Wkb.write(p), Wkb.write(c), Wkb.write(d), Wkb.write(i)))
    })
  def st_polygonize(arr: Column): Column = stPolygonizeU(arr)
  def st_polygonize_full(arr: Column): Column =
    stPolygonizeFullU(arr).cast("struct<polygons:binary,cut_edges:binary,dangles:binary,invalid_rings:binary>")
  def st_shared_paths(a: Column, b: Column): Column = stSharedPathsU(a, b)

  /** Coverage-preserving boundary simplification over a grouped coverage
    * (ref geoseries.py simplify_coverage; JTS CoverageSimplifier). Input and
    * output are an array-of-geometries column, one array per coverage. */
  val stSimplifyCoverageU: UserDefinedFunction = udf((arr: Seq[Array[Byte]], tol: Double) =>
    if (arr == null) null
    // output is positional (one simplified geometry per input slot) — keep
    // null slots in place; GeomOps substitutes an empty polygon for them
    else GeomOps.simplifyCoverage(arr.map(b => if (b == null) null else rd(b)), tol).map(Wkb.write).toSeq)
  def st_simplify_coverage(arr: Column, tol: Column): Column = stSimplifyCoverageU(arr, tol)

  /** UTM zone estimation from a lon/lat point (ref array.py:1190-1276). */
  val stEstimateUtmU: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None
    else {
      val c = rd(b).getCoordinate
      Some(CrsTransform.estimateUtmEpsg(c.x, c.y))
    })
  def st_estimate_utm_epsg(g: Column): Column = stEstimateUtmU(g)

  /** Register every function for SQL use (spark.sql("... st_area(g) ...")). */
  def registerAll(spark: SparkSession): Unit = {
    val r = spark.udf
    r.register("st_point", stPointU); r.register("st_point_z", stPointZU)
    r.register("st_makebox", stMakeBoxU); r.register("st_makeline", stMakeLineU)
    r.register("st_geomfromwkt", stGeomFromWktU); r.register("st_geomfromwkb", stGeomFromWkbU)
    r.register("st_astext", stAsTextU); r.register("st_asgeojson", stAsGeoJsonU)
    r.register("st_geomfromgeojson", stGeomFromGeoJsonU)
    r.register("st_isvalid", stIsValidU); r.register("st_isvalidreason", stIsValidReasonU)
    r.register("st_isempty", stIsEmptyU); r.register("st_issimple", stIsSimpleU)
    r.register("st_isring", stIsRingU); r.register("st_isccw", stIsCcwU); r.register("st_isclosed", stIsClosedU)
    r.register("st_hasz", stHasZU)
    r.register("st_intersects", stIntersectsU); r.register("st_contains", stContainsU)
    r.register("st_contains_properly", stContainsProperlyU); r.register("st_within", stWithinU)
    r.register("st_covers", stCoversU); r.register("st_covered_by", stCoveredByU)
    r.register("st_crosses", stCrossesU); r.register("st_disjoint", stDisjointU)
    r.register("st_overlaps", stOverlapsU); r.register("st_touches", stTouchesU)
    r.register("st_equals", stEqualsU); r.register("st_equals_exact", stEqualsExactU)
    r.register("st_dwithin", stDWithinU); r.register("st_relate", stRelateU)
    r.register("st_relate_pattern", stRelatePatternU)
    r.register("st_area", stAreaU); r.register("st_length", stLengthU); r.register("st_distance", stDistanceU)
    r.register("st_hausdorff_distance", stHausdorffU); r.register("st_frechet_distance", stFrechetU)
    r.register("st_x", stXU); r.register("st_y", stYU); r.register("st_z", stZU)
    r.register("st_npoints", stNPointsU); r.register("st_ngeometries", stNGeometriesU)
    r.register("st_n_interior_rings", stNInteriorRingsU)
    r.register("st_geometrytype", stGeometryTypeU); r.register("st_bounds", stBoundsU)
    r.register("st_boundary", stBoundaryU); r.register("st_centroid", stCentroidU)
    r.register("st_representative_point", stRepresentativePointU)
    r.register("st_convex_hull", stConvexHullU); r.register("st_concave_hull", stConcaveHullU)
    r.register("st_envelope", stEnvelopeU); r.register("st_minimum_rotated_rectangle", stMinRotatedRectU)
    r.register("st_minimum_bounding_circle", stMinBoundingCircleU)
    r.register("st_maximum_inscribed_circle", stMaxInscribedCircleU)
    r.register("st_normalize", stNormalizeU); r.register("st_make_valid", stMakeValidU)
    r.register("st_reverse", stReverseU); r.register("st_segmentize", stSegmentizeU)
    r.register("st_force_2d", stForce2DU); r.register("st_force_3d", stForce3DU)
    r.register("st_line_merge", stLineMergeU); r.register("st_simplify", stSimplifyU)
    r.register("st_buffer", stBufferU); r.register("st_buffer_full", stBufferFullU)
    r.register("st_interpolate", stInterpolateU); r.register("st_clip_by_rect", stClipByRectU)
    r.register("st_snap", stSnapU); r.register("st_shortest_line", stShortestLineU)
    r.register("st_geometry_n", stGeometryNU); r.register("st_delaunay_triangles", stDelaunayU)
    r.register("st_voronoi_polygons", stVoronoiU); r.register("st_build_area", stBuildAreaU)
    r.register("st_sample_points", stSamplePointsU)
    r.register("st_translate", stTranslateU); r.register("st_rotate", stRotateU)
    r.register("st_scale", stScaleU); r.register("st_skew", stSkewU); r.register("st_affine", stAffineU)
    r.register("st_intersection", stIntersectionU); r.register("st_union", stUnionU)
    r.register("st_difference", stDifferenceU); r.register("st_sym_difference", stSymDifferenceU)
    r.register("st_coords", stCoordsU); r.register("st_parts", stPartsU); r.register("st_hilbert", stHilbertU)
    r.register("st_transform", stTransformU); r.register("st_exterior", stExteriorU)
    r.register("st_transform_crs", stTransformCrsU)
    r.register("st_interiors", stInteriorsU); r.register("st_extract_unique_points", stExtractUniquePointsU)
    r.register("st_offset_curve", stOffsetCurveU); r.register("st_remove_repeated_points", stRemoveRepeatedU)
    r.register("st_set_precision", stSetPrecisionU); r.register("st_boundsxy", stBoundsU)
    r.register("st_project", stProjectU); r.register("st_minimum_clearance", stMinClearanceU)
    r.register("st_minimum_clearance_line", stMinClearanceLineU)
    r.register("st_minimum_bounding_radius", stMinBoundingRadiusU)
    // round-3 surface
    r.register("st_has_m", stHasMU); r.register("st_m", stMU)
    r.register("st_geom_equals_identical", stGeomEqualsIdenticalU)
    r.register("st_get_precision", stGetPrecisionU)
    r.register("st_set_precision_mode", stSetPrecisionModeU)
    r.register("st_make_valid_method", stMakeValidFullU)
    r.register("st_line_merge_directed", stLineMergeDirectedU)
    r.register("st_voronoi_extend", stVoronoiExtendU)
    r.register("st_offset_curve_full", stOffsetCurveFullU)
    r.register("st_hausdorff_densify", stHausdorffDensifyU)
    r.register("st_frechet_densify", stFrechetDensifyU)
    r.register("st_intersection_grid", stIntersectionGridU)
    r.register("st_union_grid", stUnionGridU)
    r.register("st_difference_grid", stDifferenceGridU)
    r.register("st_sym_difference_grid", stSymDifferenceGridU)
    r.register("st_shared_paths", stSharedPathsU)
    r.register("ewkb_decode_hex", graft.io.PostgisIO.decodeHexEwkbU)
    r.register("ewkb_srid", graft.io.PostgisIO.ewkbSridU)
    r.register("ewkb_encode_hex", graft.io.PostgisIO.encodeHexEwkbU)
    r.register("st_polygonize", stPolygonizeU)
    r.register("st_polygonize_full", stPolygonizeFullU)
    r.register("st_simplify_coverage", stSimplifyCoverageU)

    // HOT-PATH NATIVE OVERRIDES — registered after (and shadowing) the UDF
    // twins above, so SQL strings get the same codegen expressions the
    // Column API builds, and therefore the same GeomSimplify fusions
    // (constructed-point distance → Hypot, box predicates → interval
    // kernels, …). Numeric arguments are cast to double because native
    // expressions do no implicit coercion (a SQL integer literal would
    // ClassCastException where the UDF path silently coerced); geometry
    // arguments pass through raw, like the Column API.
    {
      import org.apache.spark.sql.catalyst.FunctionIdentifier
      import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
      import org.apache.spark.sql.types.DoubleType
      val fr = spark.sessionState.functionRegistry
      def reg(name: String, arity: Int)(b: Seq[Expression] => Expression): Unit =
        fr.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo("graft.functions.GeoFunctions", name),
          { args: Seq[Expression] =>
            require(args.length == arity, s"$name takes $arity arguments, got ${args.length}")
            b(args)
          })
      def d(e: Expression): Expression = Cast(e, DoubleType)
      reg("st_point", 2)(a => gexpr.StPoint(d(a(0)), d(a(1))))
      reg("st_makebox", 4)(a => gexpr.StMakeBox(d(a(0)), d(a(1)), d(a(2)), d(a(3))))
      reg("st_makeline", 2)(a => gexpr.StMakeLine(a(0), a(1)))
      reg("st_envelope", 1)(a => gexpr.StEnvelope(a(0)))
      reg("st_intersects", 2)(a => gexpr.StIntersects(a(0), a(1)))
      reg("st_contains", 2)(a => gexpr.StContains(a(0), a(1)))
      reg("st_within", 2)(a => gexpr.StWithin(a(0), a(1)))
      reg("st_disjoint", 2)(a => gexpr.StDisjoint(a(0), a(1)))
      reg("st_touches", 2)(a => gexpr.StTouches(a(0), a(1)))
      reg("st_crosses", 2)(a => gexpr.StCrosses(a(0), a(1)))
      reg("st_overlaps", 2)(a => gexpr.StOverlaps(a(0), a(1)))
      reg("st_covers", 2)(a => gexpr.StCovers(a(0), a(1)))
      reg("st_covered_by", 2)(a => gexpr.StCoveredBy(a(0), a(1)))
      reg("st_area", 1)(a => gexpr.StArea(a(0)))
      reg("st_length", 1)(a => gexpr.StLength(a(0)))
      reg("st_x", 1)(a => gexpr.StX(a(0)))
      reg("st_y", 1)(a => gexpr.StY(a(0)))
      reg("st_distance", 2)(a => gexpr.StDistance(a(0), a(1)))
      reg("st_dwithin", 3)(a => gexpr.StDWithin(a(0), a(1), d(a(2))))
    }
  }
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

package graft.geom

import org.locationtech.jts.algorithm.{ConvexHull, MinimumBoundingCircle, MinimumDiameter, Orientation}
import org.locationtech.jts.algorithm.construct.MaximumInscribedCircle
import org.locationtech.jts.algorithm.distance.DiscreteHausdorffDistance
import org.locationtech.jts.algorithm.hull.ConcaveHull
import org.locationtech.jts.densify.Densifier
import org.locationtech.jts.geom._
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.geom.util.{AffineTransformation, GeometryFixer}
import org.locationtech.jts.linearref.LengthIndexedLine
import org.locationtech.jts.operation.buffer.{BufferOp, BufferParameters, OffsetCurve}
import org.locationtech.jts.operation.distance.DistanceOp
import org.locationtech.jts.operation.linemerge.LineMerger
import org.locationtech.jts.operation.overlayng.{OverlayNGRobust, PrecisionUtil, UnaryUnionNG}
import org.locationtech.jts.operation.polygonize.Polygonizer
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.locationtech.jts.precision.{GeometryPrecisionReducer, MinimumClearance}
import org.locationtech.jts.simplify.{DouglasPeuckerSimplifier, TopologyPreservingSimplifier}
import org.locationtech.jts.triangulate.{DelaunayTriangulationBuilder, VoronoiDiagramBuilder}

import scala.jdk.CollectionConverters._

/** Pure JTS geometry kernel — the analog of the reference's shapely/GEOS
  * ufunc layer (`geopandas/array.py:543-1095`). No Spark imports: unit
  * testable without a session; wrapped as column functions in
  * [[graft.functions.GeoFunctions]].
  *
  * Semantics notes carried over from the reference:
  *  - buffer default quad_segs = 16, not GEOS' 8 (`array.py:936-938`)
  *  - missing geometry = null, distinct from empty (`array.py:72-75`)
  */
object GeomOps {
  private val gf = Wkb.factory

  // ---- constructors -------------------------------------------------------
  def point(x: Double, y: Double): Geometry = gf.createPoint(new Coordinate(x, y))
  def pointZ(x: Double, y: Double, z: Double): Geometry = gf.createPoint(new Coordinate(x, y, z))
  def makeLine(a: Geometry, b: Geometry): Geometry =
    gf.createLineString(Array(a.getCoordinate, b.getCoordinate))
  def makeBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Geometry =
    gf.toGeometry(new Envelope(xmin, xmax, ymin, ymax))
  def collect(gs: Seq[Geometry]): Geometry = {
    val nonNull = gs.filter(_ != null)
    if (nonNull.isEmpty) gf.createGeometryCollection(Array.empty)
    else gf.buildGeometry(nonNull.asJava) // MultiPoint/MultiLine/MultiPoly if homogeneous
  }

  // ---- unary predicates (ref base.py:301-843) -----------------------------
  def isValid(g: Geometry): Boolean = g.isValid
  def isValidReason(g: Geometry): String =
    new org.locationtech.jts.operation.valid.IsValidOp(g).getValidationError match {
      case null => "Valid Geometry"
      case e    => e.toString
    }
  def isEmpty(g: Geometry): Boolean = g.isEmpty
  def isSimple(g: Geometry): Boolean = g.isSimple
  def isRing(g: Geometry): Boolean = g match {
    case l: LineString => l.isClosed && l.isSimple
    case _             => false
  }
  def isCcw(g: Geometry): Boolean = g match {
    case l: LineString if l.isClosed => Orientation.isCCW(l.getCoordinateSequence)
    case _                           => false
  }
  def isClosed(g: Geometry): Boolean = g match {
    case l: LineString      => l.isClosed
    case m: MultiLineString => m.isClosed
    case _                  => false
  }
  def hasZ(g: Geometry): Boolean = Wkb.hasZ(g)

  // ---- binary predicates (ref base.py:2583-3957) --------------------------
  def intersects(a: Geometry, b: Geometry): Boolean = a.intersects(b)
  def contains(a: Geometry, b: Geometry): Boolean = a.contains(b)
  def containsProperly(a: Geometry, b: Geometry): Boolean =
    PreparedGeometryFactory.prepare(a).containsProperly(b)
  def within(a: Geometry, b: Geometry): Boolean = a.within(b)
  def covers(a: Geometry, b: Geometry): Boolean = a.covers(b)
  def coveredBy(a: Geometry, b: Geometry): Boolean = a.coveredBy(b)
  def crosses(a: Geometry, b: Geometry): Boolean = a.crosses(b)
  def disjoint(a: Geometry, b: Geometry): Boolean = a.disjoint(b)
  def overlaps(a: Geometry, b: Geometry): Boolean = a.overlaps(b)
  def touches(a: Geometry, b: Geometry): Boolean = a.touches(b)
  def geomEquals(a: Geometry, b: Geometry): Boolean = a.equalsTopo(b)
  def geomEqualsExact(a: Geometry, b: Geometry, tol: Double): Boolean = a.equalsExact(b, tol)
  def dwithin(a: Geometry, b: Geometry, d: Double): Boolean = a.isWithinDistance(b, d)
  def relate(a: Geometry, b: Geometry): String = a.relate(b).toString
  def relatePattern(a: Geometry, b: Geometry, pattern: String): Boolean = a.relate(b, pattern)

  // ---- measures -----------------------------------------------------------
  def area(g: Geometry): Double = g.getArea
  def length(g: Geometry): Double = g.getLength
  def distance(a: Geometry, b: Geometry): Double = a.distance(b)
  def hausdorff(a: Geometry, b: Geometry): Double = DiscreteHausdorffDistance.distance(a, b)
  def hausdorffDensify(a: Geometry, b: Geometry, densify: Double): Double =
    DiscreteHausdorffDistance.distance(a, b, densify)
  def frechet(a: Geometry, b: Geometry): Double =
    org.locationtech.jts.algorithm.distance.DiscreteFrechetDistance.distance(a, b)

  /** frechet_distance(densify=) (ref base.py:4049): GEOS densifies each
    * segment into ceil(1/frac) equal parts before the discrete distance;
    * JTS's DiscreteFrechetDistance has no frac arg, so densify explicitly. */
  def frechetDensify(a: Geometry, b: Geometry, densifyFrac: Double): Double = {
    require(densifyFrac > 0 && densifyFrac <= 1, "densify must be in (0, 1]")
    org.locationtech.jts.algorithm.distance.DiscreteFrechetDistance.distance(
      densifyByFraction(a, densifyFrac), densifyByFraction(b, densifyFrac))
  }

  /** Split every segment into ceil(1/frac) equal parts (per-segment, like
    * GEOS's densifyFrac — unlike Densifier's global max length). */
  private def densifyByFraction(g: Geometry, frac: Double): Geometry = {
    val n = math.ceil(1.0 / frac).toInt
    if (n <= 1) return g
    val ed = new org.locationtech.jts.geom.util.GeometryEditor(gf)
    ed.edit(g, new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
      override def edit(coords: Array[Coordinate], geometry: Geometry): Array[Coordinate] = {
        if (coords.length < 2) return coords
        val out = scala.collection.mutable.ArrayBuffer[Coordinate](coords(0))
        var i = 1
        while (i < coords.length) {
          val p0 = coords(i - 1)
          val p1 = coords(i)
          var k = 1
          while (k < n) {
            val t = k.toDouble / n
            out += new Coordinate(p0.x + (p1.x - p0.x) * t, p0.y + (p1.y - p0.y) * t)
            k += 1
          }
          out += p1
          i += 1
        }
        out.toArray
      }
    })
  }

  // ---- unary transforms (ref base.py:986-2440, array.py:595-792) ----------
  def boundary(g: Geometry): Geometry = g.getBoundary
  def centroid(g: Geometry): Geometry = g.getCentroid
  def representativePoint(g: Geometry): Geometry = g.getInteriorPoint
  def convexHull(g: Geometry): Geometry = new ConvexHull(g).getConvexHull
  def concaveHull(g: Geometry, ratio: Double, allowHoles: Boolean): Geometry = {
    val h = new ConcaveHull(g)
    h.setMaximumEdgeLengthRatio(ratio)
    h.setHolesAllowed(allowHoles)
    h.getHull
  }
  def envelope(g: Geometry): Geometry = g.getEnvelope
  def minimumRotatedRectangle(g: Geometry): Geometry = MinimumDiameter.getMinimumRectangle(g)
  def minimumBoundingCircle(g: Geometry): Geometry = {
    val mbc = new MinimumBoundingCircle(g)
    val c = mbc.getCentre
    val r = mbc.getRadius
    if (c == null) gf.createPolygon()
    else if (r == 0) gf.createPoint(c)
    else gf.createPoint(c).buffer(r, 16)
  }
  def minimumBoundingRadius(g: Geometry): Double = new MinimumBoundingCircle(g).getRadius
  def maximumInscribedCircle(g: Geometry, tolerance: Double): Geometry = {
    val mic = new MaximumInscribedCircle(g, tolerance)
    gf.createLineString(Array(mic.getCenter.getCoordinate, mic.getRadiusPoint.getCoordinate))
  }
  def minimumClearance(g: Geometry): Double = MinimumClearance.getDistance(g)
  def minimumClearanceLine(g: Geometry): Geometry = MinimumClearance.getLine(g)
  def exterior(g: Geometry): Geometry = g match {
    case p: Polygon => p.getExteriorRing
    case _          => null
  }
  def interiors(g: Geometry): Array[Geometry] = g match {
    case p: Polygon => (0 until p.getNumInteriorRing).map(p.getInteriorRingN(_): Geometry).toArray
    case _          => Array.empty
  }
  /** Hole count (ref geopandas/base.py:629 `count_interior_rings`):
    * polygons report their interior-ring count, everything else 0 —
    * matching shapely's count_interior_rings semantics. */
  def numInteriorRings(g: Geometry): Int = g match {
    case p: Polygon => p.getNumInteriorRing
    case _          => 0
  }
  def extractUniquePoints(g: Geometry): Geometry = {
    // key on raw bits, not Double values: a 2-D coordinate carries Z = NaN,
    // and primitive NaN != NaN would defeat the dedup entirely; +0.0 folds
    // -0.0 into 0.0 and doubleToLongBits canonicalizes every NaN payload
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d + 0.0)
    val seen = scala.collection.mutable.HashSet[(Long, Long, Long)]()
    val coords = scala.collection.mutable.ArrayBuffer[Coordinate]()
    g.getCoordinates.foreach { c =>
      val k = (bits(c.x), bits(c.y), bits(c.getZ))
      if (seen.add(k)) coords += c
    }
    gf.createMultiPointFromCoords(coords.toArray)
  }
  def offsetCurve(g: Geometry, distance: Double, quadSegs: Int, joinStyle: Int, mitreLimit: Double): Geometry = {
    val bp = new BufferParameters(quadSegs, BufferParameters.CAP_FLAT, joinStyle, mitreLimit)
    OffsetCurve.getCurve(g, distance, quadSegs, joinStyle, mitreLimit)
  }
  def removeRepeatedPoints(g: Geometry, tolerance: Double): Geometry =
    org.locationtech.jts.geom.util.GeometryFixer.fix(removeRepeatedImpl(g, tolerance))
  private def removeRepeatedImpl(g: Geometry, tol: Double): Geometry = {
    val ed = new org.locationtech.jts.geom.util.GeometryEditor(gf)
    ed.edit(g, new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
      override def edit(coords: Array[Coordinate], geometry: Geometry): Array[Coordinate] = {
        val out = scala.collection.mutable.ArrayBuffer[Coordinate]()
        coords.foreach { c =>
          if (out.isEmpty || out.last.distance(c) > tol) out += c
        }
        if (geometry.isInstanceOf[LinearRing] && out.size < 4 && coords.nonEmpty) coords
        else if (geometry.isInstanceOf[LineString] && out.size < 2 && coords.nonEmpty) coords
        else out.toArray
      }
    })
  }
  /** Snap coordinates to a precision grid. The returned geometry carries a
    * fixed-precision factory so [[getPrecision]] can read the grid size back
    * — NOTE this survives only in-memory kernel compositions: the engine's
    * WKB column encoding (like any WKB) has no precision metadata, so a
    * round trip through a geometry column resets get_precision to 0
    * (documented divergence from shapely's in-memory model). */
  def setPrecision(g: Geometry, gridSize: Double): Geometry = {
    val pm = new PrecisionModel(1.0 / gridSize)
    val reduced = GeometryPrecisionReducer.reduce(g, pm)
    new GeometryFactory(pm, g.getSRID).createGeometry(reduced)
  }
  /** set_precision mode= forms (ref base.py:1700 / shapely set_precision):
    * valid_output (default — full reduce, collapses removed), pointwise
    * (round coordinates only, validity not enforced), keep_collapsed
    * (like valid_output but collapsed components retained as lower dims). */
  def setPrecision(g: Geometry, gridSize: Double, mode: String): Geometry = {
    val pm = new PrecisionModel(1.0 / gridSize)
    val reduced = mode match {
      case "valid_output" => GeometryPrecisionReducer.reduce(g, pm)
      case "pointwise"    => GeometryPrecisionReducer.reducePointwise(g, pm)
      case "keep_collapsed" =>
        // JTS's removeCollapsedComponents flag still drops fully-collapsed
        // geometries; GEOS's keep_collapsed instead demotes them (sliver
        // polygon -> line). Emulate: pointwise snap, then fix with
        // keepCollapsed so degenerate rings become lines/points.
        val pw = GeometryPrecisionReducer.reducePointwise(g, pm)
        val f = new GeometryFixer(pw)
        f.setKeepCollapsed(true)
        f.getResult
      case other => throw new IllegalArgumentException(
        s"set_precision mode must be valid_output/pointwise/keep_collapsed, got $other")
    }
    new GeometryFactory(pm, g.getSRID).createGeometry(reduced)
  }

  def normalize(g: Geometry): Geometry = { val c = g.copy(); c.normalize(); c }
  def makeValid(g: Geometry): Geometry = if (g.isValid) g else GeometryFixer.fix(g)

  /** make_valid method= forms (ref base.py:2114 / shapely make_valid):
    * "structure" = GeometryFixer (rebuild rings, optional collapse keep);
    * "linework" = GEOS's classic approach, emulated by noding the boundary
    * linework and polygonizing it — may return a collection holding the
    * polygonal result plus leftover lines, like the reference. */
  def makeValid(g: Geometry, method: String, keepCollapsed: Boolean): Geometry = method match {
    case "structure" =>
      if (g.isValid) g
      else {
        val f = new GeometryFixer(g)
        f.setKeepCollapsed(keepCollapsed)
        f.getResult
      }
    case "linework" =>
      if (g.isValid) g
      else if (g.getDimension == 2) {
        // node the boundary against itself, then rebuild faces
        val noded = UnaryUnionOp.union(g.getBoundary)
        val p = new Polygonizer(false)
        p.add(noded)
        val polys = p.getPolygons.asScala.toSeq.asInstanceOf[Seq[Geometry]]
        val dangles = p.getDangles.asScala.toSeq.asInstanceOf[Seq[Geometry]]
        val cuts = p.getCutEdges.asScala.toSeq.asInstanceOf[Seq[Geometry]]
        val leftovers = dangles ++ cuts
        val polyPart = if (polys.isEmpty) gf.createPolygon() else UnaryUnionOp.union(polys.asJava)
        if (leftovers.isEmpty) polyPart
        else gf.createGeometryCollection((polyPart +: leftovers).toArray)
      } else GeometryFixer.fix(g)
    case other => throw new IllegalArgumentException(
      s"make_valid method must be structure/linework, got $other")
  }
  def reverse(g: Geometry): Geometry = g.reverse()
  def segmentize(g: Geometry, maxLen: Double): Geometry = Densifier.densify(g, maxLen)
  def force2d(g: Geometry): Geometry = {
    val ed = new org.locationtech.jts.geom.util.GeometryEditor(gf)
    ed.edit(g, new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
      override def edit(coords: Array[Coordinate], geometry: Geometry): Array[Coordinate] =
        coords.map(c => new Coordinate(c.x, c.y))
    })
  }
  def force3d(g: Geometry, z: Double): Geometry = {
    val ed = new org.locationtech.jts.geom.util.GeometryEditor(gf)
    ed.edit(g, new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
      override def edit(coords: Array[Coordinate], geometry: Geometry): Array[Coordinate] =
        coords.map(c => new Coordinate(c.x, c.y, if (java.lang.Double.isNaN(c.getZ)) z else c.getZ))
    })
  }
  def lineMerge(g: Geometry): Geometry = {
    val lm = new LineMerger
    lm.add(g)
    val merged = lm.getMergedLineStrings.asScala.toSeq.asInstanceOf[Seq[Geometry]]
    if (merged.size == 1) merged.head else collect(merged)
  }
  def simplify(g: Geometry, tol: Double, preserveTopology: Boolean): Geometry =
    if (preserveTopology) TopologyPreservingSimplifier.simplify(g, tol)
    else DouglasPeuckerSimplifier.simplify(g, tol)
  def buffer(g: Geometry, distance: Double, quadSegs: Int = 16, capStyle: Int = BufferParameters.CAP_ROUND,
             joinStyle: Int = BufferParameters.JOIN_ROUND, mitreLimit: Double = 5.0,
             singleSided: Boolean = false): Geometry = {
    val bp = new BufferParameters(quadSegs, capStyle, joinStyle, mitreLimit)
    bp.setSingleSided(singleSided)
    BufferOp.bufferOp(g, distance, bp)
  }
  def interpolate(g: Geometry, distance: Double, normalized: Boolean): Geometry = {
    val lil = new LengthIndexedLine(g)
    val d = if (normalized) distance * g.getLength else distance
    gf.createPoint(lil.extractPoint(d))
  }
  def project(g: Geometry, other: Geometry, normalized: Boolean): Double = {
    val lil = new LengthIndexedLine(g)
    val d = lil.indexOf(other.getCoordinate)
    if (normalized) d / g.getLength else d
  }
  def clipByRect(g: Geometry, xmin: Double, ymin: Double, xmax: Double, ymax: Double): Geometry = {
    // rectangle ∩ rectangle = envelope arithmetic — skips the full overlay
    // machinery for the extremely common box-clip-box case
    if (g.isRectangle) {
      val ix = g.getEnvelopeInternal.intersection(new Envelope(xmin, xmax, ymin, ymax))
      if (ix == null || ix.isNull) gf.createPolygon() else gf.toGeometry(ix)
    } else g.intersection(makeBox(xmin, ymin, xmax, ymax))
  }
  def snap(a: Geometry, b: Geometry, tolerance: Double): Geometry =
    org.locationtech.jts.operation.overlay.snap.GeometrySnapper.snap(a, b, tolerance)(0)
  def shortestLine(a: Geometry, b: Geometry): Geometry =
    gf.createLineString(DistanceOp.nearestPoints(a, b))
  def getGeometryN(g: Geometry, i: Int): Geometry = {
    val n = g.getNumGeometries
    val idx = if (i < 0) i + n else i
    if (idx < 0 || idx >= n) null else g.getGeometryN(idx)
  }
  def numGeometries(g: Geometry): Int = g.getNumGeometries
  def numPoints(g: Geometry): Int = g.getNumPoints
  def geometryType(g: Geometry): String = g.getGeometryType
  def delaunayTriangles(g: Geometry, tolerance: Double, onlyEdges: Boolean): Geometry = {
    val b = new DelaunayTriangulationBuilder
    b.setSites(g)
    b.setTolerance(tolerance)
    if (onlyEdges) b.getEdges(gf) else b.getTriangles(gf)
  }
  def voronoiPolygons(g: Geometry, tolerance: Double, onlyEdges: Boolean): Geometry = {
    val b = new VoronoiDiagramBuilder
    b.setSites(g)
    b.setTolerance(tolerance)
    val d = b.getDiagram(gf)
    if (onlyEdges) d.getBoundary else d
  }
  def buildArea(g: Geometry): Geometry = {
    val p = new Polygonizer(true)
    p.add(g)
    val polys = p.getPolygons.asScala.toSeq.asInstanceOf[Seq[Geometry]]
    if (polys.isEmpty) gf.createPolygon() else UnaryUnionOp.union(polys.asJava)
  }
  def polygonize(g: Seq[Geometry]): Geometry = {
    val p = new Polygonizer(false)
    g.filter(_ != null).foreach(p.add)
    collect(p.getPolygons.asScala.toSeq.asInstanceOf[Seq[Geometry]])
  }

  // ---- affine (ref base.py:5970-6200) -------------------------------------
  def affine(g: Geometry, a: Double, b: Double, d: Double, e: Double, xoff: Double, yoff: Double): Geometry = {
    val t = new AffineTransformation(a, b, xoff, d, e, yoff)
    t.transform(g)
  }
  def translate(g: Geometry, dx: Double, dy: Double): Geometry =
    AffineTransformation.translationInstance(dx, dy).transform(g)
  def rotate(g: Geometry, angleDeg: Double, originX: Double, originY: Double): Geometry =
    AffineTransformation.rotationInstance(math.toRadians(angleDeg), originX, originY).transform(g)
  def scale(g: Geometry, xfact: Double, yfact: Double, originX: Double, originY: Double): Geometry =
    AffineTransformation.scaleInstance(xfact, yfact, originX, originY).transform(g)
  def skew(g: Geometry, xsDeg: Double, ysDeg: Double, originX: Double, originY: Double): Geometry =
    AffineTransformation.shearInstance(math.tan(math.toRadians(xsDeg)), math.tan(math.toRadians(ysDeg)))
      .transform(translate(g, -originX, -originY)) match {
      case sheared => translate(sheared, originX, originY)
    }

  // ---- binary geo ops (ref base.py:4405-4762) -----------------------------
  def intersection(a: Geometry, b: Geometry): Geometry = a.intersection(b)
  def union(a: Geometry, b: Geometry): Geometry = a.union(b)
  def difference(a: Geometry, b: Geometry): Geometry = a.difference(b)
  def symDifference(a: Geometry, b: Geometry): Geometry = a.symDifference(b)
  /** Union of the non-null geometries, null when there is none, through
    * OverlayNG (`OverlayNGRobust`, which retries with snapping and then
    * snap-rounding), as GEOS unions from 3.9 on. JTS's legacy cascaded
    * UnaryUnion returned an invalid union, silently, for overlay-cut pieces
    * (`dissolve_z147_pieces.wkbhex`). A `TopologyException` that OverlayNG
    * still throws ("Ring edge missing", `union_ring_edge_missing.wkbhex`)
    * is retried once on a grid scaled to the inputs' extent
    * (`PrecisionUtil.safeScale`: about 14 significant digits). */
  def unionAll(gs: Seq[Geometry]): Geometry = {
    val nonNull = gs.filter(g => g != null)
    if (nonNull.isEmpty) null
    else {
      val all = gf.buildGeometry(nonNull.asJava)
      try OverlayNGRobust.union(all) catch {
        case _: TopologyException => UnaryUnionNG.union(all, new PrecisionModel(PrecisionUtil.safeScale(all)))
      }
    }
  }
  def intersectionAll(gs: Seq[Geometry]): Geometry = {
    val nonNull = gs.filter(_ != null)
    if (nonNull.isEmpty) null else nonNull.reduce(_.intersection(_))
  }

  /** Enforce ring orientation on all polygons (ref base.py:2059
    * orient_polygons): exterior CCW + holes CW by default; flipped when
    * exteriorCw. */
  def orientPolygons(g: Geometry, exteriorCw: Boolean): Geometry = {
    def orientRing(r: LinearRing, cw: Boolean): LinearRing = {
      val isCcw = Orientation.isCCW(r.getCoordinateSequence)
      if (isCcw == cw) gf.createLinearRing(r.getCoordinates.reverse) else r
    }
    def fix(x: Geometry): Geometry = x match {
      case p: Polygon =>
        gf.createPolygon(orientRing(p.getExteriorRing, exteriorCw),
          (0 until p.getNumInteriorRing).map(i => orientRing(p.getInteriorRingN(i), !exteriorCw)).toArray)
      case m: MultiPolygon =>
        gf.createMultiPolygon((0 until m.getNumGeometries).map(i => fix(m.getGeometryN(i)).asInstanceOf[Polygon]).toArray)
      case c: GeometryCollection =>
        gf.createGeometryCollection((0 until c.getNumGeometries).map(i => fix(c.getGeometryN(i))).toArray)
      case other => other
    }
    fix(g)
  }

  /** Constrained Delaunay triangulation of polygon(s)
    * (ref base.py:1123, JTS triangulate.polygon). */
  def constrainedDelaunay(g: Geometry): Geometry =
    org.locationtech.jts.triangulate.polygon.ConstrainedDelaunayTriangulator.triangulate(g)

  /** shared_paths (ref base.py:5152 / GEOS SharedPaths): the linework common
    * to both inputs, returned as GEOMETRYCOLLECTION(MULTILINESTRING forward,
    * MULTILINESTRING backward) — forward = segments the second geometry
    * traverses in the same direction as the first, backward = opposite.
    * Direction is judged by projecting each shared segment's endpoints onto
    * the containing component of `b`'s linework. */
  def sharedPaths(a: Geometry, b: Geometry): Geometry = {
    val la = if (a.getDimension == 2) a.getBoundary else a
    val lb = if (b.getDimension == 2) b.getBoundary else b
    val common = collectionExtract(la.intersection(lb), 1)
    val fwd = scala.collection.mutable.ArrayBuffer[LineString]()
    val bwd = scala.collection.mutable.ArrayBuffer[LineString]()
    val bComponents = (0 until lb.getNumGeometries).map(lb.getGeometryN)
      .collect { case l: LineString => l }
    def direction(seg: LineString): Boolean = {
      // find b's component containing this segment; compare traversal order
      val p0 = seg.getCoordinateN(0)
      val p1 = seg.getCoordinateN(1)
      val mid = new Coordinate((p0.x + p1.x) / 2, (p0.y + p1.y) / 2)
      val host = bComponents.minByOption(c => c.distance(gf.createPoint(mid)))
      host.forall { h =>
        val lil = new LengthIndexedLine(h)
        lil.indexOf(p1) >= lil.indexOf(p0)
      }
    }
    def walk(g: Geometry): Unit = g match {
      case l: LineString if l.getNumPoints >= 2 => if (direction(l)) fwd += l else bwd += l
      case c: GeometryCollection => (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
      case _ => ()
    }
    walk(common)
    gf.createGeometryCollection(Array(
      gf.createMultiLineString(fwd.toArray), gf.createMultiLineString(bwd.toArray)))
  }

  /** Extract only components of the given dimension family (0=point,
    * 1=line, 2=polygon) from a geometry — the reference's
    * `_collection_extract` (`tools/overlay.py:395-454`), used by
    * overlay/clip `keep_geom_type`. */
  def collectionExtract(g: Geometry, dim: Int): Geometry = {
    val out = scala.collection.mutable.ArrayBuffer[Geometry]()
    def walk(x: Geometry): Unit = x match {
      case c: GeometryCollection => (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
      case other                 => if (other.getDimension == dim && !other.isEmpty) out += other
    }
    walk(g)
    if (out.isEmpty) {
      dim match {
        case 0 => gf.createPoint()
        case 1 => gf.createLineString()
        case _ => gf.createPolygon()
      }
    } else if (out.size == 1) out.head
    else collect(out.toSeq)
  }

  // ---- coords -------------------------------------------------------------
  def pointX(g: Geometry): Double = g match { case p: Point => p.getX; case _ => throw new IllegalArgumentException(s"x requires Point, got ${g.getGeometryType}") }
  def pointY(g: Geometry): Double = g match { case p: Point => p.getY; case _ => throw new IllegalArgumentException(s"y requires Point, got ${g.getGeometryType}") }
  def pointZ(g: Geometry): Double = g match { case p: Point => p.getCoordinate.getZ; case _ => Double.NaN }
  def coordinates(g: Geometry): Array[(Double, Double)] = g.getCoordinates.map(c => (c.x, c.y))
  def parts(g: Geometry): Array[Geometry] =
    (0 until g.getNumGeometries).map(g.getGeometryN).toArray
  def bounds(g: Geometry): (Double, Double, Double, Double) = {
    val e = g.getEnvelopeInternal
    (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
  }

  // ---- coverage operations (JTS 1.20 coverage pkg; ref base.py:378/450,
  // union_all(method="coverage") array.py:1002-1019, simplify_coverage
  // base.py:5536) -----------------------------------------------------------

  /** CoverageUnion: boundary-noding-free union for polygonal coverages
    * (non-overlapping, edge-matched) — ~10× cheaper than UnaryUnion for the
    * dissolve-over-admin-boundaries case. */
  def coverageUnion(gs: Seq[Geometry]): Geometry = {
    val nonNull = gs.filter(g => g != null && !g.isEmpty)
    if (nonNull.isEmpty) null
    else org.locationtech.jts.coverage.CoverageUnion.union(nonNull.toArray)
  }

  def isValidCoverage(gs: Seq[Geometry], gapWidth: Double = 0.0): Boolean = {
    val arr = gs.filter(_ != null).toArray
    if (gapWidth > 0) !org.locationtech.jts.coverage.CoverageValidator.hasInvalidResult(
      org.locationtech.jts.coverage.CoverageValidator.validate(arr, gapWidth))
    else org.locationtech.jts.coverage.CoverageValidator.isValid(arr)
  }

  /** One polygon's coverage validity against its neighbours (anything
    * within gapWidth — for gapWidth 0, anything touching/overlapping) — the
    * distributable unit of coverage validation: JTS CoverageValidator runs
    * exactly this per element against STRtree candidates. */
  def isValidCoveragePolygon(g: Geometry, adjacent: Seq[Geometry], gapWidth: Double = 0.0): Boolean = {
    if (g == null) return true
    val res = org.locationtech.jts.coverage.CoveragePolygonValidator.validate(
      g, adjacent.filter(_ != null).toArray, gapWidth)
    res == null || res.isEmpty
  }

  /** Per-input invalid-edge linework (null where the input is coverage-valid)
    * — ref base.py:450 invalid_coverage_edges. Input order preserved. */
  def invalidCoverageEdges(gs: Seq[Geometry], gapWidth: Double = 0.0): Array[Geometry] = {
    val arr = gs.map(g => if (g == null) gf.createPolygon(): Geometry else g).toArray
    org.locationtech.jts.coverage.CoverageValidator.validate(arr, gapWidth)
  }

  /** Simplify a coverage preserving shared edges exactly (ref base.py:5536);
    * returns the simplified geometries in input order. */
  def simplifyCoverage(gs: Seq[Geometry], tolerance: Double, boundary: Boolean = true): Array[Geometry] = {
    val arr = gs.map(g => if (g == null) gf.createPolygon(): Geometry else g).toArray
    if (boundary) org.locationtech.jts.coverage.CoverageSimplifier.simplify(arr, tolerance)
    else org.locationtech.jts.coverage.CoverageSimplifier.simplifyInner(arr, tolerance)
  }

  // ---- grid_size overlay variants (ref base.py:4405-4762; GEOS grid_size ≡
  // OverlayNG with a fixed PrecisionModel of scale 1/grid_size) -------------
  private def pmOf(gridSize: Double) = new PrecisionModel(1.0 / gridSize)
  import org.locationtech.jts.operation.overlayng.OverlayNG
  def intersection(a: Geometry, b: Geometry, gridSize: Double): Geometry =
    if (gridSize <= 0) intersection(a, b) else OverlayNG.overlay(a, b, OverlayNG.INTERSECTION, pmOf(gridSize))
  def union(a: Geometry, b: Geometry, gridSize: Double): Geometry =
    if (gridSize <= 0) union(a, b) else OverlayNG.overlay(a, b, OverlayNG.UNION, pmOf(gridSize))
  def difference(a: Geometry, b: Geometry, gridSize: Double): Geometry =
    if (gridSize <= 0) difference(a, b) else OverlayNG.overlay(a, b, OverlayNG.DIFFERENCE, pmOf(gridSize))
  def symDifference(a: Geometry, b: Geometry, gridSize: Double): Geometry =
    if (gridSize <= 0) symDifference(a, b) else OverlayNG.overlay(a, b, OverlayNG.SYMDIFFERENCE, pmOf(gridSize))
  def unionAll(gs: Seq[Geometry], gridSize: Double): Geometry = {
    val nonNull = gs.filter(_ != null)
    if (nonNull.isEmpty) null
    else if (gridSize <= 0) unionAll(nonNull)
    else UnaryUnionNG.union(nonNull.asJava, pmOf(gridSize))
  }

  /** union_all(method="disjoint_subset") (ref base.py:2500-2553; GEOS 3.12
    * DisjointSubsetUnion, absent from JTS): group inputs into connected
    * components of envelope-intersecting geometries (union-find over an
    * STRtree), union each component independently, collect the results.
    * Much cheaper than full UnaryUnion when the data forms many spatially
    * separated clusters — each cluster nodes only against itself. */
  def unionAllDisjointSubset(gs: Seq[Geometry]): Geometry = {
    val geoms = gs.filter(g => g != null && !g.isEmpty).toArray
    if (geoms.isEmpty) return null
    if (geoms.length == 1) return geoms(0)
    val parent = Array.tabulate(geoms.length)(identity)
    def find(i: Int): Int = { var r = i; while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }; r }
    def unite(i: Int, j: Int): Unit = { val a = find(i); val b = find(j); if (a != b) parent(a) = b }
    val tree = new org.locationtech.jts.index.strtree.STRtree()
    geoms.zipWithIndex.foreach { case (g, i) => tree.insert(g.getEnvelopeInternal, Integer.valueOf(i)) }
    tree.build()
    geoms.zipWithIndex.foreach { case (g, i) =>
      val hits = tree.query(g.getEnvelopeInternal)
      var k = 0
      while (k < hits.size()) {
        val j = hits.get(k).asInstanceOf[Integer].intValue()
        if (j > i && find(i) != find(j) && geoms(i).intersects(geoms(j))) unite(i, j)
        k += 1
      }
    }
    val comps = geoms.indices.groupBy(find)
    val unions = comps.values.map { idxs =>
      if (idxs.size == 1) geoms(idxs.head) else unionAll(idxs.map(geoms))
    }.toSeq
    if (unions.size == 1) unions.head else collect(unions)
  }

  // ---- tail operators ------------------------------------------------------

  /** Exact structural equality including Z, NaN == NaN, same type and
    * component order (ref base.py:3108 geom_equals_identical / shapely
    * equals_identical — unlike equals_exact, no tolerance and Z compared). */
  def geomEqualsIdentical(a: Geometry, b: Geometry): Boolean = {
    def eqD(x: Double, y: Double) =
      x == y || (java.lang.Double.isNaN(x) && java.lang.Double.isNaN(y))
    if (a == null || b == null) a == b
    else if (a.getGeometryType != b.getGeometryType) false
    else if (a.getNumGeometries != b.getNumGeometries) false
    else (a, b) match {
      case (pa: Polygon, pb: Polygon) =>
        pa.getNumInteriorRing == pb.getNumInteriorRing &&
          geomEqualsIdentical(pa.getExteriorRing, pb.getExteriorRing) &&
          (0 until pa.getNumInteriorRing).forall(i =>
            geomEqualsIdentical(pa.getInteriorRingN(i), pb.getInteriorRingN(i)))
      case _ if a.getNumGeometries > 1 || a.isInstanceOf[GeometryCollection] =>
        (0 until a.getNumGeometries).forall(i =>
          geomEqualsIdentical(a.getGeometryN(i), b.getGeometryN(i)))
      case _ =>
        val ca = a.getCoordinates
        val cb = b.getCoordinates
        ca.length == cb.length && ca.indices.forall { i =>
          eqD(ca(i).x, cb(i).x) && eqD(ca(i).y, cb(i).y) && eqD(ca(i).getZ, cb(i).getZ)
        }
    }
  }

  /** Grid size of the geometry's precision model; 0.0 = full floating
    * precision (ref base.py:875 get_precision). */
  def getPrecision(g: Geometry): Double = {
    val pm = g.getPrecisionModel
    if (pm.isFloating) 0.0 else 1.0 / pm.getScale
  }

  /** Arbitrary coordinate transform (ref base.py:2257 transform(func),
    * kernel array.py:772): applies `f(x, y, z) -> (x, y, z)` to every
    * vertex via GeometryEditor. */
  def transformCoords(g: Geometry, f: (Double, Double, Double) => (Double, Double, Double)): Geometry = {
    val ed = new org.locationtech.jts.geom.util.GeometryEditor(gf)
    ed.edit(g, new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
      override def edit(coords: Array[Coordinate], geometry: Geometry): Array[Coordinate] =
        coords.map { c =>
          val (x, y, z) = f(c.x, c.y, c.getZ)
          if (java.lang.Double.isNaN(z)) new Coordinate(x, y) else new Coordinate(x, y, z)
        }
    })
  }

  /** True if any coordinate carries an M value (ref base.py:843 has_m;
    * JTS 1.20 XYZM coordinates). */
  def hasM(g: Geometry): Boolean = {
    if (g == null || g.isEmpty) return false
    g.getCoordinates.exists {
      case m: CoordinateXYZM => !java.lang.Double.isNaN(m.getM)
      case m: CoordinateXYM  => !java.lang.Double.isNaN(m.getM)
      case _                 => false
    }
  }

  /** M of a Point (NaN when absent) — ref geoseries.py:370 `m`. */
  def pointM(g: Geometry): Double = g match {
    case p: Point => p.getCoordinate match {
      case m: CoordinateXYZM => m.getM
      case m: CoordinateXYM  => m.getM
      case _                 => Double.NaN
    }
    case _ => throw new IllegalArgumentException(s"m requires Point, got ${g.getGeometryType}")
  }

  /** polygonize(full=True) 4-output form (ref base.py:6545-6632):
    * (polygons, cut edges, dangles, invalid ring lines). */
  def polygonizeFull(gs: Seq[Geometry]): (Geometry, Geometry, Geometry, Geometry) = {
    val p = new Polygonizer(false)
    gs.filter(_ != null).foreach(p.add)
    def coll(xs: java.util.Collection[_]): Geometry =
      collect(xs.asScala.toSeq.asInstanceOf[Seq[Geometry]])
    (coll(p.getPolygons), coll(p.getCutEdges), coll(p.getDangles), coll(p.getInvalidRingLines))
  }

  /** line_merge(directed=True) (ref base.py:2395): merge lines only where
    * orientation agrees — chains are followed through nodes with exactly one
    * incoming and one outgoing edge, never reversing a line. */
  def lineMergeDirected(g: Geometry): Geometry = {
    val lines = scala.collection.mutable.ArrayBuffer[LineString]()
    def walk(x: Geometry): Unit = x match {
      case l: LineString         => if (!l.isEmpty) lines += l
      case c: GeometryCollection => (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
      case _                     => ()
    }
    walk(g)
    type Node = (Double, Double)
    def node(c: Coordinate): Node = (c.x, c.y)
    val outEdges = lines.groupBy(l => node(l.getCoordinateN(0)))
    val inDeg = lines.groupBy(l => node(l.getCoordinateN(l.getNumPoints - 1))).map { case (k, v) => k -> v.size }
    val used = scala.collection.mutable.Set[Int]()
    val idx = lines.zipWithIndex.toMap
    def passThrough(n: Node): Option[LineString] =
      outEdges.get(n).filter(es => es.size == 1 && inDeg.getOrElse(n, 0) == 1).map(_.head)
    val merged = scala.collection.mutable.ArrayBuffer[LineString]()
    // chain starts: lines whose start node is NOT a simple pass-through
    val starts = lines.filter(l => passThrough(node(l.getCoordinateN(0))).isEmpty)
    for (start <- starts if !used(idx(start))) {
      val coords = scala.collection.mutable.ArrayBuffer[Coordinate](start.getCoordinates.toIndexedSeq: _*)
      used += idx(start)
      var cur = start
      var next = passThrough(node(cur.getCoordinateN(cur.getNumPoints - 1)))
      while (next.isDefined && !used(idx(next.get))) {
        cur = next.get
        used += idx(cur)
        coords ++= cur.getCoordinates.drop(1)
        next = passThrough(node(cur.getCoordinateN(cur.getNumPoints - 1)))
      }
      merged += gf.createLineString(coords.toArray)
    }
    // remaining lines are in cycles of pass-through nodes: emit per cycle
    for (l <- lines if !used(idx(l))) {
      val coords = scala.collection.mutable.ArrayBuffer[Coordinate](l.getCoordinates.toIndexedSeq: _*)
      used += idx(l)
      var cur = l
      var next = passThrough(node(cur.getCoordinateN(cur.getNumPoints - 1)))
      while (next.isDefined && !used(idx(next.get))) {
        cur = next.get
        used += idx(cur)
        coords ++= cur.getCoordinates.drop(1)
        next = passThrough(node(cur.getCoordinateN(cur.getNumPoints - 1)))
      }
      merged += gf.createLineString(coords.toArray)
    }
    if (merged.size == 1) merged.head else collect(merged.toSeq)
  }

  /** voronoi with extend_to (ref base.py:1301): clip envelope grows to
    * cover `extendTo`'s envelope. */
  def voronoiPolygons(g: Geometry, tolerance: Double, onlyEdges: Boolean, extendTo: Geometry): Geometry = {
    val b = new VoronoiDiagramBuilder
    b.setSites(g)
    b.setTolerance(tolerance)
    if (extendTo != null) {
      val env = new Envelope(g.getEnvelopeInternal)
      env.expandToInclude(extendTo.getEnvelopeInternal)
      b.setClipEnvelope(env)
    }
    val d = b.getDiagram(gf)
    if (onlyEdges) d.getBoundary else d
  }

  /** [[samplePoints]] with the reference's method= arg (ref base.py:6379):
    * only "uniform" is built in — other methods require the pointpats
    * package in the reference too, so they raise there as well. */
  def samplePoints(g: Geometry, size: Int, seed: Long, method: String): Geometry = {
    require(method == "uniform", s"unsupported sample_points method '$method' (only 'uniform')")
    samplePoints(g, size, seed)
  }

  /** Deterministic per-geometry sampler (ref tools/_random.py:14-83): uniform
    * along lines by length; rejection sampling in polygon bbox. */
  def samplePoints(g: Geometry, size: Int, seed: Long): Geometry = {
    val rng = new java.util.Random(seed)
    val coords = g match {
      case _ if g.getDimension == 2 =>
        val e = g.getEnvelopeInternal
        val prep = PreparedGeometryFactory.prepare(g)
        val out = scala.collection.mutable.ArrayBuffer[Coordinate]()
        var attempts = 0
        while (out.size < size && attempts < size * 1000) {
          val c = new Coordinate(e.getMinX + rng.nextDouble() * e.getWidth, e.getMinY + rng.nextDouble() * e.getHeight)
          if (prep.intersects(gf.createPoint(c))) out += c
          attempts += 1
        }
        out.toArray
      case _ if g.getDimension == 1 =>
        val lil = new LengthIndexedLine(g)
        val len = g.getLength
        Array.fill(size)(lil.extractPoint(rng.nextDouble() * len))
      case _ =>
        Array.fill(size)(g.getCoordinate)
    }
    gf.createMultiPointFromCoords(coords)
  }
}

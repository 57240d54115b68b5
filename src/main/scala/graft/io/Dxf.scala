package graft.io

import graft.api.GeoDataFrame
import graft.geom.Wkb
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LinearRing, LineString, Point, Polygon}

/** AutoCAD DXF (Drawing Exchange Format) vector driver — the ASCII R12
  * subset, written to the public Autodesk DXF reference (group-code/value
  * line pairs, ENTITIES section). The reference reaches DXF through GDAL
  * (`io/file.py:197-339`); this is an independent pure-JVM implementation
  * of the entity set GDAL's driver maps to simple features:
  *
  *  - read: POINT, LINE, LWPOLYLINE (incl. bulge arcs, densified),
  *    POLYLINE/VERTEX/SEQEND (2D closed flag + 3D), CIRCLE and ARC
  *    (densified closed/open linestrings, GDAL parity), ELLIPSE
  *    (parametric form, densified) and SPLINE (NURBS evaluated by
  *    Cox-de Boor, densified — GDAL converts both to linestrings the
  *    same way), HATCH with polyline boundary paths and the full
  *    edge-list set — line, circular-arc, elliptic-arc and spline edges
  *    (assembled to (Multi)Polygon with even-odd ring nesting, like the
  *    MIF REGION reader), SOLID/3DFACE filled faces -> polygons (SOLID's
  *    bowtie corner order fixed up like GDAL), and INSERT entities
  *    EXPANDED from the BLOCKS section (translate/scale/rotate, byblock
  *    layer inheritance, MINSERT column/row arrays, nested inserts) the
  *    way GDAL inlines blocks — a CAD file whose geometry lives in block
  *    references reads completely instead of silently empty.
  *    Annotation entities (TEXT/MTEXT/ATTDEF/ATTRIB/DIMENSION/
  *    VIEWPORT) carry no feature geometry and are skipped, like GDAL;
  *    geometric entities OUTSIDE the subset (MLINE/...)
  *    raise loudly rather than silently dropping data.
  *  - write: Point -> POINT, LineString -> LWPOLYLINE (3D linestrings ->
  *    POLYLINE with VERTEX records), Polygon -> HATCH (solid fill,
  *    closed polyline loops; exterior + holes stay ONE entity, so rows
  *    round-trip 1:1). Multi-part geometries raise (DXF has no
  *    multi-geometry entity — explode first).
  *
  * DXF carries no attribute table: a feature is layer + geometry (+ the
  * entity handle). Read returns (Layer, geometry); write takes an optional
  * layer column and REFUSES frames with other attribute columns instead of
  * silently dropping them (GDAL warns-and-drops; this engine's posture is
  * the loud raise, pointing at GeoParquet).
  *
  * Scale posture: like the other single-document interchange drivers —
  * reads parallelize per FILE via `binaryFiles`, the single-file export
  * streams through the driver partition by partition, `writePartitioned`
  * writes one .dxf per partition executor-side.
  */
object Dxf {

  // -------------------------------------------------------------- read

  def read(spark: SparkSession, path: String,
           layer: Option[String] = None,
           bbox: Option[(Double, Double, Double, Double)] = None,
           columns: Option[Seq[String]] = None,
           rows: Option[Int] = None,
           mask: Option[Array[Byte]] = None,
           where: Option[String] = None): GeoDataFrame = {
    val base = readAll(spark, path)
    val filtered = layer.map(l => base.copy(df = base.df.filter(col("Layer") === l))).getOrElse(base)
    IoFilters.pruneAndLimit(IoFilters.bboxOrMask(filtered, bbox, mask), columns, rows, where)
  }

  /** The drawing layers present in the file(s) with their geometry type
    * ("Geometry" when a layer mixes types). DXF has no layer table in the
    * entities-only form, so this is one distinct scan — unlike GPKG, where
    * the catalog answers from metadata pages. */
  def listLayers(spark: SparkSession, path: String): Seq[(String, String)] = {
    import graft.functions.GeoFunctions.st_geometrytype
    readAll(spark, path).df
      .select(col("Layer"), st_geometrytype(col("geometry")).as("__t"))
      .groupBy("Layer").agg(collect_set(col("__t")).as("__ts"))
      .collect()
      .map { r =>
        val ts = r.getSeq[String](1)
        (r.getString(0), if (ts.length == 1) ts.head else "Geometry")
      }
      .sortBy(_._1).toSeq
  }

  private def readAll(spark: SparkSession, path: String): GeoDataFrame = {
    val paths = IoFilters.resolvePaths(spark, path, ".dxf")
    require(paths.nonEmpty, s"no .dxf files at $path")
    val schema = StructType(Seq(
      StructField("Layer", StringType, nullable = true),
      StructField("EntityHandle", StringType, nullable = true),
      StructField("geometry", BinaryType, nullable = true)))
    val rowsRdd = spark.sparkContext.binaryFiles(paths.mkString(","))
      .flatMap { case (_, stream) =>
        parseEntities(new String(stream.toArray(), "UTF-8")).iterator.map {
          case (layer, handle, g) => Row(layer, handle.orNull, Wkb.write(g))
        }
      }
    GeoDataFrame(spark.createDataFrame(rowsRdd, schema), "geometry", Map.empty)
  }

  /** One parsed entity: (layer, handle, geometry). INSERT entities are
    * expanded from the BLOCKS section like GDAL's driver: the referenced
    * block's entities transform through translate(-base) -> scale(41/42) ->
    * [column/row offset for MINSERT arrays] -> rotate(50) ->
    * translate(insert point), recursively for nested inserts (depth-capped
    * against reference cycles). Block entities drawn on layer "0" inherit
    * the INSERT's layer (the DXF "byblock" convention GDAL follows);
    * entities on any other layer keep their own. */
  private[io] def parseEntities(text: String):
      IndexedSeq[(String, Option[String], Geometry)] = {
    val gf = new GeometryFactory()
    val pairs = parsePairs(text)

    // collect (code, value) groups of one entity: from a 0-code start to
    // the next 0 code
    def entityAt(start: Int): (String, IndexedSeq[(Int, String)], Int) = {
      val name = pairs(start)._2.toUpperCase
      var j = start + 1
      val buf = IndexedSeq.newBuilder[(Int, String)]
      while (j < pairs.length && pairs(j)._1 != 0) { buf += pairs(j); j += 1 }
      (name, buf.result(), j)
    }
    def d(g: Seq[(Int, String)], code: Int): Option[Double] =
      g.find(_._1 == code).map(_._2.toDouble)
    def layerOf(g: Seq[(Int, String)]): String =
      g.find(_._1 == 8).map(_._2).getOrElse("0")
    def handleOf(g: Seq[(Int, String)]): Option[String] = g.find(_._1 == 5).map(_._2.trim)

    // ---- BLOCKS section: name -> (base point, entity pair range) --------
    case class BlockDef(baseX: Double, baseY: Double, from: Int, until: Int)
    val blocks = scala.collection.mutable.Map[String, BlockDef]()
    var bi = 0
    var inBlocks = false
    while (bi < pairs.length && !inBlocks) {
      if (pairs(bi) == ((0, "SECTION")) && bi + 1 < pairs.length && pairs(bi + 1)._1 == 2 &&
        pairs(bi + 1)._2.trim.equalsIgnoreCase("BLOCKS")) { inBlocks = true; bi += 2 }
      else bi += 1
    }
    if (inBlocks) {
      while (bi < pairs.length && pairs(bi) != ((0, "ENDSEC"))) {
        if (pairs(bi)._1 == 0 && pairs(bi)._2.equalsIgnoreCase("BLOCK")) {
          val (_, bg, bodyStart) = entityAt(bi)
          val bname = bg.find(_._1 == 2).map(_._2.trim).getOrElse("")
          val bx = d(bg, 10).getOrElse(0.0); val by = d(bg, 20).getOrElse(0.0)
          var j = bodyStart
          while (j < pairs.length && pairs(j) != ((0, "ENDBLK")) &&
            pairs(j) != ((0, "ENDSEC"))) j += 1
          if (bname.nonEmpty) blocks(bname) = BlockDef(bx, by, bodyStart, j)
          bi = j + 1
        } else bi += 1
      }
    }

    // ---- entity-range parser (shared by ENTITIES and block bodies) ------
    def parseRange(from: Int, until: Int, depth: Int):
        IndexedSeq[(String, Option[String], Geometry)] = {
      val out = scala.collection.mutable.ArrayBuffer[(String, Option[String], Geometry)]()
      var i = from
      while (i < until && pairs(i) != ((0, "ENDSEC")) && pairs(i) != ((0, "ENDBLK")) &&
        pairs(i) != ((0, "EOF"))) {
        require(pairs(i)._1 == 0, s"DXF: expected an entity start, got ${pairs(i)}")
        val (name, g, next) = entityAt(i)
        i = next
        name match {
          case "POINT" =>
            val (x, y) = (d(g, 10).getOrElse(0.0), d(g, 20).getOrElse(0.0))
            val p = d(g, 30) match {
              case Some(z) => gf.createPoint(new Coordinate(x, y, z))
              case None    => gf.createPoint(new Coordinate(x, y))
            }
            out += ((layerOf(g), handleOf(g), p))
          case "LINE" =>
            out += ((layerOf(g), handleOf(g), gf.createLineString(Array(
              new Coordinate(d(g, 10).getOrElse(0.0), d(g, 20).getOrElse(0.0)),
              new Coordinate(d(g, 11).getOrElse(0.0), d(g, 21).getOrElse(0.0))))))
          case "LWPOLYLINE" =>
            val closed = (d(g, 70).getOrElse(0.0).toInt & 1) != 0
            val coords = densifyBulges(lwVertices(g), closed)
            out += ((layerOf(g), handleOf(g), polylineGeom(gf, coords, closed)))
          case "POLYLINE" =>
            val closed = (d(g, 70).getOrElse(0.0).toInt & 1) != 0
            val is3d = (d(g, 70).getOrElse(0.0).toInt & 8) != 0
            // consume VERTEX entities up to SEQEND
            val verts = scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)]()
            var done = false
            while (i < until && !done) {
              val (vn, vg, vnext) = entityAt(i)
              if (vn == "VERTEX") {
                verts += ((d(vg, 10).getOrElse(0.0), d(vg, 20).getOrElse(0.0),
                  d(vg, 30).getOrElse(0.0), d(vg, 42).getOrElse(0.0)))
                i = vnext
              } else if (vn == "SEQEND") { i = vnext; done = true }
              else done = true // tolerate a missing SEQEND
            }
            val coords =
              if (is3d) densifyBulges(verts.map { case (x, y, z, _) => (new Coordinate(x, y, z), 0.0) }.toIndexedSeq, closed)
              else densifyBulges(verts.map { case (x, y, _, b) => (new Coordinate(x, y), b) }.toIndexedSeq, closed)
            out += ((layerOf(g), handleOf(g), polylineGeom(gf, coords, closed)))
          case "CIRCLE" =>
            val (cx, cy, r) = (d(g, 10).getOrElse(0.0), d(g, 20).getOrElse(0.0), d(g, 40).getOrElse(0.0))
            out += ((layerOf(g), handleOf(g), gf.createLineString(arcCoords(cx, cy, r, 0, 360))))
          case "ARC" =>
            val (cx, cy, r) = (d(g, 10).getOrElse(0.0), d(g, 20).getOrElse(0.0), d(g, 40).getOrElse(0.0))
            val (a0, a1) = (d(g, 50).getOrElse(0.0), d(g, 51).getOrElse(360.0))
            out += ((layerOf(g), handleOf(g), gf.createLineString(arcCoords(cx, cy, r, a0, a1))))
          case "ELLIPSE" =>
            // center 10/20, major-axis ENDPOINT RELATIVE TO CENTER 11/21,
            // minor/major ratio 40, start/end parameters 41/42 (radians) —
            // densified to a linestring like CIRCLE/ARC (GDAL parity)
            val (cx, cy) = (d(g, 10).getOrElse(0.0), d(g, 20).getOrElse(0.0))
            val (mx, my) = (d(g, 11).getOrElse(0.0), d(g, 21).getOrElse(0.0))
            val ratio = d(g, 40).getOrElse(1.0)
            val (t0, t1) = (d(g, 41).getOrElse(0.0), d(g, 42).getOrElse(2 * math.Pi))
            out += ((layerOf(g), handleOf(g),
              gf.createLineString(ellipseCoords(cx, cy, mx, my, ratio, t0, t1))))
          case "SPLINE" =>
            out += ((layerOf(g), handleOf(g), parseSpline(gf, g)))
          case "SOLID" | "3DFACE" =>
            // filled triangle/quad -> polygon, GDAL parity. Corners are
            // 10/20, 11/21, 12/22 (+13/23 for a quad); SOLID stores the quad
            // in "bowtie" order (3rd and 4th corner swapped), 3DFACE in ring
            // order — per the public DXF reference
            def corner(xc: Int, yc: Int): Option[Coordinate] =
              d(g, xc).map(x => new Coordinate(x, d(g, yc).getOrElse(0.0)))
            val c0 = corner(10, 20); val c1 = corner(11, 21)
            val c2 = corner(12, 22); val c3 = corner(13, 23)
            val ringOrder: Seq[Coordinate] = (name, c0, c1, c2, c3) match {
              case ("SOLID", Some(a), Some(b), Some(cc), Some(dd)) if !cc.equals2D(dd) =>
                Seq(a, b, dd, cc) // bowtie fix
              case (_, Some(a), Some(b), Some(cc), Some(dd)) if !cc.equals2D(dd) =>
                Seq(a, b, cc, dd)
              case (_, Some(a), Some(b), Some(cc), _) => Seq(a, b, cc) // triangle
              case _ => throw new IllegalArgumentException(
                s"DXF $name: needs at least 3 corners (codes 10/20, 11/21, 12/22)")
            }
            out += ((layerOf(g), handleOf(g),
              gf.createPolygon((ringOrder :+ new Coordinate(ringOrder.head)).toArray)))
          case "HATCH" =>
            out += ((layerOf(g), handleOf(g), parseHatch(gf, g)))
          case "INSERT" =>
            val bname = g.find(_._1 == 2).map(_._2.trim).getOrElse("")
            val block = blocks.getOrElse(bname, throw new IllegalArgumentException(
              s"DXF INSERT references block '$bname' which the BLOCKS section does not define"))
            require(depth < 8,
              s"DXF INSERT: block nesting deeper than 8 at '$bname' — reference cycle?")
            val inner = parseRange(block.from, block.until, depth + 1)
            val sx = d(g, 41).getOrElse(1.0); val sy = d(g, 42).getOrElse(1.0)
            val rot = math.toRadians(d(g, 50).getOrElse(0.0))
            val (ix, iy) = (d(g, 10).getOrElse(0.0), d(g, 20).getOrElse(0.0))
            val nCols = math.max(1, d(g, 70).getOrElse(1.0).toInt)
            val nRows = math.max(1, d(g, 71).getOrElse(1.0).toInt)
            val colSp = d(g, 44).getOrElse(0.0); val rowSp = d(g, 45).getOrElse(0.0)
            val insLayer = layerOf(g); val insHandle = handleOf(g)
            for (rr <- 0 until nRows; cc <- 0 until nCols) {
              val t = new org.locationtech.jts.geom.util.AffineTransformation()
              t.translate(-block.baseX, -block.baseY)
              t.scale(sx, sy)
              // MINSERT array offsets live in the block's (scaled, unrotated)
              // frame, then the whole array rotates about the insert point
              t.translate(cc * colSp, rr * rowSp)
              t.rotate(rot)
              t.translate(ix, iy)
              inner.foreach { case (l, _, geom) =>
                // layer "0" inside a block = byblock: inherit the INSERT's
                val layer = if (l == "0") insLayer else l
                out += ((layer, insHandle, t.transform(geom)))
              }
            }
          case _ if Annotations.contains(name) => // no feature geometry: skip like GDAL
          case "VERTEX" | "SEQEND" => // stray continuation records: skip
          case other =>
            throw new IllegalArgumentException(
              s"DXF entity $other is outside the supported subset (POINT/LINE/" +
                "LWPOLYLINE/POLYLINE/CIRCLE/ARC/ELLIPSE/SPLINE/SOLID/3DFACE/HATCH/" +
                "INSERT + annotations) — refusing to silently drop geometry; " +
                "convert it before export")
        }
      }
      out.toIndexedSeq
    }

    // seek the ENTITIES section and parse it (INSERTs resolve via `blocks`)
    var i = 0
    var inEntities = false
    while (i < pairs.length && !inEntities) {
      if (pairs(i) == ((0, "SECTION")) && i + 1 < pairs.length && pairs(i + 1)._1 == 2 &&
        pairs(i + 1)._2.trim.equalsIgnoreCase("ENTITIES")) { inEntities = true; i += 2 }
      else i += 1
    }
    require(inEntities, "DXF: no ENTITIES section found")
    parseRange(i, pairs.length, depth = 0)
  }

  private val Annotations = Set("TEXT", "MTEXT", "ATTDEF", "ATTRIB",
    "DIMENSION", "VIEWPORT", "POINTCLOUD", "WIPEOUT", "LEADER", "MULTILEADER")

  /** (code, value) pairs. The code line is trimmed (AutoCAD right-justifies
    * codes in a fixed-width field); the VALUE line is kept verbatim — string
    * values (text, layer names) may legally carry leading/trailing spaces,
    * and numeric parsing tolerates padding at the use sites. Entity/section
    * markers (code 0) are trimmed: their whitespace is never semantic and
    * the parser dispatches on them. A blank line at a CODE position is a
    * stray separator — skipped, resynchronizing the pairing — while a blank
    * line at a VALUE position is an empty string value (legal for text
    * groups); fixed index-parity pairing would instead desync every pair
    * after the stray line into a confusing group-code error. */
  private[io] def parsePairs(text: String): IndexedSeq[(Int, String)] = {
    val lines = text.linesIterator.toIndexedSeq
    val out = IndexedSeq.newBuilder[(Int, String)]
    var i = 0
    while (i < lines.length) {
      val code = lines(i).trim
      if (code.isEmpty) i += 1 // stray blank line between pairs: resync
      else {
        require(i + 1 < lines.length,
          s"DXF: group code '$code' at end of file has no value line")
        val c = try code.toInt catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"DXF: group code line '$code' is not an integer")
        }
        out += ((c, if (c == 0) lines(i + 1).trim else lines(i + 1)))
        i += 2
      }
    }
    out.result()
  }

  /** LWPOLYLINE vertices in group order: each 10 starts a vertex, its 20
    * (and optional 42 bulge) follow before the next 10. */
  private def lwVertices(g: Seq[(Int, String)]): IndexedSeq[(Coordinate, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Coordinate, Double)]()
    var x = Option.empty[Double]; var y = Option.empty[Double]; var b = 0.0
    def flush(): Unit = for (xx <- x; yy <- y) {
      out += ((new Coordinate(xx, yy), b)); x = None; y = None; b = 0.0
    }
    g.foreach {
      case (10, v) => flush(); x = Some(v.toDouble)
      case (20, v) => y = Some(v.toDouble)
      case (42, v) => b = v.toDouble
      case _ => ()
    }
    flush()
    out.toIndexedSeq
  }

  /** Expand bulge arcs between consecutive vertices. bulge = tan(theta/4)
    * where theta is the signed included angle (positive = CCW), per the
    * public DXF reference; segments every <=4 degrees keep the chord error
    * far below coordinate precision at drawing scales. */
  private[io] def densifyBulges(verts: IndexedSeq[(Coordinate, Double)],
                                closed: Boolean): IndexedSeq[Coordinate] = {
    if (verts.isEmpty) return IndexedSeq.empty
    val out = scala.collection.mutable.ArrayBuffer[Coordinate](verts.head._1)
    val n = verts.length
    val last = if (closed) n else n - 1
    var i = 0
    while (i < last) {
      val (p1, bulge) = verts(i)
      val p2 = verts((i + 1) % n)._1
      if (bulge == 0.0 || p1.equals2D(p2)) {
        if (!out.last.equals2D(p2) || (closed && i == last - 1)) out += p2
      } else {
        val theta = 4.0 * math.atan(bulge)
        val chord = p1.distance(p2)
        val r = chord / (2.0 * math.sin(math.abs(theta) / 2.0))
        // center: perpendicular from the chord midpoint, side by bulge sign
        val mx = (p1.x + p2.x) / 2.0; val my = (p1.y + p2.y) / 2.0
        val h = math.sqrt(math.max(0.0, r * r - chord * chord / 4.0)) *
          (if (math.abs(theta) > math.Pi) -1.0 else 1.0)
        val (ux, uy) = ((p2.y - p1.y) / chord, -(p2.x - p1.x) / chord) // right normal of p1->p2
        val sgn = if (theta >= 0) -1.0 else 1.0 // CCW arc: center left of the chord
        val cx = mx + sgn * ux * h; val cy = my + sgn * uy * h
        val aStart = math.atan2(p1.y - cy, p1.x - cx)
        val steps = math.max(1, math.ceil(math.abs(theta) / math.toRadians(4)).toInt)
        var k = 1
        while (k <= steps) {
          val a = aStart + theta * k / steps
          val c = new Coordinate(cx + r * math.cos(a), cy + r * math.sin(a))
          out += (if (k == steps) p2 else c) // land exactly on the stored vertex
          k += 1
        }
      }
      i += 1
    }
    out.toIndexedSeq
  }

  private def polylineGeom(gf: GeometryFactory, coords: IndexedSeq[Coordinate],
                           closed: Boolean): Geometry = {
    val cs =
      if (closed && coords.nonEmpty && !coords.head.equals2D(coords.last)) coords :+ new Coordinate(coords.head)
      else coords
    gf.createLineString(cs.toArray)
  }

  private[io] def arcCoords(cx: Double, cy: Double, r: Double,
                            a0Deg: Double, a1Deg: Double): Array[Coordinate] = {
    val sweep = { val s = a1Deg - a0Deg; if (s <= 0) s + 360 else s }
    val full = sweep >= 360 - 1e-9
    val steps = math.max(8, math.ceil(sweep / 4.0).toInt)
    val out = new Array[Coordinate](steps + 1)
    var k = 0
    while (k <= steps) {
      val a = math.toRadians(a0Deg + sweep * k / steps)
      out(k) = new Coordinate(cx + r * math.cos(a), cy + r * math.sin(a))
      k += 1
    }
    if (full) out(steps) = new Coordinate(out(0)) // bit-exact ring closure
    out
  }

  /** ELLIPSE parametric form, densified: p(t) = c + A cos t + B sin t where
    * A is the major-axis vector (group 11/21, relative to the center) and
    * B = ratio * perp(A). Parameter steps sized like [[arcCoords]]; a full
    * ellipse (sweep 2 pi) closes bit-exactly. */
  /** HATCH elliptic-edge angle correction: group 50/51 carry TRUE angles
    * from the major axis, while the sampler's parameter t satisfies
    * tan(true) = ratio·tan(t) — so t = atan2(sin(true)/ratio, cos(true)),
    * quadrant-preserving (|t − true| < π/2 always), kept on the same 2π
    * branch as the input. Cardinal angles (sin or cos exactly 0 within
    * 1e-12) and ratio 1 return the input BIT-IDENTICALLY — the conversion
    * only moves genuinely oblique angles on non-circular ellipses. */
  private[io] def trueToParam(theta: Double, ratio: Double): Double = {
    val s = math.sin(theta); val c = math.cos(theta)
    if (ratio == 1.0 || math.abs(s) < 1e-12 || math.abs(c) < 1e-12) theta
    else {
      val t = math.atan2(s / ratio, c)
      t + 2 * math.Pi * math.round((theta - t) / (2 * math.Pi))
    }
  }

  private[io] def ellipseCoords(cx: Double, cy: Double, mx: Double, my: Double,
                                ratio: Double, t0: Double, t1: Double): Array[Coordinate] = {
    val sweep = { val s = t1 - t0; if (s <= 0) s + 2 * math.Pi else s }
    val full = sweep >= 2 * math.Pi - 1e-9
    val steps = math.max(8, math.ceil(math.toDegrees(sweep) / 4.0).toInt)
    val out = new Array[Coordinate](steps + 1)
    var k = 0
    while (k <= steps) {
      val t = t0 + sweep * k / steps
      val (ct, st) = (math.cos(t), math.sin(t))
      out(k) = new Coordinate(cx + mx * ct - ratio * my * st, cy + my * ct + ratio * mx * st)
      k += 1
    }
    if (full) out(steps) = new Coordinate(out(0)) // bit-exact ring closure
    out
  }

  /** SPLINE -> densified LineString (GDAL converts splines the same way:
    * `ogrdxf_spline.cpp` evaluates the NURBS and emits a linestring).
    * Control points (10/20) + knots (40) [+ weights (41), rational flag]
    * are evaluated with the standard Cox-de Boor recursion on homogeneous
    * coordinates; AutoCAD's PERIODIC splines (flag bit 2) store unwrapped
    * control points with a short knot vector, so those are rebuilt as the
    * uniform closed B-spline they denote (wrap `degree` control points,
    * uniform knots). A spline carrying only FIT points (no control points —
    * rare, but legal per the DXF reference) degrades to the chord
    * linestring through the fit points: they lie ON the curve, so this is
    * a coarse densification rather than data loss. */
  private def parseSpline(gf: GeometryFactory, g: Seq[(Int, String)]): Geometry = {
    val flags = g.find(_._1 == 70).map(_._2.trim.toInt).getOrElse(0)
    val closed = (flags & 1) != 0
    val periodic = (flags & 2) != 0
    val degree = g.find(_._1 == 71).map(_._2.trim.toInt).getOrElse(3)
    require(degree >= 1 && degree <= 25, s"DXF SPLINE: unreasonable degree $degree")
    var knots = g.collect { case (40, v) => v.toDouble }.toArray
    var ctrl = pairedCoords(g, 10, 20, 30)
    val fit = pairedCoords(g, 11, 21, 31)
    var weights = g.collect { case (41, v) => v.toDouble }.toArray
    if (ctrl.isEmpty) {
      require(fit.nonEmpty, "DXF SPLINE: no control points and no fit points")
      val cs = if (closed && !fit.head.equals2D(fit.last)) fit :+ new Coordinate(fit.head) else fit
      return gf.createLineString(cs.toArray)
    }
    require(weights.isEmpty || weights.length == ctrl.length,
      s"DXF SPLINE: ${weights.length} weights for ${ctrl.length} control points")
    if (periodic && knots.length != ctrl.length + degree + 1) {
      // unwrapped periodic storage: rebuild the equivalent open representation
      weights =
        if (weights.isEmpty) Array.empty
        else weights ++ weights.take(degree)
      ctrl = ctrl ++ ctrl.take(degree)
      knots = Array.tabulate(ctrl.length + degree + 1)(_.toDouble)
    }
    require(knots.length == ctrl.length + degree + 1,
      s"DXF SPLINE: ${knots.length} knots != ${ctrl.length} control points + degree $degree + 1")
    val w = if (weights.isEmpty) Array.fill(ctrl.length)(1.0) else weights
    val coords = splineCoords(degree, knots, ctrl.toArray, w,
      samples = math.max(64, 16 * (ctrl.length - degree)))
    val cs =
      if (closed && coords.length > 1 && !coords.head.equals2D(coords.last))
        coords :+ new Coordinate(coords.head)
      else coords
    gf.createLineString(cs.toArray)
  }

  /** Ordered (xCode,yCode[,zCode]) coordinate list from an entity group —
    * each xCode starts a vertex, its y (and optional z) follow. */
  private def pairedCoords(g: Seq[(Int, String)], xc: Int, yc: Int, zc: Int): IndexedSeq[Coordinate] = {
    val out = scala.collection.mutable.ArrayBuffer[Coordinate]()
    var x = Option.empty[Double]; var y = Option.empty[Double]; var z = Double.NaN
    def flush(): Unit = for (xx <- x; yy <- y) {
      out += (if (z.isNaN) new Coordinate(xx, yy) else new Coordinate(xx, yy, z))
      x = None; y = None; z = Double.NaN
    }
    g.foreach {
      case (`xc`, v) => flush(); x = Some(v.toDouble)
      case (`yc`, v) => y = Some(v.toDouble)
      case (`zc`, v) => z = v.toDouble
      case _         => ()
    }
    flush()
    out.toIndexedSeq
  }

  /** Sample a (possibly rational) B-spline uniformly across its parameter
    * domain [U(p), U(m-1-p)]. Standard findSpan + Cox-de Boor basis from
    * the public NURBS literature, on homogeneous (wx, wy, w). */
  private[io] def splineCoords(p: Int, knots: Array[Double], ctrl: Array[Coordinate],
                               weights: Array[Double], samples: Int): IndexedSeq[Coordinate] = {
    val n = ctrl.length - 1
    val uLo = knots(p); val uHi = knots(knots.length - 1 - p)
    require(uHi > uLo, s"DXF SPLINE: degenerate knot domain [$uLo, $uHi]")
    def findSpan(u: Double): Int = {
      if (u >= knots(n + 1)) return n
      if (u <= knots(p)) return p
      var lo = p; var hi = n + 1; var mid = (lo + hi) / 2
      while (u < knots(mid) || u >= knots(mid + 1)) {
        if (u < knots(mid)) hi = mid else lo = mid
        mid = (lo + hi) / 2
      }
      mid
    }
    val left = new Array[Double](p + 1); val right = new Array[Double](p + 1)
    val basis = new Array[Double](p + 1)
    val out = new Array[Coordinate](samples + 1)
    var s = 0
    while (s <= samples) {
      val u = uLo + (uHi - uLo) * s / samples
      val span = findSpan(u)
      basis(0) = 1.0
      var j = 1
      while (j <= p) {
        left(j) = u - knots(span + 1 - j); right(j) = knots(span + j) - u
        var saved = 0.0; var r = 0
        while (r < j) {
          val temp = basis(r) / (right(r + 1) + left(j - r))
          basis(r) = saved + right(r + 1) * temp
          saved = left(j - r) * temp
          r += 1
        }
        basis(j) = saved
        j += 1
      }
      var xw = 0.0; var yw = 0.0; var ww = 0.0; var k = 0
      while (k <= p) {
        val ci = span - p + k
        val wi = weights(ci) * basis(k)
        xw += ctrl(ci).x * wi; yw += ctrl(ci).y * wi; ww += wi
        k += 1
      }
      out(s) = new Coordinate(xw / ww, yw / ww)
      s += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** HATCH boundary loops -> (Multi)Polygon via the MIF even-odd ring
    * assembly. Supported path types: polyline (bit 2 of code 92) and
    * edge lists with line (type 1), circular-arc (type 2, densified like
    * ARC), elliptic-arc (type 3, densified like ELLIPSE) and spline
    * (type 4, Cox-de Boor like SPLINE) edges — the full edge-type set of
    * the public DXF reference. */
  private def parseHatch(gf: GeometryFactory, g: Seq[(Int, String)]): Geometry = {
    val items = g.toIndexedSeq
    def dAt(idx: Int): Double = items(idx)._2.toDouble
    val nLoops = items.find(_._1 == 91).map(_._2.trim.toInt).getOrElse(0)
    val rings = scala.collection.mutable.ArrayBuffer[LinearRing]()
    var i = items.indexWhere(_._1 == 91) + 1
    var loopsSeen = 0
    while (loopsSeen < nLoops && i < items.length) {
      // loop header: 92 = boundary path type
      while (i < items.length && items(i)._1 != 92) i += 1
      require(i < items.length, "DXF HATCH: missing boundary path type (92)")
      val pathType = items(i)._2.trim.toInt; i += 1
      if ((pathType & 2) != 0) {
        // polyline path: 72 has-bulge, 73 closed, 93 count, vertices 10/20 (+42)
        var hasBulge = false; var nv = 0
        var scanning = true
        while (scanning && i < items.length) {
          items(i) match {
            case (72, v) => hasBulge = v.trim.toInt != 0; i += 1
            case (73, _) => i += 1
            case (93, v) => nv = v.trim.toInt; i += 1; scanning = false
            case _ => i += 1
          }
        }
        val verts = scala.collection.mutable.ArrayBuffer[(Coordinate, Double)]()
        var v = 0
        while (v < nv && i < items.length) {
          require(items(i)._1 == 10, s"DXF HATCH: expected vertex x (10), got ${items(i)}")
          val x = dAt(i); i += 1
          require(items(i)._1 == 20, s"DXF HATCH: expected vertex y (20), got ${items(i)}")
          val y = dAt(i); i += 1
          val b = if (hasBulge && i < items.length && items(i)._1 == 42) { val bb = dAt(i); i += 1; bb } else 0.0
          verts += ((new Coordinate(x, y), b))
          v += 1
        }
        val coords = densifyBulges(verts.toIndexedSeq, closed = true)
        val cs = if (!coords.head.equals2D(coords.last)) coords :+ new Coordinate(coords.head) else coords
        rings += gf.createLinearRing(cs.toArray)
      } else {
        // edge-list path: 93 = number of edges, each edge 72 = type
        while (i < items.length && items(i)._1 != 93) i += 1
        require(i < items.length, "DXF HATCH: missing edge count (93)")
        val ne = items(i)._2.trim.toInt; i += 1
        val coords = scala.collection.mutable.ArrayBuffer[Coordinate]()
        var e = 0
        // each edge appends its densified points; junction duplicates drop
        def append(pts: Seq[Coordinate]): Unit = pts.foreach { c =>
          if (coords.isEmpty || !coords.last.equals2D(c)) coords += c
        }
        def need(code: Int, what: String): Double = {
          require(i < items.length && items(i)._1 == code, s"DXF HATCH: bad $what edge")
          val v = dAt(i); i += 1; v
        }
        def opt(code: Int, default: Double): Double =
          if (i < items.length && items(i)._1 == code) { val v = dAt(i); i += 1; v }
          else default
        while (e < ne && i < items.length) {
          require(items(i)._1 == 72, s"DXF HATCH: expected edge type (72), got ${items(i)}")
          val et = items(i)._2.trim.toInt; i += 1
          et match {
            case 1 => // line edge: 10/20 start, 11/21 end
              val x0 = need(10, "line"); val y0 = need(20, "line")
              val x1 = need(11, "line"); val y1 = need(21, "line")
              append(Seq(new Coordinate(x0, y0), new Coordinate(x1, y1)))
            case 2 => // circular-arc edge: 10/20 center, 40 radius,
              // 50/51 start/end angle (deg), 73 counterclockwise flag —
              // a cw arc is the ccw sample walked in reverse parameter order
              val cx = need(10, "arc"); val cy = need(20, "arc")
              val r = need(40, "arc")
              val a0 = need(50, "arc"); val a1 = need(51, "arc")
              val ccw = opt(73, 1.0) != 0.0
              val pts =
                if (ccw) arcCoords(cx, cy, r, a0, a1)
                else arcCoords(cx, cy, r, a1, a0).reverse
              append(pts.toSeq)
            case 3 => // elliptic-arc edge: 10/20 center, 11/21 major-axis
              // endpoint relative to center, 40 minor/major ratio,
              // 50/51 start/end angle (deg), 73 ccw flag. AutoCAD writes
              // 50/51 as TRUE angles measured from the major axis, not the
              // parametric angles ellipseCoords samples with — convert via
              // tan(param) = tan(true)/ratio (GDAL's AngleCorrect
              // convention); at cardinal angles and ratio 1 the two
              // coincide and the conversion is an exact no-op
              val cx = need(10, "ellipse"); val cy = need(20, "ellipse")
              val mx = need(11, "ellipse"); val my = need(21, "ellipse")
              val ratio = need(40, "ellipse")
              val a0 = trueToParam(math.toRadians(need(50, "ellipse")), ratio)
              val a1 = trueToParam(math.toRadians(need(51, "ellipse")), ratio)
              val ccw = opt(73, 1.0) != 0.0
              val pts =
                if (ccw) ellipseCoords(cx, cy, mx, my, ratio, a0, a1)
                else ellipseCoords(cx, cy, mx, my, ratio, a1, a0).reverse
              append(pts.toSeq)
            case 4 => // spline edge: 94 degree, 73 rational, 74 periodic,
              // 95 knot count, 96 control count, 40 knots, 10/20 control
              // points (42 weight after each when rational), then optional
              // fit data (97 + 11/21) and tangents (12/22, 13/23) — skipped;
              // densified through the same Cox-de Boor evaluator as SPLINE
              var degree = 3; var rational = false; var periodic = false
              var nk = 0; var nc = 0
              var scanning = true
              while (scanning && i < items.length) items(i) match {
                case (94, v) => degree = v.trim.toInt; i += 1
                case (73, v) => rational = v.trim.toInt != 0; i += 1
                case (74, v) => periodic = v.trim.toInt != 0; i += 1
                case (95, v) => nk = v.trim.toInt; i += 1
                case (96, v) => nc = v.trim.toInt; i += 1; scanning = false
                case _       => scanning = false
              }
              require(nc > degree && nk > 0,
                s"DXF HATCH: spline edge with $nc control points / $nk knots (degree $degree)")
              val knots = Array.fill(nk) { need(40, "spline") }
              val ctrl = new Array[Coordinate](nc)
              val wts = Array.fill(nc)(1.0)
              var c = 0
              while (c < nc) {
                val x = need(10, "spline"); val y = need(20, "spline")
                ctrl(c) = new Coordinate(x, y)
                if (rational && i < items.length && items(i)._1 == 42) { wts(c) = dAt(i); i += 1 }
                c += 1
              }
              if (i < items.length && items(i)._1 == 97) { // fit data: skip
                val nf = items(i)._2.trim.toInt; i += 1
                var fit = 0
                while (fit < nf) { need(11, "spline fit"); need(21, "spline fit"); fit += 1 }
              }
              while (i < items.length && Set(12, 22, 13, 23).contains(items(i)._1)) i += 1
              var kn = knots; var cp = ctrl; var ww = wts
              if (periodic && kn.length != cp.length + degree + 1) {
                // AutoCAD periodic storage: rebuild the open equivalent
                ww = ww ++ ww.take(degree); cp = cp ++ cp.take(degree)
                kn = Array.tabulate(cp.length + degree + 1)(_.toDouble)
              }
              require(kn.length == cp.length + degree + 1,
                s"DXF HATCH: spline edge ${kn.length} knots != ${cp.length} control points + degree $degree + 1")
              append(splineCoords(degree, kn, cp, ww,
                samples = math.max(32, 8 * math.max(1, cp.length - degree))))
            case other =>
              throw new IllegalArgumentException(
                s"DXF HATCH: unknown edge type $other — line(1)/arc(2)/" +
                  "elliptic-arc(3)/spline(4) edges and polyline paths are supported")
          }
          e += 1
        }
        if (coords.nonEmpty && !coords.head.equals2D(coords.last)) coords += new Coordinate(coords.head)
        rings += gf.createLinearRing(coords.toArray)
      }
      loopsSeen += 1
    }
    MapInfoMif.assembleRegion(gf, rings.toSeq)
  }

  // -------------------------------------------------------------- write

  /** Single-file export, streamed through the driver partition by
    * partition. `layerCol`: optional string column carrying the DXF layer
    * name (defaults to layer "0"). Any OTHER attribute column raises — DXF
    * has no attribute table, and silently dropping columns would lie about
    * what the file preserves. */
  def write(gdf: GeoDataFrame, path: String, layerCol: Option[String] = None): Unit = {
    val g = gdf.geometryCol
    val allowed = Set(g) ++ layerCol ++ Set("EntityHandle")
    val extras = gdf.df.columns.filterNot(allowed)
    require(extras.isEmpty,
      s"DXF carries no attribute table: columns ${extras.mkString(", ")} would be " +
        "dropped. Select them away (or pass layerCol for the layer name); use " +
        "GeoParquet/GPKG for attribute-bearing exports")
    val spark = gdf.df.sparkSession
    val hp = new org.apache.hadoop.fs.Path(path)
    val outS = new java.io.BufferedOutputStream(
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).create(hp, true), 1 << 16)
    try {
      outS.write(Prelude.getBytes("UTF-8"))
      val cols = layerCol.map(lc => Seq(col(lc), col(g))).getOrElse(Seq(lit("0"), col(g)))
      val it = gdf.df.select(cols: _*).toLocalIterator()
      var handle = 256L
      while (it.hasNext) {
        val r = it.next()
        val layer = Option(r.getString(0)).getOrElse("0")
        val wkb = r.getAs[Array[Byte]](1)
        require(wkb != null, "DXF export: null geometry has no DXF representation; " +
          "filter null-geometry rows before export")
        outS.write(renderEntity(Wkb.read(wkb), layer, handle).getBytes("UTF-8"))
        handle += 1
      }
      outS.write(Epilogue.getBytes("UTF-8"))
    } finally outS.close()
  }

  /** Distributed export: one .dxf per partition, written executor-side. */
  def writePartitioned(gdf: GeoDataFrame, dir: String, layerCol: Option[String] = None): Unit = {
    val g = gdf.geometryCol
    val spark = gdf.df.sparkSession
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val d = new org.apache.hadoop.fs.Path(dir)
    d.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(d)
    val cols = layerCol.map(lc => Seq(col(lc), col(g))).getOrElse(Seq(lit("0"), col(g)))
    gdf.df.select(cols: _*).rdd.foreachPartition { it =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val hp = new org.apache.hadoop.fs.Path(f"$dir/part-$pid%05d.dxf")
        val outS = new java.io.BufferedOutputStream(
          hp.getFileSystem(serConf.value).create(hp, true), 1 << 16)
        try {
          outS.write(Prelude.getBytes("UTF-8"))
          // partition-offset handle base: handles stay unique ACROSS the
          // part files, so a directory-corpus read has a usable feature id
          var handle = 256L + (pid.toLong << 24)
          it.foreach { r =>
            val layer = Option(r.getString(0)).getOrElse("0")
            val wkb = r.getAs[Array[Byte]](1)
            require(wkb != null, "DXF export: null geometry has no DXF representation")
            outS.write(renderEntity(Wkb.read(wkb), layer, handle).getBytes("UTF-8"))
            handle += 1
          }
          outS.write(Epilogue.getBytes("UTF-8"))
        } finally outS.close()
      }
    }
  }

  // R12 skeleton: $ACADVER header + ENTITIES; R12 files carry no handles
  // requirement, but we emit them (code 5) for GDAL's EntityHandle field
  private val Prelude =
    "0\nSECTION\n2\nHEADER\n9\n$ACADVER\n1\nAC1009\n0\nENDSEC\n0\nSECTION\n2\nENTITIES\n"
  private val Epilogue = "0\nENDSEC\n0\nEOF\n"

  private def num(d: Double): String = MapInfoMif.num(d)

  private[io] def renderEntity(geom: Geometry, layer: String, handle: Long): String = {
    require(layer.indexOf('\n') < 0 && layer.indexOf('\r') < 0,
      "DXF layer names cannot contain line breaks")
    val h = java.lang.Long.toHexString(handle).toUpperCase
    geom match {
      case p: Point =>
        val z = if (!p.getCoordinate.getZ.isNaN) s"30\n${num(p.getCoordinate.getZ)}\n" else ""
        s"0\nPOINT\n5\n$h\n8\n$layer\n10\n${num(p.getX)}\n20\n${num(p.getY)}\n$z"
      case l: LineString =>
        val cs = l.getCoordinates
        val is3d = cs.exists(c => !c.getZ.isNaN)
        if (is3d) {
          // 3D: old-style POLYLINE with VERTEX records (LWPOLYLINE is 2D-only)
          val flags = (if (l.isClosed) 1 else 0) | 8
          val sb = new StringBuilder(s"0\nPOLYLINE\n5\n$h\n8\n$layer\n66\n1\n70\n$flags\n")
          val body = if (l.isClosed) cs.init else cs
          body.foreach { c =>
            sb ++= s"0\nVERTEX\n8\n$layer\n10\n${num(c.x)}\n20\n${num(c.y)}\n30\n${num(if (c.getZ.isNaN) 0 else c.getZ)}\n70\n32\n"
          }
          sb ++= s"0\nSEQEND\n8\n$layer\n"
          sb.toString
        } else {
          val closed = l.isClosed
          val body = if (closed) cs.init else cs
          val sb = new StringBuilder(
            s"0\nLWPOLYLINE\n5\n$h\n8\n$layer\n90\n${body.length}\n70\n${if (closed) 1 else 0}\n")
          body.foreach(c => sb ++= s"10\n${num(c.x)}\n20\n${num(c.y)}\n")
          sb.toString
        }
      case p: Polygon =>
        val loops = (Seq(p.getExteriorRing) ++
          (0 until p.getNumInteriorRing).map(p.getInteriorRingN)).map(_.getCoordinates)
        val sb = new StringBuilder(
          s"0\nHATCH\n5\n$h\n8\n$layer\n2\nSOLID\n70\n1\n71\n0\n91\n${loops.length}\n")
        loops.foreach { cs =>
          val body = cs.init // rings are closed; DXF polyline paths re-close via 73
          sb ++= s"92\n2\n72\n0\n73\n1\n93\n${body.length}\n"
          body.foreach(c => sb ++= s"10\n${num(c.x)}\n20\n${num(c.y)}\n")
          sb ++= "97\n0\n"
        }
        sb.toString
      case other =>
        throw new IllegalArgumentException(
          s"DXF export: ${other.getGeometryType} has no single-entity DXF form " +
            "(the format has no multi-geometry entity) — explode to single parts first")
    }
  }
}

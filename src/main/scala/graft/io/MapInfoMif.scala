package graft.io

import graft.api.GeoDataFrame
import graft.geom.Wkb
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.geom._

/** MapInfo Interchange Format (MIF/MID) vector driver, mirroring GDAL's
  * MapInfo File driver as the reference reaches it through
  * `read_file`/`to_file` (ref io/file.py:197-339). The interchange pair is
  * fully documented in the public MapInfo MIF spec: `<base>.mif` carries the
  * header (VERSION/DELIMITER/COORDSYS/COLUMNS) and one geometry record per
  * feature; `<base>.mid` carries the delimiter-separated attribute rows in
  * the same order. The binary TAB sibling format is out of scope (MIF is
  * MapInfo's own interchange representation of it).
  *
  * Geometry records: NONE, POINT, LINE, PLINE [MULTIPLE], REGION,
  * MULTIPOINT, with PEN/BRUSH/SYMBOL/SMOOTH/CENTER styling clauses skipped
  * on read. REGION ring nesting is resolved by even-odd containment like
  * GDAL's mitab reader (the format does not mark holes explicitly). The
  * drawn-shape records convert to features the way mitab converts them —
  * RECT -> box polygon, ROUNDRECT -> quarter-ellipse-cornered polygon,
  * ELLIPSE (inscribed in its bounding box) -> densified polygon, ARC (of
  * that ellipse, degrees ccw from +x) -> densified linestring — COLLECTION
  * records read/write as GeometryCollection — while TEXT raises a clear
  * unsupported error rather than a silent skip (it has no feature
  * geometry without the style plumbing).
  *
  * Column types: Char/Date/Time/DateTime -> string, Integer/Smallint ->
  * int, Float/Decimal(_, >0) -> double, Decimal(_, 0) -> long (how GDAL
  * round-trips 64-bit integers), Logical -> boolean.
  *
  * Scale posture: identical to the Shapefile/KML drivers — MIF is a
  * bounded single-file INTERCHANGE format, so reads parallelize per FILE
  * (`binaryFiles` ships each .mif with its sibling .mid to one task) and
  * the single-pair export streams through the driver partition by
  * partition; `writePartitioned` is the distributed form (one pair per
  * partition, no driver involvement). Large datasets belong in GeoParquet.
  */
object MapInfoMif {

  def read(spark: SparkSession, path: String,
           bbox: Option[(Double, Double, Double, Double)] = None,
           columns: Option[Seq[String]] = None,
           rows: Option[Int] = None,
           mask: Option[Array[Byte]] = None,
           where: Option[String] = None): GeoDataFrame = {
    IoFilters.pruneAndLimit(IoFilters.bboxOrMask(readAll(spark, path), bbox, mask),
      columns, rows, where)
  }

  private def readAll(spark: SparkSession, path: String): GeoDataFrame = {
    val mifPaths = IoFilters.resolvePaths(spark, path, ".mif")
    require(mifPaths.nonEmpty, s"no .mif files at $path")
    // driver: schema + CRS from the first header (headers must agree, like
    // the multi-.shp read)
    val head = readBytes(spark, mifPaths.head, maxLen = 1 << 20)
      .getOrElse(throw new IllegalArgumentException(s"cannot read ${mifPaths.head}"))
    val hdr = parseHeader(new String(head, "UTF-8"))
    val schema = StructType(hdr.fields.map { case (n, t) => StructField(n, t, nullable = true) } :+
      StructField("geometry", BinaryType, nullable = true))
    val sc = spark.sparkContext
    val serConf = new org.apache.spark.util.SerializableConfiguration(sc.hadoopConfiguration)
    val nFields = hdr.fields.length
    val rowsRdd = sc.binaryFiles(mifPaths.mkString(",")).flatMap { case (p, stream) =>
      val mifText = new String(stream.toArray(), "UTF-8")
      val h = parseHeader(mifText)
      val geoms = parseGeometries(mifText)
      val midBytes = readBytesInTask(p.replaceAll("(?i)\\.mif$", ".mid"), serConf.value)
      val attrs: IndexedSeq[Array[Any]] = midBytes match {
        case Some(b) => parseMid(new String(b, "UTF-8"), h)
        case None    => IndexedSeq.empty
      }
      geoms.zipWithIndex.map { case (g, i) =>
        val a: Array[Any] = if (i < attrs.length) attrs(i) else Array.fill[Any](nFields)(null)
        Row.fromSeq(a.toSeq :+ g.map(Wkb.write).orNull)
      }
    }
    val df = spark.createDataFrame(rowsRdd, schema)
    GeoDataFrame(df, "geometry", hdr.crs.map(c => Map("geometry" -> c)).getOrElse(Map.empty))
  }

  /** Single-pair export: `<base>.mif` + `<base>.mid`, streamed through the
    * driver partition by partition (never materializes the frame). */
  def write(gdf: GeoDataFrame, basePath: String): Unit = {
    val base = basePath.replaceAll("(?i)\\.mif$", "")
    val spark = gdf.df.sparkSession
    val (header, cols, g) = writeHeader(gdf)
    val fields = gdf.df.schema.fields.filter(_.name != g)
    val hconf = spark.sparkContext.hadoopConfiguration
    def open(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      new java.io.BufferedOutputStream(hp.getFileSystem(hconf).create(hp, true), 1 << 16)
    }
    val mif = open(base + ".mif")
    val mid = open(base + ".mid")
    try {
      mif.write(header.getBytes("UTF-8"))
      val it = gdf.df.select((cols.map(col) :+ col(g)) : _*).toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        mif.write((renderGeometry(Option(r.get(cols.length).asInstanceOf[Array[Byte]])
          .map(Wkb.read)) + "\n").getBytes("UTF-8"))
        mid.write((renderMidRow(r, fields) + "\n").getBytes("UTF-8"))
      }
    } finally { mif.close(); mid.close() }
  }

  /** Distributed write — one `part-NNNNN.mif`/`.mid` pair per partition,
    * written executor-side (the form a large export takes). */
  def writePartitioned(gdf: GeoDataFrame, dir: String): Unit = {
    val spark = gdf.df.sparkSession
    val (header, cols, g) = writeHeader(gdf)
    val fields = gdf.df.schema.fields.filter(_.name != g)
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val d = new org.apache.hadoop.fs.Path(dir)
    d.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(d)
    gdf.df.select((cols.map(col) :+ col(g)) : _*).rdd.foreachPartition { it =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        def open(p: String) = {
          val hp = new org.apache.hadoop.fs.Path(p)
          new java.io.BufferedOutputStream(hp.getFileSystem(serConf.value).create(hp, true), 1 << 16)
        }
        val mif = open(f"$dir/part-$pid%05d.mif")
        val mid = open(f"$dir/part-$pid%05d.mid")
        try {
          mif.write(header.getBytes("UTF-8"))
          it.foreach { r =>
            mif.write((renderGeometry(Option(r.get(cols.length).asInstanceOf[Array[Byte]])
              .map(Wkb.read)) + "\n").getBytes("UTF-8"))
            mid.write((renderMidRow(r, fields) + "\n").getBytes("UTF-8"))
          }
        } finally { mif.close(); mid.close() }
      }
    }
  }

  // ------------------------------------------------------------- header

  private[io] case class MifHeader(delimiter: Char, fields: Array[(String, DataType)],
                                   crs: Option[String])

  /** MapInfo CoordSys clause for an EPSG code. Covers the geographic bases,
    * Web Mercator, British National Grid and WGS84 UTM — the set the
    * MapInfo ecosystem round-trips unambiguously; everything else raises at
    * write time (MIF_COORDSYS.TXT is MapInfo-proprietary, so the mapping is
    * kept to the clauses documented in the public MIF format appendix). */
  private[io] def coordSysFor(epsg: Int): Option[String] = epsg match {
    case 4326  => Some("CoordSys Earth Projection 1, 104")
    case 4269  => Some("CoordSys Earth Projection 1, 74")
    case 3857  => Some("CoordSys Earth Projection 10, 157, \"m\", 0")
    case 27700 => Some(
      "CoordSys Earth Projection 8, 79, \"m\", -2, 49, 0.9996012717, 400000, -100000")
    case z if z >= 26901 && z <= 26923 => // NAD83 / UTM zone 1N-23N (datum 74)
      Some(s"""CoordSys Earth Projection 8, 74, "m", ${(z - 26900) * 6 - 183}, 0, 0.9996, 500000, 0""")
    case z if z >= 32601 && z <= 32660 =>
      Some(s"""CoordSys Earth Projection 8, 104, "m", ${(z - 32600) * 6 - 183}, 0, 0.9996, 500000, 0""")
    case z if z >= 32701 && z <= 32760 =>
      Some(s"""CoordSys Earth Projection 8, 104, "m", ${(z - 32700) * 6 - 183}, 0, 0.9996, 500000, 10000000""")
    case _ => None
  }

  /** Inverse of [[coordSysFor]]: recognize the clauses we write (plus
    * whitespace/quoting variation); unrecognized clauses yield no CRS. */
  private[io] def epsgFromCoordSys(clause: String): Option[String] = {
    val up = clause.toUpperCase.replaceAll("\\s+", " ")
    val projIdx = up.indexOf("EARTH PROJECTION")
    if (projIdx < 0) return None
    // numeric fields after the keyword, quotes/unit token dropped
    val nums = up.substring(projIdx + "EARTH PROJECTION".length)
      .split(",").map(_.trim.replaceAll("\"[^\"]*\"", "").trim)
      .filter(s => s.nonEmpty && s.matches("-?[0-9.]+"))
      .map(_.toDouble)
    nums.toList match {
      case 1.0 :: 104.0 :: _ => Some("EPSG:4326")
      case 1.0 :: 74.0 :: _  => Some("EPSG:4269")
      case 10.0 :: 157.0 :: _ => Some("EPSG:3857")
      case 8.0 :: 79.0 :: -2.0 :: 49.0 :: _ => Some("EPSG:27700")
      case 8.0 :: 104.0 :: lon0 :: 0.0 :: 0.9996 :: 500000.0 :: fn :: Nil
        if (lon0 + 183) % 6 == 0 && (fn == 0.0 || fn == 10000000.0) =>
        val zone = ((lon0 + 183) / 6).toInt
        Some(s"EPSG:${if (fn == 0.0) 32600 + zone else 32700 + zone}")
      case 8.0 :: 74.0 :: lon0 :: 0.0 :: 0.9996 :: 500000.0 :: 0.0 :: Nil
        if (lon0 + 183) % 6 == 0 && lon0 >= -177 && lon0 <= -45 =>
        Some(s"EPSG:${26900 + ((lon0 + 183) / 6).toInt}") // NAD83 UTM 1N-23N
      case _ => None
    }
  }

  private[io] def parseHeader(text: String): MifHeader = {
    val lines = text.linesIterator.toArray
    var delim = '\t'
    var crs: Option[String] = None
    val fields = collection.mutable.ArrayBuffer[(String, DataType)]()
    var i = 0
    while (i < lines.length && !lines(i).trim.equalsIgnoreCase("DATA")) {
      val t = lines(i).trim
      val up = t.toUpperCase
      if (up.startsWith("DELIMITER")) {
        val q = t.indexOf('"')
        if (q >= 0 && q + 1 < t.length) delim = t.charAt(q + 1)
      } else if (up.startsWith("COORDSYS")) {
        crs = epsgFromCoordSys(t)
      } else if (up.startsWith("COLUMNS")) {
        val n = t.split("\\s+").lift(1).map(_.toInt).getOrElse(0)
        for (k <- 1 to n) {
          val parts = lines(i + k).trim.split("\\s+", 2)
          fields += ((parts(0), mifType(parts.lift(1).getOrElse("Char(254)"))))
        }
        i += n
      }
      i += 1
    }
    MifHeader(delim, fields.toArray, crs)
  }

  private def mifType(t: String): DataType = {
    val u = t.trim.toUpperCase
    if (u.startsWith("CHAR") || u.startsWith("DATE") || u.startsWith("TIME")) StringType
    else if (u.startsWith("INTEGER") || u.startsWith("SMALLINT")) IntegerType
    else if (u.startsWith("FLOAT")) DoubleType
    else if (u.startsWith("DECIMAL")) {
      // Decimal(width, 0) is the 64-bit-integer spelling; any precision > 0
      // is floating
      val scale = "\\((\\d+)\\s*,\\s*(\\d+)\\)".r.findFirstMatchIn(u).map(_.group(2).toInt)
      if (scale.contains(0)) LongType else DoubleType
    }
    else if (u.startsWith("LOGICAL")) BooleanType
    else StringType
  }

  // ------------------------------------------------------------ geometry

  private val StyleKeywords =
    Set("PEN", "BRUSH", "SYMBOL", "SMOOTH", "CENTER", "FONT")
  private val UnsupportedKeywords =
    Set("TEXT")

  private[io] def parseGeometries(text: String): IndexedSeq[Option[org.locationtech.jts.geom.Geometry]] = {
    val gf = new GeometryFactory()
    val lines = text.linesIterator.toArray
    var i = 0
    while (i < lines.length && !lines(i).trim.equalsIgnoreCase("DATA")) i += 1
    i += 1
    val out = collection.mutable.ArrayBuffer[Option[org.locationtech.jts.geom.Geometry]]()
    def tok(line: String): Array[String] = line.trim.split("[\\s,]+").filter(_.nonEmpty)
    def pts(n: Int): Array[Coordinate] = {
      val cs = new Array[Coordinate](n)
      var k = 0
      while (k < n) {
        val t = tok(lines(i)); i += 1
        cs(k) = new Coordinate(t(0).toDouble, t(1).toDouble)
        k += 1
      }
      cs
    }
    def closed(cs: Array[Coordinate]): Array[Coordinate] =
      if (cs.length >= 3 && cs.head.equals2D(cs.last)) cs
      else cs :+ new Coordinate(cs.head)
    def record(t: Array[String], kw: String): Option[org.locationtech.jts.geom.Geometry] =
      kw match {
        case "NONE" => None
        case "POINT" =>
          Some(gf.createPoint(new Coordinate(t(1).toDouble, t(2).toDouble)))
        case "LINE" =>
          Some(gf.createLineString(Array(
            new Coordinate(t(1).toDouble, t(2).toDouble),
            new Coordinate(t(3).toDouble, t(4).toDouble))))
        case "PLINE" =>
          if (t.length >= 3 && t(1).toUpperCase == "MULTIPLE") {
            val ns = t(2).toInt
            val parts = (0 until ns).map { _ =>
              val n = tok(lines(i))(0).toInt; i += 1
              gf.createLineString(pts(n))
            }
            Some(gf.createMultiLineString(parts.toArray))
          } else {
            val n = if (t.length >= 2) t(1).toInt else { val n0 = tok(lines(i))(0).toInt; i += 1; n0 }
            Some(gf.createLineString(pts(n)))
          }
        case "REGION" =>
          val nrings = t(1).toInt
          val rings = (0 until nrings).map { _ =>
            val n = tok(lines(i))(0).toInt; i += 1
            gf.createLinearRing(closed(pts(n)))
          }
          Some(assembleRegion(gf, rings))
        case "MULTIPOINT" =>
          val n = if (t.length >= 2) t(1).toInt else { val n0 = tok(lines(i))(0).toInt; i += 1; n0 }
          Some(gf.createMultiPointFromCoords(pts(n)))
        // drawn shapes, converted like GDAL's mitab reader (round 20):
        // RECT -> box polygon, ELLIPSE (inscribed in its box) -> densified
        // polygon, ARC (of the inscribed ellipse, angles in degrees ccw
        // from +x) -> densified linestring, ROUNDRECT -> box with
        // quarter-ellipse corners (the trailing value is the rounding
        // DIAMETER in coordinate units, per the public MIF spec)
        case "RECT" =>
          val (x0, y0) = (math.min(t(1).toDouble, t(3).toDouble), math.min(t(2).toDouble, t(4).toDouble))
          val (x1, y1) = (math.max(t(1).toDouble, t(3).toDouble), math.max(t(2).toDouble, t(4).toDouble))
          Some(gf.createPolygon(Array(
            new Coordinate(x0, y0), new Coordinate(x1, y0), new Coordinate(x1, y1),
            new Coordinate(x0, y1), new Coordinate(x0, y0))))
        case "ELLIPSE" =>
          val (cx, cy) = ((t(1).toDouble + t(3).toDouble) / 2, (t(2).toDouble + t(4).toDouble) / 2)
          val (a, b) = (math.abs(t(3).toDouble - t(1).toDouble) / 2,
            math.abs(t(4).toDouble - t(2).toDouble) / 2)
          Some(gf.createPolygon(ellipseArc(cx, cy, a, b, 0, 360, close = true)))
        case "ARC" =>
          val (cx, cy) = ((t(1).toDouble + t(3).toDouble) / 2, (t(2).toDouble + t(4).toDouble) / 2)
          val (a, b) = (math.abs(t(3).toDouble - t(1).toDouble) / 2,
            math.abs(t(4).toDouble - t(2).toDouble) / 2)
          Some(gf.createLineString(
            ellipseArc(cx, cy, a, b, t(5).toDouble, t(6).toDouble, close = false)))
        case "ROUNDRECT" =>
          val (x0, y0) = (math.min(t(1).toDouble, t(3).toDouble), math.min(t(2).toDouble, t(4).toDouble))
          val (x1, y1) = (math.max(t(1).toDouble, t(3).toDouble), math.max(t(2).toDouble, t(4).toDouble))
          // rounding radius = half the stated diameter, capped so opposite
          // corners never overlap (mitab clamps the same way)
          val r = math.min(t(5).toDouble / 2, math.min((x1 - x0) / 2, (y1 - y0) / 2))
          if (r <= 0)
            Some(gf.createPolygon(Array(
              new Coordinate(x0, y0), new Coordinate(x1, y0), new Coordinate(x1, y1),
              new Coordinate(x0, y1), new Coordinate(x0, y0))))
          else {
            val cs = collection.mutable.ArrayBuffer[Coordinate]()
            def add(pts: Array[Coordinate]): Unit = pts.foreach { c =>
              if (cs.isEmpty || !cs.last.equals2D(c)) cs += c // r = half-extent corners touch
            }
            add(ellipseArc(x1 - r, y1 - r, r, r, 0, 90, close = false))   // NE corner
            add(ellipseArc(x0 + r, y1 - r, r, r, 90, 180, close = false)) // NW
            add(ellipseArc(x0 + r, y0 + r, r, r, 180, 270, close = false)) // SW
            add(ellipseArc(x1 - r, y0 + r, r, r, 270, 360, close = false)) // SE
            cs += new Coordinate(cs.head)
            Some(gf.createPolygon(cs.toArray))
          }
        case "COLLECTION" =>
          // n parts, each a full geometry record (styling clauses may
          // interleave) -> JTS GeometryCollection, like mitab's TABCollection
          val n = t(1).toInt
          val parts = collection.mutable.ArrayBuffer[org.locationtech.jts.geom.Geometry]()
          while (parts.length < n) {
            require(i < lines.length, "MIF COLLECTION: truncated part list")
            val l2 = lines(i).trim; i += 1
            if (l2.nonEmpty) {
              val t2 = tok(l2); val kw2 = t2(0).toUpperCase
              if (!StyleKeywords.contains(kw2))
                parts += record(t2, kw2).getOrElse(throw new IllegalArgumentException(
                  "MIF COLLECTION: NONE is not a valid collection part"))
            }
          }
          Some(gf.createGeometryCollection(parts.toArray))
        case _ if UnsupportedKeywords.contains(kw) =>
          throw new IllegalArgumentException(
            s"MIF record type $kw is not supported (TEXT carries no feature " +
              "geometry without the style plumbing); convert to POINT/PLINE/REGION " +
              "in MapInfo before export")
        case _ =>
          // an unrecognized keyword at record position means a record we
          // did not consume — skipping it would silently desync the
          // geometry-to-attribute (MID) alignment, so fail loudly
          throw new IllegalArgumentException(
            s"MIF: unrecognized keyword '$kw' at record position in the DATA " +
              "section — refusing to skip (would desync geometry/attribute rows)")
      }
    while (i < lines.length) {
      val line = lines(i).trim
      i += 1
      if (line.nonEmpty) {
        val t = tok(line)
        val kw = t(0).toUpperCase
        if (!StyleKeywords.contains(kw)) out += record(t, kw)
      }
    }
    out.toIndexedSeq
  }

  /** Axis-aligned ellipse arc, densified at <= 4-degree steps (same chord
    * budget as the DXF densifiers); `close` snaps a full sweep's last
    * point onto the first bit-exactly for ring construction. */
  private def ellipseArc(cx: Double, cy: Double, a: Double, b: Double,
                         a0: Double, a1: Double, close: Boolean): Array[Coordinate] = {
    val sweep = { val s = a1 - a0; if (s <= 0) s + 360 else s }
    val steps = math.max(8, math.ceil(sweep / 4.0).toInt)
    val out = new Array[Coordinate](steps + 1)
    var k = 0
    while (k <= steps) {
      val t = math.toRadians(a0 + sweep * k / steps)
      out(k) = new Coordinate(cx + a * math.cos(t), cy + b * math.sin(t))
      k += 1
    }
    if (close) out(steps) = new Coordinate(out(0))
    out
  }

  /** Even-odd ring nesting like GDAL's mitab reader: a ring contained in an
    * even number of other rings is a shell; odd-depth rings become holes of
    * the smallest enclosing shell. */
  private[io] def assembleRegion(gf: GeometryFactory, rings: Seq[LinearRing]): org.locationtech.jts.geom.Geometry = {
    if (rings.isEmpty) return gf.createPolygon()
    if (rings.length == 1) return gf.createPolygon(rings.head)
    // ring-REGION containment, not interior-point tests: concentric rings
    // can share one interior point (a lake and its island both "contain"
    // the centroid), which would corrupt the parity. covers() admits the
    // shared-boundary hole MapInfo files legitimately carry.
    val polys = rings.map(r => gf.createPolygon(r))
    def inside(j: Int, k: Int): Boolean =
      polys(j).getArea > polys(k).getArea && polys(j).covers(polys(k))
    val depth = polys.indices.map { k =>
      polys.indices.count(j => j != k && inside(j, k))
    }
    val shellIdx = polys.indices.filter(k => depth(k) % 2 == 0)
    val result = shellIdx.map { s =>
      val holes = polys.indices.filter { h =>
        depth(h) % 2 == 1 && inside(s, h) &&
          // smallest enclosing shell: no other shell between s and h
          !shellIdx.exists(s2 => s2 != s && inside(s, s2) && inside(s2, h))
      }
      gf.createPolygon(rings(s), holes.map(rings(_)).toArray)
    }
    if (result.length == 1) result.head else gf.createMultiPolygon(result.toArray)
  }

  // -------------------------------------------------------------- render

  private[io] def num(d: Double): String =
    if (d == d.toLong.toDouble && math.abs(d) < 1e15) d.toLong.toString
    else {
      // Double.toString goes E-notation at |x| >= 1e7 (web-mercator range);
      // MIF consumers expect plain decimal — expand via BigDecimal.valueOf,
      // which keeps the shortest-roundtrip digits of Double.toString
      val s = d.toString
      if (s.indexOf('E') >= 0) java.math.BigDecimal.valueOf(d).toPlainString else s
    }

  private[io] def renderGeometry(g: Option[org.locationtech.jts.geom.Geometry]): String = g match {
    case None => "NONE"
    case Some(p: Point) => s"POINT ${num(p.getX)} ${num(p.getY)}"
    case Some(l: LineString) =>
      val cs = l.getCoordinates
      s"PLINE ${cs.length}\n" + cs.map(c => s"${num(c.x)} ${num(c.y)}").mkString("\n")
    case Some(ml: MultiLineString) =>
      val parts = (0 until ml.getNumGeometries).map(ml.getGeometryN(_).asInstanceOf[LineString])
      s"PLINE MULTIPLE ${parts.length}\n" + parts.map { l =>
        val cs = l.getCoordinates
        s"  ${cs.length}\n" + cs.map(c => s"${num(c.x)} ${num(c.y)}").mkString("\n")
      }.mkString("\n")
    case Some(poly: Polygon) => renderRegion(Seq(poly))
    case Some(mp: MultiPolygon) =>
      renderRegion((0 until mp.getNumGeometries).map(mp.getGeometryN(_).asInstanceOf[Polygon]))
    case Some(mpt: MultiPoint) =>
      val cs = mpt.getCoordinates
      s"MULTIPOINT ${cs.length}\n" + cs.map(c => s"${num(c.x)} ${num(c.y)}").mkString("\n")
    case Some(gc: GeometryCollection) =>
      // heterogeneous collection (the multi types matched above): one
      // COLLECTION record whose parts are full geometry records
      s"COLLECTION ${gc.getNumGeometries}\n" +
        (0 until gc.getNumGeometries).map(k => renderGeometry(Some(gc.getGeometryN(k)))).mkString("\n")
    case Some(other) => throw new IllegalArgumentException(
      s"MIF export does not support ${other.asInstanceOf[org.locationtech.jts.geom.Geometry].getGeometryType}")
  }

  private def renderRegion(polys: Seq[Polygon]): String = {
    val rings = polys.flatMap { p =>
      p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)
    }
    s"REGION ${rings.length}\n" + rings.map { r =>
      val cs = r.getCoordinates
      s"  ${cs.length}\n" + cs.map(c => s"${num(c.x)} ${num(c.y)}").mkString("\n")
    }.mkString("\n")
  }

  private def mifTypeOf(dt: DataType): String = dt match {
    case IntegerType | ShortType | ByteType => "Integer"
    case LongType                           => "Decimal(20, 0)"
    case FloatType | DoubleType             => "Float"
    case _: DecimalType                     => "Float"
    case BooleanType                        => "Logical"
    case _                                  => "Char(254)"
  }

  private def writeHeader(gdf: GeoDataFrame): (String, Array[String], String) = {
    val g = gdf.geometryCol
    val fields = gdf.df.schema.fields.filter(_.name != g)
    val coordSys = gdf.crs.get(g) match {
      case Some(c) =>
        val epsg = graft.crs.CrsTransform.normalizeOpt(c)
        epsg.flatMap(coordSysFor) match {
          case Some(clause) => clause + "\n"
          case None =>
            // silently dropping the CRS claim would make a write/read
            // roundtrip lie about coordinates — fail loudly instead
            // (matches the Shapefile/GPKG writers' canonical-WKT posture)
            throw new IllegalArgumentException(
              s"MIF export: CRS '$c' has no MapInfo CoordSys mapping " +
                "(supported: EPSG:4326, EPSG:4269, EPSG:3857, EPSG:27700, " +
                "WGS84 UTM zones 326xx/327xx). to_crs to a supported CRS " +
                "first, or export GeoParquet/GPKG which carry arbitrary WKT")
        }
      case None => ""
    }
    val header =
      "VERSION 300\n" +
        "Charset \"Neutral\"\n" +
        "DELIMITER \",\"\n" +
        coordSys +
        s"COLUMNS ${fields.length}\n" +
        fields.map(f => s"  ${f.name} ${mifTypeOf(f.dataType)}").mkString("\n") +
        (if (fields.nonEmpty) "\n" else "") +
        "DATA\n"
    (header, fields.map(_.name), g)
  }

  private[io] def renderMidRow(r: Row, fields: Array[StructField]): String =
    fields.indices.map { k =>
      val v = r.get(k)
      fields(k).dataType match {
        case _ if v == null => ""
        case StringType =>
          val s = v.toString
          // MID rows are line-delimited with no escape for embedded line
          // breaks — refuse loudly instead of writing a corrupt pair
          require(s.indexOf('\n') < 0 && s.indexOf('\r') < 0,
            s"MIF export: string value in column '${fields(k).name}' contains a " +
              "line break, which the MID format cannot represent — clean or drop it")
          "\"" + s.replace("\"", "\"\"") + "\""
        case BooleanType => if (v.asInstanceOf[Boolean]) "T" else "F"
        case _ => v.toString
      }
    }.mkString(",")

  // ---------------------------------------------------------------- MID

  private[io] def parseMid(text: String, hdr: MifHeader): IndexedSeq[Array[Any]] = {
    // an empty line is a legitimate row (e.g. the only attribute column is a
    // nullable string whose value is null) — dropping interior empties would
    // shift every subsequent row onto the wrong geometry. Only trailing
    // blank lines (editor artifacts after the last record) are discarded.
    val all = text.linesIterator.toIndexedSeq
    val trimmed = all.take(all.lastIndexWhere(_.nonEmpty) + 1)
    trimmed.map { line =>
      val raw = splitMid(line, hdr.delimiter)
      hdr.fields.indices.map { k =>
        val s = raw.lift(k).getOrElse("")
        hdr.fields(k)._2 match {
          case StringType => s
          case IntegerType => if (s.isEmpty) null else java.lang.Integer.valueOf(s.trim.toInt)
          case LongType => if (s.isEmpty) null else java.lang.Long.valueOf(s.trim.toLong)
          case DoubleType => if (s.isEmpty) null else java.lang.Double.valueOf(s.trim.toDouble)
          case BooleanType =>
            if (s.isEmpty) null
            else java.lang.Boolean.valueOf(s.trim.equalsIgnoreCase("T") || s.trim.equalsIgnoreCase("true"))
          case _ => s
        }
      }.toArray[Any]
    }.toIndexedSeq
  }

  /** Delimiter split honoring MapInfo quoting (strings in double quotes,
    * embedded quotes doubled). */
  private[io] def splitMid(line: String, delim: Char): IndexedSeq[String] = {
    val out = collection.mutable.ArrayBuffer[String]()
    val cur = new java.lang.StringBuilder()
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
        else if (c == '"') inQ = false
        else cur.append(c)
      } else {
        if (c == '"') inQ = true
        else if (c == delim) { out += cur.toString; cur.setLength(0) }
        else cur.append(c)
      }
      i += 1
    }
    out += cur.toString
    out.toIndexedSeq
  }

  // ------------------------------------------------------------- helpers

  private def readBytes(spark: SparkSession, path: String, maxLen: Int): Option[Array[Byte]] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val len = math.min(fs.getFileStatus(p).getLen, maxLen.toLong).toInt
        val buf = new Array[Byte](len)
        in.readFully(0, buf)
        Some(buf)
      } finally in.close()
    }
  }

  private def readBytesInTask(path: String,
                              conf: org.apache.hadoop.conf.Configuration): Option[Array[Byte]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try { in.readFully(0, buf); Some(buf) } finally in.close()
    }
  }
}

package graft.io

import graft.api.GeoDataFrame
import graft.geom.Wkb
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.locationtech.jts.algorithm.Orientation
import org.locationtech.jts.geom.{Coordinate, Geometry, LinearRing}

/** Pure-JVM ESRI Shapefile reader (reference `read_file`'s most common
  * format — `geopandas/io/file.py:197-339`, which delegates to
  * pyogrio/GDAL; this is an independent implementation of the public
  * Shapefile spec: .shp geometry + .dbf dBASE attributes + .prj CRS).
  *
  * Scale design: shapefiles cap at 2 GB and arrive as CORPORA of files, so
  * the unit of parallelism is the file — `binaryFiles` distributes (path,
  * bytes) pairs to executors, each parsing its .shp and sibling .dbf
  * locally. Schema and CRS are read once on the driver from the first
  * file's headers (a few KB). No driver-side row loop.
  *
  * Supported shape types: Null(0), Point(1), PolyLine(3), Polygon(5),
  * MultiPoint(8), their Z variants (11/13/15/18) including the optional
  * trailing measure band (XYZM), and the M variants (21/23/25/28); the
  * ESRI "no data" convention (M < −10^38) reads back as absent.
  * DBF field types: C→string, N/F→double (long when 0 decimals), L→boolean,
  * D→string. Deleted records (0x2A flag) are skipped.
  */
object Shapefile {

  // ---------------------------------------------------------------- public

  /** Read one .shp file (or a directory / glob of same-schema .shp files).
    * CRS is the raw .prj WKT when present.
    *
    * `read_file`-style pushdown args (ref io/file.py:197-339): `bbox`
    * filters to features intersecting (xmin, ymin, xmax, ymax) — applied
    * right after parse, before anything shuffles; `mask` filters to
    * features intersecting an arbitrary WKB geometry (mutually exclusive
    * with `bbox`, as in the reference); `columns` prunes attribute columns
    * (geometry always kept); `rows` caps the row count. */
  def read(spark: SparkSession, path: String,
           bbox: Option[(Double, Double, Double, Double)] = None,
           columns: Option[Seq[String]] = None,
           rows: Option[Int] = None,
           mask: Option[Array[Byte]] = None,
           where: Option[String] = None): GeoDataFrame = {
    IoFilters.pruneAndLimit(IoFilters.bboxOrMask(readAll(spark, path), bbox, mask), columns, rows, where)
  }

  private def readAll(spark: SparkSession, path: String): GeoDataFrame = {
    if (path.toLowerCase.endsWith(".zip")) return readZip(spark, path)
    val shpPaths = IoFilters.resolvePaths(spark, path, ".shp")
    require(shpPaths.nonEmpty, s"no .shp files at $path")

    // driver: schema from the first file's DBF header + CRS from .prj
    val firstDbf = sibling(shpPaths.head, "dbf")
    val fields = readBytes(spark, firstDbf, maxLen = 32 * 4096).map(parseDbfFields).getOrElse(Array.empty)
    val crs = readBytes(spark, sibling(shpPaths.head, "prj"), maxLen = 1 << 20)
      .map(b => new String(b, "UTF-8").trim).filter(_.nonEmpty)
    val schema = StructType(fields.map(f => StructField(f.name, f.dataType, nullable = true)) :+
      StructField("geometry", BinaryType, nullable = true))

    val sc = spark.sparkContext
    // executors must see the job's Hadoop conf (S3 creds, fs impls, defaultFS)
    // for the sibling .dbf read — a fresh Configuration() would drop it all
    val serConf = new org.apache.spark.util.SerializableConfiguration(sc.hadoopConfiguration)
    val rowsRdd = sc.binaryFiles(shpPaths.mkString(",")).flatMap { case (p, stream) =>
      val shp = stream.toArray()
      val dbfBytes = readBytesInTask(p.replaceAll("\\.shp$", ".dbf"), serConf.value)
      val recs = parseShpRecords(shp)
      val attrs = dbfBytes.map(parseDbfRecords).getOrElse(Array.empty[Array[Any]])
      recs.zipWithIndex.map { case (wkb, i) =>
        val a: Array[Any] =
          if (i < attrs.length) attrs(i) else Array.fill[Any](fields.length)(null)
        Row.fromSeq(a.toSeq :+ wkb)
      }
    }
    val df = spark.createDataFrame(rowsRdd, schema)
    GeoDataFrame(df, "geometry", crs.map(w => Map("geometry" -> w)).getOrElse(Map.empty))
  }

  /** Write a GeoDataFrame as `<base>.shp` + `.shx` + `.dbf` (+ `.prj` when
    * a CRS is set). Shapefiles are a bounded single-file interchange format
    * (2 GB cap), so this is a driver-side EXPORT path for small results —
    * large datasets should use GeoParquet. Geometry types: Point,
    * MultiPoint, (Multi)LineString, (Multi)Polygon, with Z when present. */
  def write(gdf: GeoDataFrame, basePath: String, maxRows: Long = 5000000L): Unit = {
    val g = gdf.geometryCol
    val fields = gdf.df.schema.fields.filter(_.name != g)
    // driver-collect by format nature (one .shp/.shx/.dbf triple, 2 GB
    // cap); guard with a short-circuiting limit BEFORE the collect so an
    // over-cap frame errors instead of OOMing the driver — same guard as
    // Gpkg/Feather/FlatGeobuf
    if (maxRows >= 0) {
      val upTo = gdf.df.limit((maxRows + 1).min(Int.MaxValue - 1L).toInt).count()
      require(upTo <= maxRows,
        s"Shapefile.write is a driver-side single-file export and the frame " +
        s"exceeds $maxRows rows; use writePartitioned or GeoParquet for " +
        s"scale outputs, or raise maxRows if the driver can hold the data")
    }
    val rows = gdf.df.collect()
    val (shp, shx, dbf) = buildFiles(fields, g, rows)
    val base = basePath.replaceAll("\\.shp$", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(base + ".shp"), shp)
    java.nio.file.Files.write(java.nio.file.Paths.get(base + ".shx"), shx)
    java.nio.file.Files.write(java.nio.file.Paths.get(base + ".dbf"), dbf)
    gdf.crs.get(g).foreach { c =>
      java.nio.file.Files.write(java.nio.file.Paths.get(base + ".prj"),
        graft.crs.CrsTransform.prjText(c).getBytes("UTF-8"))
    }
  }

  /** Distributed writer: one shapefile PER PARTITION, built and written on
    * the executors — no driver collect, so the frame can exceed driver
    * memory (each partition must fit an executor task, the standard Spark
    * contract; repartition to keep parts under the format's 2 GB cap). The
    * output directory reads back with [[read]], which handles same-schema
    * .shp corpora — the reference's multi-file layer pattern. */
  def writePartitioned(gdf: GeoDataFrame, dir: String): Unit = {
    val g = gdf.geometryCol
    val spark = gdf.df.sparkSession
    val fields = gdf.df.schema.fields.filter(_.name != g)
    // the mixed-type check must be FRAME-wide: per-partition checks inside
    // buildFiles would happily write a Point part next to a Polygon part,
    // recreating the corrupt-layer state write() raises on. One cheap
    // distinct over ≤7 values (map-side combined) before any file exists.
    val families = gdf.df
      .select(graft.functions.GeoFunctions.st_geometrytype(
        org.apache.spark.sql.functions.col(g)).as("__t"))
      .filter(org.apache.spark.sql.functions.col("__t").isNotNull)
      .distinct().collect().map(r => typeFamilyName(r.getString(0))).distinct
    if (families.length > 1)
      throw new IllegalArgumentException(
        s"Shapefile layers cannot mix geometry types (found ${families.sorted.mkString(", ")}); " +
          "split by geometry family or use GeoParquet")
    val crs = gdf.crs.get(g)
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fsDir = new org.apache.hadoop.fs.Path(dir)
    val fs0 = fsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs0.mkdirs(fsDir)
    val dirStr = dir
    // sum() is the action that runs the write job
    gdf.df.rdd.mapPartitionsWithIndex { (pi, it) =>
      val rows = it.toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val (shp, shx, dbf) = buildFiles(fields, g, rows)
        val fs = new org.apache.hadoop.fs.Path(dirStr).getFileSystem(serConf.value)
        def put(ext: String, bytes: Array[Byte]): Unit = {
          val out = fs.create(new org.apache.hadoop.fs.Path(dirStr, f"part-$pi%05d.$ext"), true)
          try out.write(bytes) finally out.close()
        }
        put("shp", shp); put("shx", shx); put("dbf", dbf)
        crs.foreach(c => put("prj", graft.crs.CrsTransform.prjText(c).getBytes("UTF-8")))
        Iterator.single(rows.length.toLong)
      }
    }.sum()
  }

  /** Build the .shp/.shx/.dbf byte images for one layer of rows. Raises on
    * mixed geometry-type frames — encoding a Polygon with a Point record
    * layout would silently corrupt data (the reference/GDAL raises too). */
  private def buildFiles(fields: Array[StructField], g: String,
                         rows: Array[Row]): (Array[Byte], Array[Byte], Array[Byte]) = {
    val geoms = rows.map(r => Option(r.getAs[Array[Byte]](r.fieldIndex(g))).map(Wkb.read).orNull)
    val shapeType = dominantShapeType(geoms)
    val families = geoms.filter(gm => gm != null && !gm.isEmpty)
      .map(typeFamily).distinct
    if (families.length > 1)
      throw new IllegalArgumentException(
        s"Shapefile layers cannot mix geometry types (found ${families.sorted.mkString(", ")}); " +
          "split by geometry family or use GeoParquet (ref GDAL/pyogrio raises the same way)")
    val recs = geoms.map(geomRecord(_, shapeType))
    // file bbox over non-null geometries
    val env = new org.locationtech.jts.geom.Envelope()
    geoms.foreach(gm => if (gm != null && !gm.isEmpty) env.expandToInclude(gm.getEnvelopeInternal))

    val shp = new java.io.ByteArrayOutputStream()
    val shx = new java.io.ByteArrayOutputStream()
    val contentBytes = recs.map(r => 8L + r.length).sum
    require(100 + contentBytes <= Int.MaxValue,
      s"shapefile layer would be ${100 + contentBytes} bytes — over the format's 2 GB cap; " +
        "repartition and use writePartitioned, or use GeoParquet")
    shp.write(shpHeader(100 + contentBytes.toInt, shapeType, env))
    shx.write(shpHeader(100 + recs.length * 8, shapeType, env))
    var off = 100
    recs.zipWithIndex.foreach { case (r, i) =>
      val hdr = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
      hdr.putInt(i + 1).putInt(r.length / 2)
      shp.write(hdr.array()); shp.write(r)
      val ix = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
      ix.putInt(off / 2).putInt(r.length / 2)
      shx.write(ix.array())
      off += 8 + r.length
    }
    (shp.toByteArray, shx.toByteArray, writeDbf(fields, rows))
  }

  private def typeFamily(g: Geometry): String = typeFamilyName(g.getGeometryType)

  private def typeFamilyName(t: String): String = t match {
    case "Point"                          => "Point"
    case "MultiPoint"                     => "MultiPoint"
    case "LineString" | "MultiLineString" => "Line"
    case "Polygon" | "MultiPolygon"       => "Polygon"
    case other                            => other // GeometryCollection etc. — never encodable
  }

  /** Shape type for the whole file: Z shapes (11/13/15/18) when the data
    * carries Z (their record layout ends with an optional measure band, so
    * XYZM needs no separate type), M shapes (21/23/25/28) for M-without-Z —
    * the same promotion GDAL's shapefile driver applies. */
  private def dominantShapeType(geoms: Array[Geometry]): Int = {
    val base = geoms.find(g => g != null && !g.isEmpty)
    val hasZ = base.exists(Wkb.hasZ)
    val hasM = base.exists(Wkb.hasM)
    base.map(_.getGeometryType match {
      case "Point"                           => if (hasZ) 11 else if (hasM) 21 else 1
      case "MultiPoint"                      => if (hasZ) 18 else if (hasM) 28 else 8
      case "LineString" | "MultiLineString"  => if (hasZ) 13 else if (hasM) 23 else 3
      case _                                 => if (hasZ) 15 else if (hasM) 25 else 5
    }).getOrElse(1)
  }

  private def shpHeader(fileBytes: Int, shapeType: Int, env: org.locationtech.jts.geom.Envelope): Array[Byte] = {
    val b = ByteBuffer.allocate(100)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(9994); b.position(24); b.putInt(fileBytes / 2)
    b.order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(1000).putInt(shapeType)
    val (x0, y0, x1, y1) =
      if (env.isNull) (0.0, 0.0, 0.0, 0.0) else (env.getMinX, env.getMinY, env.getMaxX, env.getMaxY)
    b.putDouble(x0).putDouble(y0).putDouble(x1).putDouble(y1)
    b.putDouble(0).putDouble(0).putDouble(0).putDouble(0) // z/m ranges
    b.array()
  }

  private def geomRecord(g: Geometry, shapeType: Int): Array[Byte] = {
    if (g == null || g.isEmpty) {
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(0) // Null shape
      return b.array()
    }
    val withZ = shapeType >= 11 && shapeType <= 18 && Wkb.hasZ(g)
    // M-type files carry a mandatory measure band; Z-type records append the
    // spec's optional one when the geometry is measured (XYZM)
    val withM = (shapeType >= 21 && shapeType <= 28) || (withZ && Wkb.hasM(g))
    def mOf(c: Coordinate): Double = if (java.lang.Double.isNaN(c.getM)) 0.0 else c.getM
    shapeType match {
      case 1 | 11 | 21 =>
        val c = g.getCoordinate
        if (shapeType == 21) {
          val b = ByteBuffer.allocate(4 + 24).order(ByteOrder.LITTLE_ENDIAN)
          b.putInt(21).putDouble(c.x).putDouble(c.y).putDouble(mOf(c))
          b.array()
        } else {
          val b = ByteBuffer.allocate(if (withZ) 4 + 32 else 4 + 16).order(ByteOrder.LITTLE_ENDIAN)
          b.putInt(if (withZ) 11 else 1).putDouble(c.x).putDouble(c.y)
          if (withZ) { b.putDouble(c.getZ); b.putDouble(mOf(c)) } // Z then M
          b.array()
        }
      case 8 | 18 | 28 =>
        val cs = g.getCoordinates
        writeMultiPoint(g, cs, withZ, withM)
      case _ =>
        // PolyLine (3/13/23) and Polygon (5/15/25) share the parts/points layout
        val isPoly = shapeType % 10 == 5
        val parts: Array[Array[Coordinate]] =
          if (isPoly) polygonRings(g) else lineParts(g)
        writePartsRecord(g, isPoly, parts, withZ, withM)
    }
  }

  private def lineParts(g: Geometry): Array[Array[Coordinate]] =
    (0 until g.getNumGeometries).map(g.getGeometryN(_).getCoordinates).toArray

  /** Shell rings forced CLOCKWISE, holes COUNTER-clockwise (shapefile spec). */
  private def polygonRings(g: Geometry): Array[Array[Coordinate]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Coordinate]]
    (0 until g.getNumGeometries).foreach { i =>
      g.getGeometryN(i) match {
        case p: org.locationtech.jts.geom.Polygon =>
          val shell = p.getExteriorRing.getCoordinates
          out += (if (Orientation.isCCW(shell)) shell.reverse else shell)
          (0 until p.getNumInteriorRing).foreach { h =>
            val hole = p.getInteriorRingN(h).getCoordinates
            out += (if (Orientation.isCCW(hole)) hole else hole.reverse)
          }
        case _ => ()
      }
    }
    out.toArray
  }

  private def writeMultiPoint(g: Geometry, cs: Array[Coordinate], withZ: Boolean,
                              withM: Boolean): Array[Byte] = {
    val e = g.getEnvelopeInternal
    val n = cs.length
    val band = 16 + 8 * n
    val size = 4 + 32 + 4 + 16 * n + (if (withZ) band else 0) + (if (withM) band else 0)
    val b = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(if (withZ) 18 else if (withM) 28 else 8)
    b.putDouble(e.getMinX).putDouble(e.getMinY).putDouble(e.getMaxX).putDouble(e.getMaxY)
    b.putInt(n)
    cs.foreach(c => b.putDouble(c.x).putDouble(c.y))
    if (withZ) putBand(b, cs.map(c => if (java.lang.Double.isNaN(c.getZ)) 0.0 else c.getZ))
    if (withM) putBand(b, cs.map(c => if (java.lang.Double.isNaN(c.getM)) 0.0 else c.getM))
    b.array()
  }

  private def putBand(b: ByteBuffer, vs: Array[Double]): Unit = {
    b.putDouble(vs.min).putDouble(vs.max)
    vs.foreach(b.putDouble)
  }

  private def writePartsRecord(g: Geometry, isPoly: Boolean, parts: Array[Array[Coordinate]],
                               withZ: Boolean, withM: Boolean): Array[Byte] = {
    val stype = (if (isPoly) 5 else 3) + (if (withZ) 10 else if (withM) 20 else 0)
    val e = g.getEnvelopeInternal
    val nPts = parts.map(_.length).sum
    val band = 16 + 8 * nPts
    val size = 4 + 32 + 8 + 4 * parts.length + 16 * nPts +
      (if (withZ) band else 0) + (if (withM) band else 0)
    val b = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(stype)
    b.putDouble(e.getMinX).putDouble(e.getMinY).putDouble(e.getMaxX).putDouble(e.getMaxY)
    b.putInt(parts.length).putInt(nPts)
    var start = 0
    parts.foreach { p => b.putInt(start); start += p.length }
    parts.foreach(_.foreach(c => b.putDouble(c.x).putDouble(c.y)))
    val flat = parts.flatten
    if (withZ) putBand(b, flat.map(c => if (java.lang.Double.isNaN(c.getZ)) 0.0 else c.getZ))
    if (withM) putBand(b, flat.map(c => if (java.lang.Double.isNaN(c.getM)) 0.0 else c.getM))
    b.array()
  }

  private def writeDbf(fields: Array[StructField], rows: Array[org.apache.spark.sql.Row]): Array[Byte] = {
    case class Spec(name: String, typ: Char, dec: Int)
    val specs = fields.map { f =>
      f.dataType match {
        case LongType | IntegerType | ShortType => Spec(f.name.take(10), 'N', 0)
        case DoubleType | FloatType             => Spec(f.name.take(10), 'N', 8)
        case BooleanType                        => Spec(f.name.take(10), 'L', 0)
        case _                                  => Spec(f.name.take(10), 'C', 0)
      }
    }
    // pre-format every value, then size each field to its widest value
    // (GDAL auto-sizes the same way) — fixed widths would silently truncate
    // large numerics or long strings
    def fmt(s: Spec, r: org.apache.spark.sql.Row, i: Int): String = {
      val idx = r.fieldIndex(fields(i).name)
      if (r.isNullAt(idx)) ""
      else s.typ match {
        case 'N' if s.dec == 0 => r.get(idx).toString
        case 'N' => BigDecimal(r.get(idx).toString)
          .setScale(s.dec, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
        case 'L' => if (r.getBoolean(idx)) "T" else "F"
        case _   => r.get(idx).toString
      }
    }
    val formatted: Array[Array[String]] = rows.map(r => specs.zipWithIndex.map { case (s, i) => fmt(s, r, i) })
    val lens: Array[Int] = specs.zipWithIndex.map { case (s, i) =>
      val maxV = if (rows.isEmpty) 0 else formatted.iterator.map(_(i).getBytes("UTF-8").length).max
      s.typ match {
        case 'L' => 1
        case 'N' => math.max(1, math.min(30, maxV))   // dBASE numeric cap
        case _   => math.max(1, math.min(254, maxV))  // dBASE char cap
      }
    }
    val recSize = 1 + lens.sum
    val headerSize = 32 + 32 * specs.length + 1
    val out = new java.io.ByteArrayOutputStream()
    val h = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    h.put(0x03.toByte).put(126.toByte).put(1.toByte).put(1.toByte) // version, yymmdd
    h.putInt(rows.length).putShort(headerSize.toShort).putShort(recSize.toShort)
    out.write(h.array())
    specs.zipWithIndex.foreach { case (s, i) =>
      val fd = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
      val nameBytes = s.name.getBytes("ASCII")
      fd.put(nameBytes, 0, math.min(10, nameBytes.length))
      fd.position(11); fd.put(s.typ.toByte)
      fd.position(16); fd.put(lens(i).toByte); fd.put(s.dec.toByte)
      out.write(fd.array())
    }
    out.write(0x0d)
    formatted.foreach { vals =>
      out.write(0x20) // active record
      specs.zipWithIndex.foreach { case (s, i) =>
        val bytes = vals(i).getBytes("UTF-8").take(lens(i))
        // numerics right-justified, text left-justified (dBASE convention)
        val pad = lens(i) - bytes.length
        if (s.typ == 'N') { (0 until pad).foreach(_ => out.write(0x20)); out.write(bytes) }
        else { out.write(bytes); (0 until pad).foreach(_ => out.write(0x20)) }
      }
    }
    out.write(0x1a) // EOF
    out.toByteArray
  }

  /** Zipped shapefile (the reference reads `*.zip` via GDAL's /vsizip/ —
    * `io/file.py:294-313`; its own nybb fixture ships zipped). The archive
    * is read once on the driver (zip members aren't splittable anyway) and
    * rows are parallelized. */
  private def readZip(spark: SparkSession, path: String): GeoDataFrame = {
    val members = scala.collection.mutable.Map[String, Array[Byte]]()
    val in = new java.util.zip.ZipInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(path)))
    try {
      var e = in.getNextEntry
      while (e != null) {
        if (!e.isDirectory) members(e.getName.toLowerCase) = in.readAllBytes()
        e = in.getNextEntry
      }
    } finally in.close()
    val shpName = members.keys.find(_.endsWith(".shp")).getOrElse(
      throw new IllegalArgumentException(s"no .shp member in $path"))
    val base = shpName.stripSuffix(".shp")
    val shp = members(shpName)
    val dbf = members.get(base + ".dbf")
    val prj = members.get(base + ".prj").map(b => new String(b, "UTF-8").trim).filter(_.nonEmpty)

    val fields = dbf.map(parseDbfFields).getOrElse(Array.empty)
    val schema = StructType(fields.map(f => StructField(f.name, f.dataType, nullable = true)) :+
      StructField("geometry", BinaryType, nullable = true))
    val recs = parseShpRecords(shp)
    val attrs = dbf.map(parseDbfRecords).getOrElse(Array.empty[Array[Any]])
    val rows = recs.zipWithIndex.map { case (wkb, i) =>
      val a: Array[Any] = if (i < attrs.length) attrs(i) else Array.fill[Any](fields.length)(null)
      Row.fromSeq(a.toSeq :+ wkb)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, math.max(1, rows.length / 10000 + 1)), schema)
    GeoDataFrame(df, "geometry", prj.map(w => Map("geometry" -> w)).getOrElse(Map.empty))
  }

  // ------------------------------------------------------------- .shp part

  /** Parse all record geometries of a .shp payload to WKB (null for Null
    * shapes / unsupported types). */
  private[io] def parseShpRecords(b: Array[Byte]): Array[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val fileLen = math.min(b.length.toLong, be32(b, 24).toLong * 2)
    var off = 100L
    while (off + 8 <= fileLen) {
      val contentLen = be32(b, off.toInt + 4) * 2 // bytes
      val rec = off.toInt + 8
      // negative contentLen (corrupt record) would make off non-increasing —
      // terminate the scan rather than loop forever
      if (contentLen < 0 || rec + contentLen > b.length) { out += null; off = fileLen }
      else {
        out += (try parseShape(b, rec, contentLen)
        catch { case _: Exception => null })
        off += 8 + contentLen
      }
    }
    out.toArray
  }

  /** ESRI "no data" measure convention: any M below −10^38 means absent. */
  private val MNoData = -1e38

  private def parseShape(b: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val f = Wkb.factory
    val stype = le32(b, off)
    // coordinate builder honoring whichever of Z/M are present
    def coord(x: Double, y: Double, z: Double, m: Double): Coordinate = {
      val withZ = !java.lang.Double.isNaN(z)
      val withM = !java.lang.Double.isNaN(m) && m > MNoData
      if (withZ && withM) new org.locationtech.jts.geom.CoordinateXYZM(x, y, z, m)
      else if (withM) new org.locationtech.jts.geom.CoordinateXYM(x, y, m)
      else if (withZ) new Coordinate(x, y, z)
      else new Coordinate(x, y)
    }
    // measure band for an n-point record: right after the points for M types,
    // after the z band for Z types (optional there, so probe by record
    // length); an all-NoData band collapses to "absent"
    def mAt(n: Int, ptsEnd: Int): Int => Double = {
      val mOff = (if (stype >= 11 && stype <= 18) ptsEnd + 16 + 8 * n else ptsEnd) + 16
      if (stype >= 11 && stype <= 28 && mOff + 8 * n <= off + len &&
          (0 until n).exists(i => leD(b, mOff + 8 * i) > MNoData))
        i => leD(b, mOff + 8 * i)
      else _ => Double.NaN
    }
    val g: Geometry = stype match {
      case 0 => null
      case 1 => f.createPoint(new Coordinate(leD(b, off + 4), leD(b, off + 12)))
      case 21 => // PointM: x, y, m
        f.createPoint(coord(leD(b, off + 4), leD(b, off + 12), Double.NaN, leD(b, off + 20)))
      case 11 => // PointZ: x, y, z [, m]
        val m = if (len >= 36) leD(b, off + 28) else Double.NaN
        f.createPoint(coord(leD(b, off + 4), leD(b, off + 12), leD(b, off + 20), m))
      case 8 | 18 | 28 => { // MultiPoint(Z/M)
        val n = le32(b, off + 36)
        val ptsOff = off + 40
        val zOff = ptsOff + 16 * n + 16 // skip zmin/zmax
        val withZ = stype == 18 && zOff + 8 * n <= off + len
        val m = mAt(n, ptsOff + 16 * n)
        val pts = Array.tabulate(n) { i =>
          coord(leD(b, ptsOff + 16 * i), leD(b, ptsOff + 16 * i + 8),
            if (withZ) leD(b, zOff + 8 * i) else Double.NaN, m(i))
        }
        f.createMultiPointFromCoords(pts)
      }
      case 3 | 13 | 23 | 5 | 15 | 25 => { // PolyLine / Polygon (Z/M)
        val nParts = le32(b, off + 36)
        val nPoints = le32(b, off + 40)
        val partsOff = off + 44
        val ptsOff = partsOff + 4 * nParts
        val zOff = ptsOff + 16 * nPoints + 16
        val withZ = (stype == 13 || stype == 15) && zOff + 8 * nPoints <= off + len
        val m = mAt(nPoints, ptsOff + 16 * nPoints)
        val parts = Array.tabulate(nParts)(i => le32(b, partsOff + 4 * i))
        val partCoords: Array[Array[Coordinate]] = Array.tabulate(nParts) { pi =>
          val start = parts(pi)
          val end = if (pi + 1 < nParts) parts(pi + 1) else nPoints
          Array.tabulate(end - start) { j =>
            val i = start + j
            coord(leD(b, ptsOff + 16 * i), leD(b, ptsOff + 16 * i + 8),
              if (withZ) leD(b, zOff + 8 * i) else Double.NaN, m(i))
          }
        }
        if (stype == 3 || stype == 13 || stype == 23) {
          val lines = partCoords.filter(_.length >= 2).map(f.createLineString)
          if (lines.length == 1) lines(0) else f.createMultiLineString(lines)
        } else assemblePolygons(partCoords)
      }
      case _ => null
    }
    if (g == null) null else Wkb.write(g)
  }

  /** Shapefile polygon part assembly: outer rings are CLOCKWISE, holes
    * counter-clockwise; a hole belongs to the shell that contains it. */
  private def assemblePolygons(rings: Array[Array[Coordinate]]): Geometry = {
    val f = Wkb.factory
    val closed = rings.filter(_.length >= 4).map { cs =>
      if (cs.head.equals2D(cs.last)) cs else cs :+ cs.head.copy()
    }
    val (shellCs, holeCs) = closed.partition(cs => !Orientation.isCCW(cs))
    val shells = (if (shellCs.isEmpty) closed else shellCs).map(f.createLinearRing)
    val holes = (if (shellCs.isEmpty) Array.empty[Array[Coordinate]] else holeCs).map(f.createLinearRing)
    val holesByShell: Map[LinearRing, Array[LinearRing]] =
      if (shells.length == 1) Map(shells(0) -> holes)
      else {
        val shellPolys = shells.map(s => f.createPolygon(s))
        holes.groupBy { h =>
          val p = h.getCoordinateN(0)
          val pt = f.createPoint(p)
          shells(shellPolys.indexWhere(sp => sp.covers(pt)) match {
            case -1 => 0
            case i  => i
          })
        }
      }
    val polys = shells.map(s => f.createPolygon(s, holesByShell.getOrElse(s, Array.empty)))
    if (polys.length == 1) polys(0) else f.createMultiPolygon(polys)
  }

  // ------------------------------------------------------------- .dbf part

  private[io] case class DbfField(name: String, typ: Char, len: Int, dec: Int) {
    def dataType: DataType = typ match {
      case 'N' if dec == 0 => LongType
      case 'N' | 'F'       => DoubleType
      case 'L'             => BooleanType
      case _               => StringType
    }
  }

  private[io] def parseDbfFields(b: Array[Byte]): Array[DbfField] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[DbfField]
    var off = 32
    while (off + 32 <= b.length && b(off) != 0x0d) {
      val nameEnd = (off until off + 11).find(i => b(i) == 0).getOrElse(off + 11)
      val name = new String(b, off, nameEnd - off, "ASCII")
      out += DbfField(name, b(off + 11).toChar, b(off + 16) & 0xff, b(off + 17) & 0xff)
      off += 32
    }
    out.toArray
  }

  private[io] def parseDbfRecords(b: Array[Byte]): Array[Array[Any]] = {
    val fields = parseDbfFields(b)
    val nRec = le32(b, 4)
    val headerSize = le16(b, 8)
    val recSize = le16(b, 10)
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
    var r = 0
    while (r < nRec) {
      val off = headerSize + r * recSize
      if (off + recSize <= b.length && b(off) != 0x2a) { // skip deleted
        val vals = new Array[Any](fields.length)
        var fo = off + 1
        var i = 0
        while (i < fields.length) {
          val f = fields(i)
          val raw = new String(b, fo, math.min(f.len, b.length - fo), "UTF-8").trim
          vals(i) = f.typ match {
            case 'N' if f.dec == 0 =>
              if (raw.isEmpty || raw.forall(c => c == '*')) null
              else try java.lang.Long.valueOf(raw.toLong)
              catch { case _: NumberFormatException => try java.lang.Long.valueOf(raw.toDouble.toLong) catch { case _: Exception => null } }
            case 'N' | 'F' =>
              if (raw.isEmpty || raw.forall(c => c == '*')) null
              else try java.lang.Double.valueOf(raw.toDouble) catch { case _: NumberFormatException => null }
            case 'L' => raw.headOption.map(c => "YyTt".indexOf(c) >= 0: java.lang.Boolean).orNull
            case _   => if (raw.isEmpty) null else raw
          }
          fo += f.len
          i += 1
        }
        out += vals
      }
      r += 1
    }
    out.toArray
  }

  // --------------------------------------------------------------- helpers

  private def sibling(shpPath: String, ext: String): String =
    shpPath.replaceAll("\\.shp$", "." + ext)

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

  /** Executor-side sibling read (tasks have no SparkSession); conf is the
    * driver's hadoopConfiguration, shipped via SerializableConfiguration. */
  private def readBytesInTask(path: String, conf: org.apache.hadoop.conf.Configuration): Option[Array[Byte]] = {
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

  private def be32(b: Array[Byte], off: Int): Int =
    ByteBuffer.wrap(b, off, 4).order(ByteOrder.BIG_ENDIAN).getInt
  private def le32(b: Array[Byte], off: Int): Int =
    ByteBuffer.wrap(b, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
  private def le16(b: Array[Byte], off: Int): Int =
    ByteBuffer.wrap(b, off, 2).order(ByteOrder.LITTLE_ENDIAN).getShort & 0xffff
  private def leD(b: Array[Byte], off: Int): Double =
    ByteBuffer.wrap(b, off, 8).order(ByteOrder.LITTLE_ENDIAN).getDouble
}

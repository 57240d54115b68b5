package graft.io

import graft.api.GeoDataFrame
import graft.geom.{Hilbert, Wkb}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, CoordinateXYM, CoordinateXYZM, Geometry, GeometryFactory}

/** FlatGeobuf read/write — implemented from the PUBLIC format specification
  * (https://flatgeobuf.org, spec/ in the flatgeobuf repo): an 8-byte magic
  * (`fgb\x03fgb\x00`), a size-prefixed flatbuffers Header, an optional
  * packed Hilbert R-tree index, then size-prefixed flatbuffers Features.
  * The reference reaches this driver through GDAL (`io/file.py:197`);
  * here it is a pure-JVM reader/writer on the engine's own [[FlatBuf]]
  * runtime.
  *
  * Scale posture mirrors [[Shapefile]]: the unit of read parallelism is the
  * FILE (`binaryFiles` over same-schema .fgb corpora, one task per file);
  * a `bbox=` read traverses the packed R-tree INSIDE each task so only
  * matching features pay flatbuffer+JTS decode — the format's cloud-native
  * trick (range-request streaming) re-expressed for a cluster filesystem.
  * The exact bbox/mask semantics are enforced after decode by the shared
  * [[IoFilters]], so the index is purely an accelerator. Writes: a guarded
  * driver-side single-file export plus a distributed one-file-per-partition
  * variant, like the Shapefile/Feather writers.
  */
object FlatGeobuf {

  private val Magic = Array[Byte]('f', 'g', 'b', 3, 'f', 'g', 'b', 0)
  private val gf = new GeometryFactory()

  // GeometryType enum (spec header.fbs)
  private val GtUnknown = 0
  private val GtPoint = 1
  private val GtLineString = 2
  private val GtPolygon = 3
  private val GtMultiPoint = 4
  private val GtMultiLineString = 5
  private val GtMultiPolygon = 6
  private val GtGeometryCollection = 7

  // ColumnType enum (spec header.fbs)
  private val CtByte = 0; private val CtUByte = 1; private val CtBool = 2
  private val CtShort = 3; private val CtUShort = 4; private val CtInt = 5
  private val CtUInt = 6; private val CtLong = 7; private val CtULong = 8
  private val CtFloat = 9; private val CtDouble = 10; private val CtString = 11
  private val CtJson = 12; private val CtDateTime = 13; private val CtBinary = 14

  // ------------------------------------------------------------------ read

  private[io] case class Header(geomType: Int, columns: Array[(String, Int)],
                                featuresCount: Long, indexNodeSize: Int,
                                crs: Option[String], featuresStart: Int)

  private[io] def parseHeader(bytes: Array[Byte]): Header = {
    require(bytes.length > 12 && (0 until 8).forall(i => bytes(i) == Magic(i)),
      "not a FlatGeobuf file (bad magic)")
    val headerLen = leInt(bytes, 8)
    val h = FlatBuf.root(bytes, 12, headerLen)
    val geomType = h.getByte(2, 0) & 0xff
    val (colBase, colCount) = h.vector(7)
    val columns = Array.tabulate(colCount) { i =>
      val c = h.tableAt(colBase, i)
      (c.string(0), (c.getByte(1, 0) & 0xff).toInt)
    }
    val featuresCount = h.getLong(8, 0L)
    val indexNodeSize = h.getShort(9, 16).toInt & 0xffff
    val crsT = h.table(10)
    val crs = Option(crsT).flatMap { t =>
      val code = t.getInt(1, 0)
      if (code > 0) Some(s"${Option(t.string(0)).getOrElse("EPSG")}:$code")
      else Option(t.string(4)) // wkt
    }
    val indexSize =
      if (indexNodeSize > 0 && featuresCount > 0)
        PackedRTree.sizeBytes(featuresCount.toInt, indexNodeSize)
      else 0
    Header(geomType, columns, featuresCount, indexNodeSize, crs, 12 + headerLen + indexSize)
  }

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) | ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def sparkTypeOf(ct: Int): DataType = ct match {
    case CtByte => ByteType
    case CtBool => BooleanType
    case CtUByte | CtShort => ShortType
    case CtUShort | CtInt => IntegerType
    case CtUInt | CtLong | CtULong => LongType
    case CtFloat => FloatType
    case CtDouble => DoubleType
    case CtString | CtJson | CtDateTime => StringType
    case CtBinary => BinaryType
    case other => throw new IllegalArgumentException(s"unsupported FlatGeobuf column type $other")
  }

  /** Read one .fgb file (or a directory / glob of same-schema files).
    * `bbox` prunes via the packed R-tree index inside each file task before
    * any decode; exact semantics applied after, like every other reader. */
  def read(spark: SparkSession, path: String,
           bbox: Option[(Double, Double, Double, Double)] = None,
           columns: Option[Seq[String]] = None,
           rows: Option[Int] = None,
           mask: Option[Array[Byte]] = None,
           where: Option[String] = None): GeoDataFrame = {
    val paths = IoFilters.resolvePaths(spark, path, ".fgb")
    require(paths.nonEmpty, s"no .fgb files at $path")
    // driver: schema + CRS from the first file's header (headers are small)
    val head = parseHeader(readHead(spark, paths.head, 1 << 20))
    val schema = StructType(head.columns.map { case (n, t) =>
      StructField(n, sparkTypeOf(t), nullable = true)
    } :+ StructField("geometry", BinaryType, nullable = true))
    val colTypes = head.columns
    // mask pruning uses the mask's envelope through the same R-tree path
    val pruneBox: Option[(Double, Double, Double, Double)] = (bbox, mask) match {
      case (Some(b), _) => Some(b)
      case (_, Some(m)) =>
        val env = Wkb.read(m).getEnvelopeInternal
        Some((env.getMinX, env.getMinY, env.getMaxX, env.getMaxY))
      case _ => None
    }
    val rowsRdd = spark.sparkContext.binaryFiles(paths.mkString(",")).flatMap { case (_, stream) =>
      val bytes = stream.toArray()
      val h = parseHeader(bytes)
      val offsets: Iterator[Int] = pruneBox match {
        case Some((x0, y0, x1, y1)) if h.indexNodeSize > 0 && h.featuresCount > 0 =>
          val headerLen = leInt(bytes, 8)
          PackedRTree.search(bytes, 12 + headerLen, h.featuresCount.toInt, h.indexNodeSize,
            x0, y0, x1, y1).iterator.map(h.featuresStart + _)
        case _ =>
          Iterator.unfold(h.featuresStart) { pos =>
            if (pos + 4 > bytes.length) None
            else Some((pos, pos + 4 + leInt(bytes, pos)))
          }
      }
      offsets.map(off => decodeFeature(bytes, off, h, colTypes))
    }
    val gdf = GeoDataFrame(spark.createDataFrame(rowsRdd, schema), "geometry",
      head.crs.map(c => Map("geometry" -> c)).getOrElse(Map.empty))
    IoFilters.pruneAndLimit(IoFilters.bboxOrMask(gdf, bbox, mask), columns, rows, where)
  }

  private def decodeFeature(bytes: Array[Byte], off: Int, h: Header,
                            colTypes: Array[(String, Int)]): Row = {
    val len = leInt(bytes, off)
    val f = FlatBuf.root(bytes, off + 4, len)
    val geomT = f.table(0)
    val wkb = if (geomT == null) null else Wkb.write(readGeometry(geomT, h.geomType))
    val attrs = new Array[Any](colTypes.length)
    val (pBase, pLen) = f.vector(1)
    if (pBase >= 0) {
      val buf = f.buf
      var p = pBase
      val end = pBase + pLen
      while (p + 2 <= end) {
        val idx = buf.getShort(p) & 0xffff; p += 2
        val ct = colTypes(idx)._2
        ct match {
          case CtByte => attrs(idx) = buf.get(p); p += 1
          case CtUByte => attrs(idx) = (buf.get(p) & 0xff).toShort; p += 1
          case CtBool => attrs(idx) = buf.get(p) != 0; p += 1
          case CtShort => attrs(idx) = buf.getShort(p); p += 2
          case CtUShort => attrs(idx) = buf.getShort(p) & 0xffff; p += 2
          case CtInt => attrs(idx) = buf.getInt(p); p += 4
          case CtUInt => attrs(idx) = buf.getInt(p).toLong & 0xffffffffL; p += 4
          case CtLong | CtULong => attrs(idx) = buf.getLong(p); p += 8
          case CtFloat => attrs(idx) = buf.getFloat(p); p += 4
          case CtDouble => attrs(idx) = buf.getDouble(p); p += 8
          case CtString | CtJson | CtDateTime =>
            val n = buf.getInt(p); p += 4
            val sb = new Array[Byte](n)
            val dup = buf.duplicate(); dup.position(p); dup.get(sb)
            attrs(idx) = new String(sb, java.nio.charset.StandardCharsets.UTF_8); p += n
          case CtBinary =>
            val n = buf.getInt(p); p += 4
            val bb2 = new Array[Byte](n)
            val dup = buf.duplicate(); dup.position(p); dup.get(bb2)
            attrs(idx) = bb2; p += n
          case other => throw new IllegalArgumentException(s"unsupported property type $other")
        }
      }
    }
    Row.fromSeq(attrs.toSeq :+ wkb)
  }

  /** Geometry table fields (spec feature.fbs):
    * ends=0, xy=1, z=2, m=3, t=4, tm=5, type=6, parts=7. */
  private def readGeometry(t: FlatBuf.Table, typeHint: Int): Geometry = {
    val ty = (t.getByte(6, 0) & 0xff) match { case 0 => typeHint; case v => v }
    val buf = t.buf
    def coords: Array[Coordinate] = {
      val (base, n) = t.vector(1)
      val (zBase, zN) = t.vector(2) // spec z / m vectors, one double per coordinate
      val (mBase, mN) = t.vector(3)
      Array.tabulate(n / 2) { i =>
        val x = buf.getDouble(base + 16 * i)
        val y = buf.getDouble(base + 16 * i + 8)
        val hasZ = zBase >= 0 && i < zN
        val hasM = mBase >= 0 && i < mN
        if (hasZ && hasM)
          new CoordinateXYZM(x, y, buf.getDouble(zBase + 8 * i), buf.getDouble(mBase + 8 * i))
        else if (hasM) new CoordinateXYM(x, y, buf.getDouble(mBase + 8 * i))
        else if (hasZ) new Coordinate(x, y, buf.getDouble(zBase + 8 * i))
        else new Coordinate(x, y)
      }
    }
    def ends(totalPairs: Int): Array[Int] = {
      val (base, n) = t.vector(0)
      if (base < 0 || n == 0) Array(totalPairs)
      else Array.tabulate(n)(i => buf.getInt(base + 4 * i))
    }
    def slices(cs: Array[Coordinate]): Array[Array[Coordinate]] = {
      val e = ends(cs.length)
      var start = 0
      e.map { end => val s = cs.slice(start, end); start = end; s }
    }
    ty match {
      case GtPoint =>
        val cs = coords
        if (cs.isEmpty) gf.createPoint() else gf.createPoint(cs(0))
      case GtMultiPoint => gf.createMultiPointFromCoords(coords)
      case GtLineString => gf.createLineString(coords)
      case GtMultiLineString =>
        gf.createMultiLineString(slices(coords).map(gf.createLineString))
      case GtPolygon => polygonOf(slices(coords))
      case GtMultiPolygon =>
        val (base, n) = t.vector(7)
        gf.createMultiPolygon(Array.tabulate(n) { i =>
          readGeometry(t.tableAt(base, i), GtPolygon)
            .asInstanceOf[org.locationtech.jts.geom.Polygon]
        })
      case GtGeometryCollection =>
        val (base, n) = t.vector(7)
        gf.createGeometryCollection(Array.tabulate(n)(i =>
          readGeometry(t.tableAt(base, i), GtUnknown)))
      case other => throw new IllegalArgumentException(s"unsupported FlatGeobuf geometry type $other")
    }
  }

  private def polygonOf(rings: Array[Array[Coordinate]]): Geometry = {
    if (rings.isEmpty) return gf.createPolygon()
    val shell = gf.createLinearRing(rings(0))
    val holes = rings.drop(1).map(gf.createLinearRing)
    gf.createPolygon(shell, holes)
  }

  // ----------------------------------------------------------------- write

  /** Driver-side single-file export (guarded collect, like Gpkg.write):
    * Hilbert-sorted features + packed R-tree index. Large frames should use
    * [[writePartitioned]] or GeoParquet. */
  def write(gdf: GeoDataFrame, path: String, maxRows: Long = 5000000L): Unit = {
    if (maxRows >= 0) {
      val upTo = gdf.df.limit((maxRows + 1).min(Int.MaxValue - 1L).toLong.toInt).count()
      require(upTo <= maxRows,
        s"FlatGeobuf.write is a driver-side single-file export and the frame exceeds " +
        s"$maxRows rows; use writePartitioned or GeoParquet for scale outputs")
    }
    val g = gdf.geometryCol
    val fields = gdf.df.schema.fields.filter(_.name != g)
    val gi = gdf.df.schema.fieldIndex(g)
    val crsCode = gdf.activeCrs.flatMap(graft.crs.CrsTransform.normalizeOpt)
    val bytes = buildFileBytes(fields, gi, gdf.df.collect(), crsCode)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(gdf.df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Distributed writer: one .fgb PER PARTITION, built on executors (no
    * driver collect). Each part carries its own Hilbert-sorted index; the
    * directory reads back with [[read]]. */
  def writePartitioned(gdf: GeoDataFrame, dir: String): Unit = {
    val g = gdf.geometryCol
    val spark = gdf.df.sparkSession
    val fields = gdf.df.schema.fields.filter(_.name != g)
    val gi = gdf.df.schema.fieldIndex(g)
    val crsCode = gdf.activeCrs.flatMap(graft.crs.CrsTransform.normalizeOpt)
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fsDir = new org.apache.hadoop.fs.Path(dir)
    fsDir.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(fsDir)
    gdf.df.rdd.foreachPartition { it =>
      val rows = it.toArray
      if (rows.nonEmpty) {
        val part = org.apache.spark.TaskContext.getPartitionId()
        val bytes = buildFileBytes(fields, gi, rows, crsCode)
        val p = new org.apache.hadoop.fs.Path(dir, f"part-$part%05d.fgb")
        val out = p.getFileSystem(serConf.value).create(p, true)
        try out.write(bytes) finally out.close()
      }
    }
  }

  private def fgbTypeOf(dt: DataType): Int = dt match {
    case BooleanType => CtBool
    case ByteType => CtByte
    case ShortType => CtShort
    case IntegerType => CtInt
    case LongType => CtLong
    case FloatType => CtFloat
    case DoubleType => CtDouble
    case StringType => CtString
    case BinaryType => CtBinary
    case DateType | TimestampType => CtDateTime
    case other => throw new IllegalArgumentException(
      s"FlatGeobuf cannot store attribute type $other; cast it first")
  }

  private def geomTypeCode(g: Geometry): Int = g.getGeometryType match {
    case "Point" => GtPoint
    case "LineString" => GtLineString
    case "Polygon" => GtPolygon
    case "MultiPoint" => GtMultiPoint
    case "MultiLineString" => GtMultiLineString
    case "MultiPolygon" => GtMultiPolygon
    case "GeometryCollection" => GtGeometryCollection
    case other => throw new IllegalArgumentException(s"unsupported geometry type $other")
  }

  private[io] def buildFileBytes(fields: Array[StructField], geomIdx: Int,
                                 rowsIn: Array[Row], crsCode: Option[Int]): Array[Byte] = {
    val colTypes = fields.map(f => fgbTypeOf(f.dataType))
    // decode geometries once; compute per-feature bbox
    val geoms: Array[Geometry] = rowsIn.map { r =>
      val b = if (r.isNullAt(geomIdx)) null else r.getAs[Array[Byte]](geomIdx)
      if (b == null) null else Wkb.read(b)
    }
    var (ex0, ey0, ex1, ey1) = (Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
    val boxes = geoms.map { gm =>
      if (gm == null || gm.isEmpty) (0.0, 0.0, 0.0, 0.0)
      else {
        val e = gm.getEnvelopeInternal
        ex0 = math.min(ex0, e.getMinX); ey0 = math.min(ey0, e.getMinY)
        ex1 = math.max(ex1, e.getMaxX); ey1 = math.max(ey1, e.getMaxY)
        (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
      }
    }
    if (ex0 > ex1) { ex0 = 0; ey0 = 0; ex1 = 0; ey1 = 0 }
    // Hilbert order on bbox centres (level 16, matching the format's packed
    // Hilbert R-tree convention) — locality makes the index selective
    val w = math.max(ex1 - ex0, 1e-12)
    val hgt = math.max(ey1 - ey0, 1e-12)
    val order = Array.range(0, rowsIn.length).sortBy { i =>
      val (x0, y0, x1, y1) = boxes(i)
      val hx = (((x0 + x1) / 2 - ex0) / w * 65535.0).toLong.max(0).min(65535)
      val hy = (((y0 + y1) / 2 - ey0) / hgt * 65535.0).toLong.max(0).min(65535)
      Hilbert.xy2d(16, hx, hy)
    }
    // header geometry type: uniform → that code; mixed → Unknown (0)
    val codes = geoms.filter(_ != null).map(geomTypeCode).distinct
    val headerType = if (codes.length == 1) codes(0) else GtUnknown
    val featureRecs: Array[Array[Byte]] = order.map { i =>
      encodeFeature(rowsIn(i), geoms(i), fields, geomIdx, colTypes, writeType = headerType == GtUnknown)
    }
    val offsets = new Array[Long](featureRecs.length)
    var acc = 0L
    var i = 0
    while (i < featureRecs.length) { offsets(i) = acc; acc += featureRecs(i).length; i += 1 }
    val sortedBoxes = order.map(boxes)
    val index =
      if (rowsIn.nonEmpty) PackedRTree.build(sortedBoxes, offsets, 16) else Array.empty[Byte]
    val header = buildHeader(fields, colTypes, headerType, rowsIn.length,
      if (rowsIn.isEmpty) 0 else 16, (ex0, ey0, ex1, ey1), crsCode,
      hasZ = geoms.exists(g => g != null && graft.geom.Wkb.hasZ(g)),
      hasM = geoms.exists(g => g != null && graft.geom.Wkb.hasM(g)))
    val out = new java.io.ByteArrayOutputStream(
      8 + 4 + header.length + index.length + acc.toInt)
    out.write(Magic)
    out.write(Array[Byte]((header.length & 0xff).toByte, ((header.length >> 8) & 0xff).toByte,
      ((header.length >> 16) & 0xff).toByte, ((header.length >> 24) & 0xff).toByte))
    out.write(header)
    out.write(index)
    featureRecs.foreach(out.write)
    out.toByteArray
  }

  /** Header fields (spec header.fbs): name=0, envelope=1, geometry_type=2,
    * has_z=3, has_m=4, has_t=5, has_tm=6, columns=7, features_count=8,
    * index_node_size=9, crs=10. */
  private def buildHeader(fields: Array[StructField], colTypes: Array[Int], geomType: Int,
                          count: Int, nodeSize: Int,
                          env: (Double, Double, Double, Double),
                          crsCode: Option[Int], hasZ: Boolean = false,
                          hasM: Boolean = false): Array[Byte] = {
    val b = new FlatBuf.Builder(512)
    val colOffs = fields.zip(colTypes).map { case (f, t) =>
      val nameOff = b.createString(f.name)
      b.startTable(2)
      b.slotOffset(0, nameOff)
      b.slotByte(1, t.toByte, 0)
      b.endTable()
    }
    val colsVec = b.createOffsetVector(colOffs)
    val crsOff = crsCode.map { code =>
      val orgOff = b.createString("EPSG")
      b.startTable(6)
      b.slotOffset(0, orgOff)
      b.slotInt(1, code, 0)
      b.endTable()
    }.getOrElse(0)
    val envVec = b.createDoubleVector(Array(env._1, env._2, env._3, env._4))
    val nameOff = b.createString("layer")
    b.startTable(11)
    b.slotOffset(0, nameOff)
    b.slotOffset(1, envVec)
    b.slotByte(2, geomType.toByte, 0)
    b.slotByte(3, (if (hasZ) 1 else 0).toByte, 0) // spec header.fbs has_z
    b.slotByte(4, (if (hasM) 1 else 0).toByte, 0) // spec header.fbs has_m
    b.slotOffset(7, colsVec)
    b.slotLong(8, count.toLong, 0L)
    b.slotShort(9, nodeSize.toShort, 16)
    b.slotOffset(10, crsOff)
    b.finish(b.endTable())
  }

  private def encodeFeature(row: Row, geom: Geometry, fields: Array[StructField],
                            geomIdx: Int, colTypes: Array[Int], writeType: Boolean): Array[Byte] = {
    val b = new FlatBuf.Builder(256)
    val geomOff = if (geom == null) 0 else writeGeometry(b, geom, writeType)
    val props = encodeProps(row, fields, geomIdx, colTypes)
    val propsOff = if (props.length > 0) b.createByteVector(props) else 0
    b.startTable(3)
    b.slotOffset(0, geomOff)
    b.slotOffset(1, propsOff)
    val body = b.finish(b.endTable())
    val out = new Array[Byte](4 + body.length)
    out(0) = (body.length & 0xff).toByte
    out(1) = ((body.length >> 8) & 0xff).toByte
    out(2) = ((body.length >> 16) & 0xff).toByte
    out(3) = ((body.length >> 24) & 0xff).toByte
    System.arraycopy(body, 0, out, 4, body.length)
    out
  }

  private def writeGeometry(b: FlatBuf.Builder, g: Geometry, withType: Boolean): Int = {
    val code = geomTypeCode(g)
    code match {
      case GtMultiPolygon | GtGeometryCollection =>
        val parts = Array.tabulate(g.getNumGeometries)(i =>
          writeGeometry(b, g.getGeometryN(i), withType = true))
        val pv = b.createOffsetVector(parts)
        b.startTable(8)
        b.slotByte(6, code.toByte, 0)
        b.slotOffset(7, pv)
        b.endTable()
      case _ =>
        val (cs, ends) = flatCoords(g)
        val endsOff = if (ends.length > 1) b.createIntVector(ends) else 0
        val xyOff = b.createDoubleVector(cs.flatMap(c => Array(c.x, c.y)))
        // spec z vector: emitted only when the linework carries Z (absent Z
        // in a mixed sequence becomes 0, like GDAL's 2.5D promotion)
        val zOff =
          if (cs.exists(c => !java.lang.Double.isNaN(c.getZ)))
            b.createDoubleVector(cs.map(c =>
              if (java.lang.Double.isNaN(c.getZ)) 0.0 else c.getZ))
          else 0
        val mOff =
          if (cs.exists(c => !java.lang.Double.isNaN(c.getM)))
            b.createDoubleVector(cs.map(c =>
              if (java.lang.Double.isNaN(c.getM)) 0.0 else c.getM))
          else 0
        b.startTable(8)
        b.slotOffset(0, endsOff)
        b.slotOffset(1, xyOff)
        b.slotOffset(2, zOff)
        b.slotOffset(3, mOff)
        if (withType) b.slotByte(6, code.toByte, 0)
        b.endTable()
    }
  }

  /** Flattened coordinates + cumulative per-part end indices (in pairs). */
  private def flatCoords(g: Geometry): (Array[Coordinate], Array[Int]) = g.getGeometryType match {
    case "Point" | "LineString" | "MultiPoint" =>
      val cs = g.getCoordinates
      (cs, Array(cs.length))
    case "Polygon" =>
      val p = g.asInstanceOf[org.locationtech.jts.geom.Polygon]
      val rings: Array[Array[Coordinate]] =
        Array(p.getExteriorRing.getCoordinates) ++
          Array.tabulate(p.getNumInteriorRing)(i => p.getInteriorRingN(i).getCoordinates)
      flatParts(rings)
    case "MultiLineString" =>
      flatParts(Array.tabulate(g.getNumGeometries)(i => g.getGeometryN(i).getCoordinates))
    case other => throw new IllegalArgumentException(s"flatCoords: $other")
  }

  private def flatParts(parts: Array[Array[Coordinate]]): (Array[Coordinate], Array[Int]) = {
    val cs = parts.flatten
    val ends = new Array[Int](parts.length)
    var acc = 0
    var i = 0
    while (i < parts.length) { acc += parts(i).length; ends(i) = acc; i += 1 }
    (cs, ends)
  }

  private def encodeProps(row: Row, fields: Array[StructField], geomIdx: Int,
                          colTypes: Array[Int]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(64)
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
    def le64(v: Long): Unit = { le32((v & 0xffffffffL).toInt); le32((v >>> 32).toInt) }
    var col = 0
    var ri = 0
    while (ri < row.length) {
      if (ri != geomIdx) {
        if (!row.isNullAt(ri)) {
          le16(col)
          colTypes(col) match {
            case CtBool => bos.write(if (row.getBoolean(ri)) 1 else 0)
            case CtByte => bos.write(row.getByte(ri))
            case CtShort => le16(row.getShort(ri))
            case CtInt => le32(row.getInt(ri))
            case CtLong => le64(row.getLong(ri))
            case CtFloat => le32(java.lang.Float.floatToIntBits(row.getFloat(ri)))
            case CtDouble => le64(java.lang.Double.doubleToLongBits(row.getDouble(ri)))
            case CtString =>
              val sb = row.getString(ri).getBytes(java.nio.charset.StandardCharsets.UTF_8)
              le32(sb.length); bos.write(sb)
            case CtBinary =>
              val bb = row.getAs[Array[Byte]](ri)
              le32(bb.length); bos.write(bb)
            case CtDateTime =>
              val s = row.get(ri) match {
                case d: java.sql.Date => d.toLocalDate.toString
                case t: java.sql.Timestamp => t.toInstant.toString
                case i: java.time.Instant => i.toString
                case l: java.time.LocalDate => l.toString
                case other => other.toString
              }
              val sb = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              le32(sb.length); bos.write(sb)
            case other => throw new IllegalArgumentException(s"encodeProps: type $other")
          }
        }
        col += 1
      }
      ri += 1
    }
    bos.toByteArray
  }

  // --------------------------------------------------------------- helpers

  private def readHead(spark: SparkSession, path: String, maxLen: Int): Array[Byte] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val len = math.min(fs.getFileStatus(p).getLen, maxLen.toLong).toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }
}

/** Packed Hilbert R-tree (the FlatGeobuf spatial index; public spec in the
  * flatgeobuf repo, packedrtree) — 40-byte nodes (4×float64 bbox + uint64
  * offset) stored root-first, leaves last; leaf offsets address features
  * within the feature section, internal offsets index the first child node. */
private[graft] object PackedRTree {
  private val NodeLen = 40

  /** (start, end) node-index bounds per level; index 0 = leaves,
    * last = root. */
  private[io] def levelBounds(numItems: Int, nodeSize: Int): Array[(Int, Int)] = {
    require(numItems > 0 && nodeSize >= 2)
    var n = numItems
    var numNodes = n
    val levelNumNodes = scala.collection.mutable.ArrayBuffer(n)
    while (n != 1) {
      n = (n + nodeSize - 1) / nodeSize
      numNodes += n
      levelNumNodes += n
    }
    var acc = numNodes
    levelNumNodes.map { size => acc -= size; (acc, acc + size) }.toArray
  }

  def sizeBytes(numItems: Int, nodeSize: Int): Int = {
    val lb = levelBounds(numItems, nodeSize)
    lb(0)._2 * NodeLen
  }

  /** Build the index over Hilbert-sorted items (bbox + feature byte
    * offset). */
  def build(boxes: Array[(Double, Double, Double, Double)], offsets: Array[Long],
            nodeSize: Int): Array[Byte] = {
    val lb = levelBounds(boxes.length, nodeSize)
    val numNodes = lb(0)._2
    val buf = java.nio.ByteBuffer.allocate(numNodes * NodeLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def putNode(i: Int, x0: Double, y0: Double, x1: Double, y1: Double, off: Long): Unit = {
      val p = i * NodeLen
      buf.putDouble(p, x0); buf.putDouble(p + 8, y0)
      buf.putDouble(p + 16, x1); buf.putDouble(p + 24, y1)
      buf.putLong(p + 32, off)
    }
    // leaves
    val (leafStart, _) = lb(0)
    var i = 0
    while (i < boxes.length) {
      val (x0, y0, x1, y1) = boxes(i)
      putNode(leafStart + i, x0, y0, x1, y1, offsets(i))
      i += 1
    }
    // parents, bottom-up: offset = index of first child node
    var lvl = 0
    while (lvl < lb.length - 1) {
      val (cs, ce) = lb(lvl)
      val (ps, _) = lb(lvl + 1)
      var pos = cs
      var newPos = ps
      while (pos < ce) {
        val end = math.min(pos + nodeSize, ce)
        var (x0, y0, x1, y1) = (Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
        var c = pos
        while (c < end) {
          val p = c * NodeLen
          x0 = math.min(x0, buf.getDouble(p)); y0 = math.min(y0, buf.getDouble(p + 8))
          x1 = math.max(x1, buf.getDouble(p + 16)); y1 = math.max(y1, buf.getDouble(p + 24))
          c += 1
        }
        putNode(newPos, x0, y0, x1, y1, pos.toLong)
        pos = end
        newPos += 1
      }
      lvl += 1
    }
    buf.array()
  }

  /** Feature byte offsets (within the feature section) of all leaves whose
    * bbox intersects the query rectangle. `base` = absolute index start. */
  def search(bytes: Array[Byte], base: Int, numItems: Int, nodeSize: Int,
             qx0: Double, qy0: Double, qx1: Double, qy1: Double): Array[Int] = {
    val lb = levelBounds(numItems, nodeSize)
    val numNodes = lb(0)._2
    val leafStart = lb(0)._1
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    val queue = scala.collection.mutable.Queue((0, lb.length - 1))
    while (queue.nonEmpty) {
      val (nodeIndex, level) = queue.dequeue()
      val isLeaf = nodeIndex >= numNodes - numItems
      val end = math.min(nodeIndex + nodeSize, lb(level)._2)
      var pos = nodeIndex
      while (pos < end) {
        val p = base + pos * NodeLen
        val nx0 = buf.getDouble(p); val ny0 = buf.getDouble(p + 8)
        val nx1 = buf.getDouble(p + 16); val ny1 = buf.getDouble(p + 24)
        if (!(qx1 < nx0 || qy1 < ny0 || qx0 > nx1 || qy0 > ny1)) {
          val off = buf.getLong(p + 32)
          if (isLeaf) out += off.toInt
          else queue.enqueue((off.toInt, level - 1))
        }
        pos += 1
      }
    }
    out.sorted.toArray
  }
}

package graft.io

import graft.api.GeoDataFrame
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Feather V2 (= Arrow IPC file) IO — reference `read_feather`/`to_feather`
  * (`io/arrow.py:450/812`), which stores the same GeoParquet-style `geo`
  * metadata JSON in the Arrow schema's custom metadata and the geometry as
  * WKB. Implemented on the Arrow Java vectors that ship with Spark — no new
  * dependencies.
  *
  * Scale design: like the other single-file interchange formats, the FILE
  * is the unit of parallelism — `binaryFiles` ships each .feather to an
  * executor, which decodes record batches to rows; the driver reads only
  * the footer schema through a seekable Hadoop channel. Write is the
  * driver-side small-export path (use GeoParquet for big outputs).
  */
object Feather {

  // ------------------------------------------------------------------ read

  def read(spark: SparkSession, path: String,
           columns: Option[Seq[String]] = None,
           bbox: Option[(Double, Double, Double, Double)] = None,
           mask: Option[Array[Byte]] = None,
           where: Option[String] = None): GeoDataFrame = {
    val firstFile = IoFilters.resolvePaths(spark, path, ".feather", ".arrow").headOption.getOrElse(
      throw new IllegalArgumentException(s"no .feather/.arrow files at $path"))
    val (schema, geomCol, crs) = driverSchema(spark, firstFile)

    val schemaB = spark.sparkContext.broadcast(schema)
    val rowsRdd = spark.sparkContext
      .binaryFiles(path, minPartitions = spark.sparkContext.defaultParallelism)
      .filter(f => isFeatherName(f._1))
      .flatMap { case (_, pds) =>
        val bytes = pds.toArray()
        val alloc = new RootAllocator()
        val reader = new ArrowFileReader(
          new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes), alloc)
        val s = schemaB.value
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        try {
          val root = reader.getVectorSchemaRoot
          while (reader.loadNextBatch()) {
            val n = root.getRowCount
            val vecs = s.fields.map(f => root.getVector(f.name))
            var i = 0
            while (i < n) {
              out += Row.fromSeq(vecs.toIndexedSeq.map(v => readValue(v, i)))
              i += 1
            }
          }
        } finally { reader.close(); alloc.close() }
        out.iterator
      }
    val df = spark.createDataFrame(rowsRdd, schema)
    val base = GeoDataFrame(df, geomCol, crs.map(c => Map(geomCol -> c)).getOrElse(Map.empty))
    IoFilters.pruneAndLimit(IoFilters.bboxOrMask(base, bbox, mask), columns, None, where)
  }

  /** Footer schema + geo metadata via a seekable channel — no full read. */
  private def driverSchema(spark: SparkSession, path: String): (StructType, String, Option[String]) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val alloc = new RootAllocator()
    try {
      val reader = new ArrowFileReader(new HadoopSeekableChannel(in, len), alloc)
      try parseArrowSchema(reader.getVectorSchemaRoot.getSchema)
      finally reader.close()
    } finally { in.close(); alloc.close() }
  }

  /** Spark schema + primary geometry column + CRS from an Arrow schema's
    * fields and `geo` custom metadata. */
  private def parseArrowSchema(arrowSchema: Schema): (StructType, String, Option[String]) = {
    val fields = arrowSchema.getFields.asScala.map(f =>
      StructField(f.getName, sparkType(f.getType), nullable = true)).toSeq
    val meta = Option(arrowSchema.getCustomMetadata.get("geo"))
    val parsed = meta.flatMap(m => scala.util.Try(
      graft.functions.GeoJson.parseJson(m).asInstanceOf[Map[String, Any]]).toOption)
    val primary = parsed.flatMap(_.get("primary_column").collect { case s: String => s })
      .getOrElse(fields.find(_.dataType == BinaryType).map(_.name).getOrElse("geometry"))
    val crs = for {
      m <- parsed
      cols <- m.get("columns").collect { case c: Map[String @unchecked, Any @unchecked] => c }
      cm <- cols.get(primary).collect { case c: Map[String @unchecked, Any @unchecked] => c }
      c <- cm.get("crs").collect { case s: String => s }
    } yield c
    (StructType(fields), primary, crs)
  }

  private def readValue(v: FieldVector, i: Int): Any = {
    if (v == null || v.isNull(i)) return null
    v match {
      case x: BigIntVector    => java.lang.Long.valueOf(x.get(i))
      case x: IntVector       => java.lang.Integer.valueOf(x.get(i))
      case x: Float8Vector    => java.lang.Double.valueOf(x.get(i))
      case x: Float4Vector    => java.lang.Float.valueOf(x.get(i))
      case x: BitVector       => java.lang.Boolean.valueOf(x.get(i) != 0)
      case x: VarCharVector   => new String(x.get(i), "UTF-8")
      case x: VarBinaryVector => x.get(i)
      case other => throw new UnsupportedOperationException(
        s"feather vector type ${other.getClass.getSimpleName} not supported")
    }
  }

  private def sparkType(t: ArrowType): DataType = t match {
    case i: ArrowType.Int if i.getBitWidth == 64 => LongType
    case i: ArrowType.Int if i.getBitWidth == 32 => IntegerType
    case f: ArrowType.FloatingPoint if f.getPrecision == FloatingPointPrecision.DOUBLE => DoubleType
    case f: ArrowType.FloatingPoint if f.getPrecision == FloatingPointPrecision.SINGLE => FloatType
    case _: ArrowType.Bool => BooleanType
    case _: ArrowType.Utf8 => StringType
    case _: ArrowType.Binary => BinaryType
    case other => throw new UnsupportedOperationException(s"feather type $other not supported")
  }

  // ----------------------------------------------------------------- write

  /** Distributed writer: one Arrow IPC file per partition, built and
    * written on the executors (no driver collect); the output directory
    * reads back through [[read]]'s multi-file path. */
  def writePartitioned(gdf: GeoDataFrame, dir: String): Unit = {
    val g = gdf.geometryCol
    val sparkSchema = gdf.df.schema
    val crsOpt = gdf.activeCrs
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      gdf.df.sparkSession.sparkContext.hadoopConfiguration)
    val fsDir = new org.apache.hadoop.fs.Path(dir)
    fsDir.getFileSystem(gdf.df.sparkSession.sparkContext.hadoopConfiguration).mkdirs(fsDir)
    val dirStr = dir
    gdf.df.rdd.mapPartitionsWithIndex { (pi, it) =>
      val rows = it.toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val fs = new org.apache.hadoop.fs.Path(dirStr).getFileSystem(serConf.value)
        val target = new org.apache.hadoop.fs.Path(dirStr, f"part-$pi%05d.feather")
        writeRows(rows, sparkSchema, g, crsOpt, fs, target)
        Iterator.single(rows.length.toLong)
      }
    }.sum()
  }

  /** Driver-side export (small results — mirror of the reference's eager
    * single-file to_feather). For big outputs use [[writePartitioned]] or
    * GeoParquet. Geometry stays WKB; `geo` metadata JSON lands in the
    * schema custom metadata. */
  def write(gdf: GeoDataFrame, path: String, maxRows: Long = 5000000L): Unit = {
    // single Arrow-IPC file = driver-collect by nature (format-inherent,
    // like Gpkg.write): guard the collect with a short-circuiting limit so
    // an over-cap frame errors loudly instead of OOMing the driver
    if (maxRows >= 0) {
      val upTo = gdf.df.limit((maxRows + 1).min(Int.MaxValue - 1L).toInt).count()
      require(upTo <= maxRows,
        s"Feather.write is a driver-side single-file export and the frame " +
        s"exceeds $maxRows rows; use Feather.writePartitioned or GeoParquet " +
        s"for scale outputs, or raise maxRows if the driver can hold the data")
    }
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(gdf.df.sparkSession.sparkContext.hadoopConfiguration)
    writeRows(gdf.df.collect(), gdf.df.schema, gdf.geometryCol, gdf.activeCrs, fs, p)
  }

  // ------------------------------------------------------ in-process interop

  /** In-process `to_arrow` (reference `GeoDataFrame.to_arrow`,
    * io/_geoarrow.py:83-168, hands pandas an Arrow table; the JVM-neutral
    * equivalent is the Arrow IPC file image): the frame as IPC bytes with
    * the `geo` schema metadata and WKB geometry — directly consumable by
    * pyarrow (`pa.ipc.open_file`), polars, or DuckDB. Driver-bound by
    * nature, so it carries the same loud row cap as [[write]]. */
  def toArrow(gdf: GeoDataFrame, maxRows: Long = 5000000L): Array[Byte] = {
    if (maxRows >= 0) {
      val upTo = gdf.df.limit((maxRows + 1).min(Int.MaxValue - 1L).toInt).count()
      require(upTo <= maxRows,
        s"Feather.toArrow materializes on the driver and the frame exceeds " +
        s"$maxRows rows; use writePartitioned or GeoParquet for scale " +
        s"outputs, or raise maxRows if the driver can hold the data")
    }
    val bos = new java.io.ByteArrayOutputStream()
    writeRowsToChannel(gdf.df.collect(), gdf.df.schema, gdf.geometryCol, gdf.activeCrs,
      java.nio.channels.Channels.newChannel(bos))
    bos.toByteArray
  }

  /** In-process `from_arrow`: a GeoDataFrame from Arrow IPC bytes, geometry
    * column and CRS restored from the `geo` schema metadata when present
    * (else the first binary column is taken as WKB geometry). */
  def fromArrow(spark: SparkSession, bytes: Array[Byte]): GeoDataFrame = {
    val alloc = new RootAllocator()
    val reader = new ArrowFileReader(
      new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes), alloc)
    try {
      val (schema, geomCol, crs) = parseArrowSchema(reader.getVectorSchemaRoot.getSchema)
      val rows = new java.util.ArrayList[Row]()
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch()) {
        val n = root.getRowCount
        val vecs = schema.fields.map(f => root.getVector(f.name))
        var i = 0
        while (i < n) {
          rows.add(Row.fromSeq(vecs.toIndexedSeq.map(v => readValue(v, i))))
          i += 1
        }
      }
      GeoDataFrame(spark.createDataFrame(rows, schema), geomCol,
        crs.map(c => Map(geomCol -> c)).getOrElse(Map.empty))
    } finally { reader.close(); alloc.close() }
  }

  private def writeRows(rows: Array[Row], sparkSchema: StructType, g: String,
                        activeCrs: Option[String], fs: org.apache.hadoop.fs.FileSystem,
                        target: org.apache.hadoop.fs.Path): Unit =
    writeRowsToChannel(rows, sparkSchema, g, activeCrs,
      java.nio.channels.Channels.newChannel(fs.create(target, true)))

  private def writeRowsToChannel(rows: Array[Row], sparkSchema: StructType, g: String,
                                 activeCrs: Option[String],
                                 ch: java.nio.channels.WritableByteChannel): Unit = {
    val crsJson = activeCrs.map(IoFilters.jsonString).getOrElse("null")
    val geoMeta =
      s"""{"version": "1.1.0", "primary_column": "$g", "columns": {"$g": {
         |"encoding": "WKB", "crs": $crsJson, "edges": "planar"}}}""".stripMargin.replace("\n", " ")
    val arrowFields = sparkSchema.fields.map { f =>
      new Field(f.name, FieldType.nullable(arrowType(f.dataType)), null)
    }
    val schema = new Schema(arrowFields.toSeq.asJava, Map("geo" -> geoMeta).asJava)

    val alloc = new RootAllocator()
    val root = VectorSchemaRoot.create(schema, alloc)
    val writer = new ArrowFileWriter(root, null, ch)
    try {
      writer.start()
      val BatchRows = 8192
      def writeBatch(start: Int, n: Int): Unit = {
        root.allocateNew()
        var c = 0
        while (c < sparkSchema.length) {
          val vec = root.getVector(c)
          var i = 0
          while (i < n) {
            writeValue(vec, i, rows(start + i).get(c))
            i += 1
          }
          vec.setValueCount(n)
          c += 1
        }
        root.setRowCount(n)
        writer.writeBatch()
      }
      if (rows.isEmpty) writeBatch(0, 0)
      else {
        var start = 0
        while (start < rows.length) {
          val n = math.min(BatchRows, rows.length - start)
          writeBatch(start, n)
          start += n
        }
      }
      writer.end()
    } finally { writer.close(); ch.close(); root.close(); alloc.close() }
  }

  private def arrowType(dt: DataType): ArrowType = dt match {
    case LongType    => new ArrowType.Int(64, true)
    case IntegerType => new ArrowType.Int(32, true)
    case DoubleType  => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    case FloatType   => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
    case BooleanType => ArrowType.Bool.INSTANCE
    case StringType  => ArrowType.Utf8.INSTANCE
    case BinaryType  => ArrowType.Binary.INSTANCE
    case other => throw new UnsupportedOperationException(
      s"to_feather does not support column type $other — cast or use GeoParquet")
  }

  private def writeValue(v: FieldVector, i: Int, value: Any): Unit = {
    if (value == null) { v match {
      case x: BigIntVector => x.setNull(i)
      case x: IntVector => x.setNull(i)
      case x: Float8Vector => x.setNull(i)
      case x: Float4Vector => x.setNull(i)
      case x: BitVector => x.setNull(i)
      case x: VarCharVector => x.setNull(i)
      case x: VarBinaryVector => x.setNull(i)
      case _ => ()
    }; return }
    v match {
      case x: BigIntVector    => x.setSafe(i, value.asInstanceOf[Long])
      case x: IntVector       => x.setSafe(i, value.asInstanceOf[Int])
      case x: Float8Vector    => x.setSafe(i, value.asInstanceOf[Double])
      case x: Float4Vector    => x.setSafe(i, value.asInstanceOf[Float])
      case x: BitVector       => x.setSafe(i, if (value.asInstanceOf[Boolean]) 1 else 0)
      case x: VarCharVector   => x.setSafe(i, value.asInstanceOf[String].getBytes("UTF-8"))
      case x: VarBinaryVector => x.setSafe(i, value.asInstanceOf[Array[Byte]])
      case other => throw new UnsupportedOperationException(other.getClass.getSimpleName)
    }
  }

  // --------------------------------------------------------------- helpers

  private def isFeatherName(p: String): Boolean = {
    val l = p.toLowerCase
    l.endsWith(".feather") || l.endsWith(".arrow")
  }

  /** Seekable read channel over a Hadoop input stream (footer reads). */
  private final class HadoopSeekableChannel(in: org.apache.hadoop.fs.FSDataInputStream, len: Long)
      extends java.nio.channels.SeekableByteChannel {
    private var pos = 0L
    private var open = true
    def read(dst: java.nio.ByteBuffer): Int = {
      val want = math.min(dst.remaining().toLong, len - pos).toInt
      if (want <= 0) return -1
      val buf = new Array[Byte](want)
      in.readFully(pos, buf)
      dst.put(buf)
      pos += want
      want
    }
    def write(src: java.nio.ByteBuffer): Int = throw new UnsupportedOperationException
    def position(): Long = pos
    def position(newPosition: Long): java.nio.channels.SeekableByteChannel = { pos = newPosition; this }
    def size(): Long = len
    def truncate(size: Long): java.nio.channels.SeekableByteChannel = throw new UnsupportedOperationException
    def isOpen: Boolean = open
    def close(): Unit = { open = false }
  }
}

package graft.io

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GeoJSON file IO (reference `read_file`/`to_file` for the GeoJSON driver,
  * `io/file.py:197-339/614-794`).
  *
  * Format: newline-delimited GeoJSON Features (one feature per line —
  * streaming/splittable, the cloud-native "GeoJSONSeq" OGR driver), and a
  * whole-file FeatureCollection reader for small interchange files.
  * Properties are read through Spark's JSON schema inference; geometry is
  * decoded from the `geometry` member into WKB.
  */
object GeoJsonIO {

  /** [[read]] with `read_file`-style pushdown args (ref io/file.py:197-339):
    * `bbox` keeps features intersecting it, `mask` keeps features
    * intersecting an arbitrary WKB geometry (mutually exclusive with bbox),
    * `columns` prunes properties (geometry kept), `rows` caps the count. */
  def read(spark: SparkSession, path: String,
           bbox: Option[(Double, Double, Double, Double)],
           columns: Option[Seq[String]] = None,
           rows: Option[Int] = None,
           mask: Option[Array[Byte]] = None,
           where: Option[String] = None): GeoDataFrame = {
    IoFilters.pruneAndLimit(IoFilters.bboxOrMask(read(spark, path), bbox, mask), columns, rows, where)
  }

  /** Read newline-delimited features (or FeatureCollection document files —
    * including pretty-printed ones, which never fit a one-line sniff). */
  def read(spark: SparkSession, path: String): GeoDataFrame = {
    val txt = spark.read.text(path)
    // FC sniff on the first 64 KB of RAW BYTES of the first file — a
    // minified multi-GB FC is one "line", so a line-based sniff would pull
    // the whole document to the driver. Writers in practice emit the
    // required "type":"FeatureCollection" member first (RFC 7946 examples,
    // GDAL, the reference); a document burying it >64 KB deep after the
    // features array is misdetected as ndjson — documented limitation.
    val head = headBytes(spark, path, 1 << 16).trim
    val lines: DataFrame =
      if (isFeatureCollectionHead(head)) {
        // whole-document collection(s): stream-split the features array on
        // EXECUTORS (binaryFiles ships one stream per file; the extractor
        // holds one feature in memory, never the document) — a multi-GB FC
        // no longer lands on the driver, and a directory of FC files
        // parallelizes per file
        val rdd = spark.sparkContext
          .binaryFiles(path, minPartitions = spark.sparkContext.defaultParallelism)
          .flatMap { case (_, pds) => featureIterator(pds.open()) }
        spark.createDataset(rdd)(org.apache.spark.sql.Encoders.STRING).toDF("value")
      } else txt.filter(trim(col("value")) =!= "")

    // one plan: properties via from_json (schema inferred once), geometry
    // decoded from the raw line — rows stay aligned by construction
    val featureSchema = spark.read.json(
      lines.select(col("value")).as(org.apache.spark.sql.Encoders.STRING)).schema
    val parsed = lines
      .withColumn("__f", from_json(col("value"), featureSchema))
      .withColumn("geometry", st_geomfromgeojson(col("value")))
    val hasProps = featureSchema.fields.exists(f => f.name == "properties" &&
      f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    val flat =
      if (hasProps) parsed.select(col("__f.properties.*"), col("geometry"))
      else parsed.drop("__f", "value")
    GeoDataFrame(flat, "geometry", Map("geometry" -> "OGC:CRS84"))
  }

  /** True iff the head holds a document whose TOP-LEVEL `"type"` member is
    * `"FeatureCollection"` — a depth-aware scan, so an ndjson feature whose
    * property value merely contains the string "FeatureCollection" is not
    * misrouted to the document splitter. */
  private[graft] def isFeatureCollectionHead(head: String): Boolean = {
    val n = head.length
    if (n == 0 || head.charAt(0) != '{') return false
    def skipString(from: Int): Int = { // `from` points at the opening quote
      var j = from + 1
      while (j < n) head.charAt(j) match {
        case '\\' => j += 2
        case '"'  => return j + 1
        case _    => j += 1
      }
      n
    }
    var i = 0
    var depth = 0
    while (i < n) head.charAt(i) match {
      case '{' | '[' => depth += 1; i += 1
      case '}' | ']' => depth -= 1; i += 1
      case '"' =>
        val end = skipString(i)
        if (depth == 1 && end > i + 1 && head.substring(i + 1, end - 1) == "type") {
          var j = end
          while (j < n && head.charAt(j).isWhitespace) j += 1
          if (j < n && head.charAt(j) == ':') { // it IS the depth-1 type key
            j += 1
            while (j < n && head.charAt(j).isWhitespace) j += 1
            if (j < n && head.charAt(j) == '"') {
              val vEnd = skipString(j)
              return head.substring(j + 1, math.max(j + 1, vEnd - 1)) == "FeatureCollection"
            }
            return false
          }
        }
        i = end
      case _ => i += 1
    }
    false
  }

  /** First `n` bytes of the first file under `path` (file/dir/glob). */
  private def headBytes(spark: SparkSession, path: String, n: Int): String = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val file =
      if (fs.isDirectory(p))
        fs.listStatus(p).map(_.getPath).filter(_.getName.nonEmpty)
          .filterNot(_.getName.startsWith("_")).sortBy(_.getName).headOption
      else if (fs.exists(p)) Some(p)
      else fs.globStatus(p).map(_.getPath).sorted.headOption
    file.map { f =>
      val len = math.min(fs.getFileStatus(f).getLen, n.toLong).toInt
      val buf = new Array[Byte](len)
      val in = fs.open(f)
      try in.readFully(0, buf) finally in.close()
      new String(buf, "UTF-8")
    }.getOrElse("")
  }

  /** Pull-based extractor of the members of a FeatureCollection's
    * `features` array from a raw JSON byte stream. One pass, O(single
    * feature) memory, no full-document parse; feature text is emitted
    * verbatim (numbers keep their exact source form). Byte-level scanning is
    * UTF-8-safe: every structural char is ASCII and multi-byte sequences
    * never contain ASCII bytes. Closes the stream at end-of-array/EOF. */
  private[io] def featureIterator(raw: java.io.InputStream): Iterator[String] =
    new scala.collection.AbstractIterator[String] {
      private val in = new java.io.BufferedInputStream(raw, 1 << 16)
      private var pending: String = null
      private var done = false
      private var seeking = true

      /** Advance to just past the `[` of the top-level "features" key. */
      private def seekFeaturesArray(): Boolean = {
        var depth = 0
        var inStr = false
        var esc = false
        val str = new StringBuilder
        var lastString: String = null
        var lastKey: String = null
        var c = in.read()
        while (c >= 0) {
          if (inStr) {
            if (esc) esc = false
            else if (c == '\\') esc = true
            else if (c == '"') { inStr = false; lastString = str.toString }
            else str.append(c.toChar)
          } else (c: @annotation.switch) match {
            case '"' => inStr = true; str.clear()
            case ':' => if (depth == 1) lastKey = lastString
            case '{' => depth += 1
            case '[' =>
              if (depth == 1 && lastKey == "features") return true
              depth += 1
            case '}' | ']' => depth -= 1
            case _ => ()
          }
          c = in.read()
        }
        false
      }

      /** Extract the next balanced `{...}` object, or null at `]`/EOF. */
      private def nextObject(): String = {
        var c = in.read()
        while (c >= 0 && c != '{' && c != ']') c = in.read()
        if (c < 0 || c == ']') { in.close(); return null }
        val buf = new java.io.ByteArrayOutputStream(4096)
        buf.write('{')
        var depth = 1
        var inStr = false
        var esc = false
        while (depth > 0) {
          val b = in.read()
          if (b < 0) { in.close(); return null } // truncated document
          buf.write(b)
          if (inStr) {
            if (esc) esc = false
            else if (b == '\\') esc = true
            else if (b == '"') inStr = false
          } else (b: @annotation.switch) match {
            case '"'       => inStr = true
            case '{' | '[' => depth += 1
            case '}' | ']' => depth -= 1
            case _         => ()
          }
        }
        buf.toString("UTF-8")
      }

      def hasNext: Boolean = {
        if (pending == null && !done) {
          if (seeking) { seeking = false; if (!seekFeaturesArray()) { done = true; in.close() } }
          if (!done) {
            pending = nextObject()
            if (pending == null) done = true
          }
        }
        pending != null
      }

      def next(): String = {
        if (!hasNext) throw new NoSuchElementException("end of features array")
        val out = pending; pending = null; out
      }
    }

  private def featureLines(gdf: GeoDataFrame): DataFrame = {
    val g = gdf.geometryCol
    val dataCols = gdf.df.columns.filter(_ != g)
    val propsJson = to_json(struct(dataCols.map(col): _*))
    gdf.df.select(concat(
      lit("""{"type":"Feature","properties":"""), propsJson,
      lit(""","geometry":"""), st_asgeojson(col(g)), lit("}")).as("value"))
  }

  /** Write as newline-delimited GeoJSON features (the scalable form).
    * `append = true` adds new part files beside the existing ones —
    * line-delimited JSON is append-able by construction (reference
    * `to_file(..., mode="a")`, io/file.py:614-794). */
  def write(gdf: GeoDataFrame, path: String, append: Boolean = false): Unit =
    featureLines(gdf).write.mode(if (append) "append" else "overwrite").text(path)

  /** Write ONE FeatureCollection document (the reference's default for the
    * `.geojson` driver, `io/file.py:614-794`) — a single-document format,
    * so this is an export path; rows stream through the driver one
    * partition at a time (toLocalIterator), never all at once. */
  def writeFeatureCollection(gdf: GeoDataFrame, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(gdf.df.sparkSession.sparkContext.hadoopConfiguration)
    val out = new java.io.BufferedOutputStream(fs.create(p, true), 1 << 16)
    try {
      out.write("""{"type":"FeatureCollection","features":[""".getBytes("UTF-8"))
      val it = featureLines(gdf).toLocalIterator()
      var first = true
      while (it.hasNext) {
        if (!first) out.write(',')
        out.write('\n')
        out.write(it.next().getString(0).getBytes("UTF-8"))
        first = false
      }
      out.write("\n]}".getBytes("UTF-8"))
    } finally out.close()
  }
}

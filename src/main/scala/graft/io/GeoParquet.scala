package graft.io

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GeoParquet-style IO (reference `io/arrow.py:110-937`).
  *
  * Layout written: plain parquet with the geometry column as WKB binary, an
  * optional `bbox` struct column (xmin/ymin/xmax/ymax — the spec's
  * `covering.bbox`), and the GeoParquet `geo` metadata JSON stored as a
  * `_geo_metadata.json` sidecar in the output directory (Spark's parquet
  * writer owns the footer key-value section; the sidecar carries the same
  * spec fields: version, primary_column, per-column encoding /
  * geometry_types / crs / bbox). Reading recognizes both the sidecar and
  * the spec `geo` footer key of externally-produced files.
  *
  * The `bbox` column is the scale path: parquet min/max row-group stats on
  * its leaves mean a bbox query prunes row groups before any IO —
  * the same trick as the reference's `bbox=` parquet pushdown
  * (`io/arrow.py:884-937`), but executed by Spark's scan.
  */
object GeoParquet {

  /** Write a GeoDataFrame as GeoParquet (+ bbox covering column). Sorting by
    * Hilbert distance first makes row-group bbox stats tight, so spatial
    * queries prune most groups — do it when `spatialSort` is set.
    *
    * `footerMetadata = true` additionally embeds the `geo` JSON in each
    * file's parquet footer key-value section (the spec location external
    * readers look at). Spark's writer owns the footer during the job, so
    * this is a post-pass that re-emits each file via parquet-mr's
    * zero-decode `appendFile` — one extra sequential copy per file. Use it
    * for interchange exports; the sidecar (always written) is the
    * zero-extra-IO default the engine itself reads. */
  def write(gdf: GeoDataFrame, path: String, coveringBbox: Boolean = true,
            spatialSort: Boolean = false, numPartitions: Option[Int] = None,
            footerMetadata: Boolean = false, geometryEncoding: String = "WKB",
            mode: String = "overwrite"): Unit = {
    require(mode == "overwrite" || mode == "append",
      s"mode must be 'overwrite' or 'append', got '$mode'")
    val g = gdf.geometryCol
    var df = gdf.df
    // append-mode stored-dataset introspection: does the target already have
    // part files, and if so what sidecar/footer metadata does it carry?
    var appendingToExisting = false
    var storedMeta: Option[Map[String, Any]] = None
    if (mode == "append") {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), gdf.df.sparkSession.sparkContext.hadoopConfiguration)
      val p = new org.apache.hadoop.fs.Path(path)
      if (fs.exists(p) && fs.getFileStatus(p).isDirectory &&
          fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))) {
        appendingToExisting = true
        storedMeta = readMeta(gdf.df.sparkSession, path)
        // appended part files must carry the SAME columns as the stored ones —
        // otherwise readers see whichever footer they sample first and the
        // bbox covering column silently half-exists
        val storedHasBbox = gdf.df.sparkSession.read.parquet(path).columns.contains("bbox")
        require(storedHasBbox == coveringBbox,
          s"append: the stored dataset was written with coveringBbox=$storedHasBbox " +
            s"but this batch uses coveringBbox=$coveringBbox — mixed part-file " +
            "schemas would break the bbox scan prefilter; match the stored layout")
        // CRS must match too: the rewritten sidecar labels the UNION, so an
        // EPSG:3857 batch appended to a 4326 dataset would silently mislabel
        // every stored row (and merge bboxes across incompatible units)
        val storedCrs = storedColMeta(storedMeta, g).flatMap(_.get("crs")).flatMap {
          case s: String => Some(s)
          case null      => None
          case m: Map[String @unchecked, Any @unchecked] =>
            // spec-compliant external writers store a PROJJSON OBJECT:
            // normalize through its EPSG id when present so appending
            // "EPSG:4326" to a PROJJSON-4326 dataset is not falsely refused
            m.get("id").collect { case idm: Map[String @unchecked, Any @unchecked] =>
              (idm.get("authority"), idm.get("code"))
            } match {
              case Some((Some(auth), Some(code))) =>
                val c = code match { case d: Double => d.toLong.toString; case x => x.toString }
                Some(s"$auth:$c")
              case _ => Some(m.toString) // no id: compare structurally
            }
          case other => Some(other.toString)
        }
        val exN = storedCrs.flatMap(graft.crs.CrsTransform.normalizeOpt).orElse(storedCrs)
        val nwN = gdf.activeCrs.flatMap(graft.crs.CrsTransform.normalizeOpt).orElse(gdf.activeCrs)
        if (storedMeta.isDefined)
          require(exN == nwN,
            s"append: CRS ${gdf.activeCrs.getOrElse("unset")} does not match the " +
              s"stored dataset's ${storedCrs.getOrElse("unset")}; to_crs first")
      }
    }
    // ONE stats pass for everything the metadata needs (total bounds +
    // distinct geometry types) — separate totalBounds / distinct scans would
    // read the input three times in total at 100 TB
    val stats = gdf.df
      .select(st_bounds(col(g)).as("__b"),
        // spec geometry_types entries carry a " Z" suffix for 3D
        concat(st_geometrytype(col(g)),
          when(st_hasz(col(g)), lit(" Z")).otherwise(lit(""))).as("__t"))
      .agg(min("__b.xmin"), min("__b.ymin"), max("__b.xmax"), max("__b.ymax"),
        sort_array(collect_set(col("__t"))))
      .head()
    def dbl(i: Int): Double = if (stats.isNullAt(i)) Double.NaN else stats.getDouble(i)
    var (x0, y0, x1, y1) = (dbl(0), dbl(1), dbl(2), dbl(3))
    var types = stats.getSeq[String](4)
    if (appendingToExisting) {
      // keep the sidecar truthful for the UNION: merge the stored bbox and
      // geometry_types with the new batch's
      val colMeta = storedColMeta(storedMeta, g)
      colMeta.flatMap(_.get("bbox")).foreach {
        case Seq(a: Double, b: Double, c: Double, d: Double) =>
          def mrg(nw: Double, old: Double, f: (Double, Double) => Double): Double =
            if (nw.isNaN) old else f(nw, old)
          x0 = mrg(x0, a, math.min); y0 = mrg(y0, b, math.min)
          x1 = mrg(x1, c, math.max); y1 = mrg(y1, d, math.max)
        case _ =>
      }
      colMeta.flatMap(_.get("geometry_types")).foreach {
        case l: Seq[Any @unchecked] => types = (types ++ l.map(_.toString)).distinct.sorted
        case _ =>
      }
      if (storedMeta.isEmpty) {
        // externally-written plain parquet with no sidecar/footer meta: the
        // rewritten sidecar would otherwise claim the NEW batch's bbox/types
        // for the whole union, letting bbox-pruning readers wrongly exclude
        // stored rows. Compute the stored stats from the data instead (one
        // scan of the stored geometry column — append to metadata-less data
        // is the rare interop path, not the hot loop).
        val stored = gdf.df.sparkSession.read.parquet(path)
        require(stored.columns.contains(g) &&
            stored.schema(g).dataType == org.apache.spark.sql.types.BinaryType,
          s"append: stored dataset has no GeoParquet metadata and no WKB binary " +
            s"column '$g' to derive it from; cannot append without mislabeling the union")
        val st = stored
          .select(st_bounds(col(g)).as("__b"),
            concat(st_geometrytype(col(g)),
              when(st_hasz(col(g)), lit(" Z")).otherwise(lit(""))).as("__t"))
          .agg(min("__b.xmin"), min("__b.ymin"), max("__b.xmax"), max("__b.ymax"),
            sort_array(collect_set(col("__t"))))
          .head()
        def sdbl(i: Int): Double = if (st.isNullAt(i)) Double.NaN else st.getDouble(i)
        def mrg(nw: Double, old: Double, f: (Double, Double) => Double): Double =
          if (nw.isNaN) old else if (old.isNaN) nw else f(nw, old)
        x0 = mrg(x0, sdbl(0), math.min); y0 = mrg(y0, sdbl(1), math.min)
        x1 = mrg(x1, sdbl(2), math.max); y1 = mrg(y1, sdbl(3), math.max)
        types = (types ++ st.getSeq[String](4)).distinct.sorted
      }
    }
    val baseTypes = types.map(_.stripSuffix(" Z")).distinct
    if (spatialSort)
      df = df.repartitionByRange(numPartitions.getOrElse(df.rdd.getNumPartitions),
        st_hilbert(col(g), lit(x0), lit(y0), lit(x1), lit(y1), lit(12)))
    if (coveringBbox)
      df = df.withColumn("bbox", st_bounds(col(g)))
    // GeoParquet 1.1 geoarrow encoding (ref to_parquet geometry_encoding=):
    // nested native columns readable by any parquet consumer; requires a
    // single geometry type (the spec's constraint)
    val encoding =
      if (geometryEncoding.equalsIgnoreCase("WKB")) "WKB"
      else if (geometryEncoding.equalsIgnoreCase("geoarrow")) {
        require(baseTypes.length == 1, s"geoarrow encoding requires one geometry type, found: ${types.mkString(", ")}")
        GeoArrowCodec.encodingFor(baseTypes.head).getOrElse(throw new IllegalArgumentException(
          s"geometry type ${baseTypes.head} has no geoarrow encoding"))
      } else geometryEncoding.toLowerCase
    if (appendingToExisting) {
      // encoding must match the stored part files: appending WKB binary to a
      // geoarrow-encoded dataset (or vice versa) writes mixed part-file
      // schemas that break every subsequent read
      val storedEnc = storedColMeta(storedMeta, g).flatMap(_.get("encoding"))
        .map(_.toString)
        .getOrElse("WKB") // metadata-less stored data is plain WKB (checked above)
      require(storedEnc.equalsIgnoreCase(encoding),
        s"append: geometry encoding '$encoding' does not match the stored " +
          s"dataset's '$storedEnc' — mixed part-file schemas break reads; " +
          "match the stored encoding")
    }
    if (encoding != "WKB")
      df = df.withColumn(g, GeoArrowCodec.fromWkb(encoding, col(g)))
    df.write.mode(mode).parquet(path)

    val crsJson = gdf.activeCrs.map(IoFilters.jsonString).getOrElse("null")
    // empty / all-null-geometry frames have NaN bounds — NaN is not a JSON
    // token, so the bbox member is omitted rather than corrupting the doc
    val bboxJson =
      if (Seq(x0, y0, x1, y1).exists(_.isNaN)) ""
      else s""""bbox": [$x0, $y0, $x1, $y1],"""
    val meta =
      s"""{"version": "1.1.0", "primary_column": "$g", "columns": {"$g": {
         |"encoding": "$encoding", "geometry_types": [${types.map("\"" + _ + "\"").mkString(", ")}],
         |"crs": $crsJson, $bboxJson
         |${if (coveringBbox) "\"covering\": {\"bbox\": {\"xmin\": [\"bbox\", \"xmin\"], \"ymin\": [\"bbox\", \"ymin\"], \"xmax\": [\"bbox\", \"xmax\"], \"ymax\": [\"bbox\", \"ymax\"]}}," else ""}
         |"edges": "planar"}}}""".stripMargin.replace("\n", " ")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), gdf.df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_geo_metadata.json"), true)
    out.write(meta.getBytes("UTF-8"))
    out.close()
    if (footerMetadata) embedFooterMetadata(gdf.df.sparkSession, path, meta)
  }

  /** Embed the `geo` key into every part file's footer key-value metadata
    * (spec location). parquet-mr's `appendFile` copies row groups as raw
    * bytes — no decode/re-encode — then `end()` writes a footer carrying
    * the original key-values plus `geo`. */
  def embedFooterMetadata(spark: SparkSession, path: String, geoJson: String): Unit = {
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), conf)
    val dir = new org.apache.hadoop.fs.Path(path)
    val parts = fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    parts.foreach { src =>
      val in = HadoopInputFile.fromPath(src, conf)
      val reader = ParquetFileReader.open(in)
      val fmd = reader.getFooter.getFileMetaData
      val schema = fmd.getSchema
      val kv = new java.util.HashMap[String, String](fmd.getKeyValueMetaData)
      reader.close()
      kv.put("geo", geoJson)
      val tmp = new org.apache.hadoop.fs.Path(src.getParent, "." + src.getName + ".geo_tmp")
      val writer = new ParquetFileWriter(HadoopOutputFile.fromPath(tmp, conf), schema,
        ParquetFileWriter.Mode.OVERWRITE, 128L * 1024 * 1024, 0)
      writer.start()
      writer.appendFile(in)
      writer.end(kv)
      fs.delete(src, false)
      fs.rename(tmp, src)
    }
  }

  /** Read GeoParquet: restores the primary geometry column + CRS from the
    * sidecar or, for external files, the parquet footer `geo` key. Columns
    * with a GeoParquet 1.1 geoarrow encoding (`point`, `linestring`,
    * `polygon`, `multi*` — nested native arrays instead of WKB) are decoded
    * to the engine's WKB representation; Spark reads the nested parquet
    * natively, so the conversion is one column expression. */
  def read(spark: SparkSession, path: String): GeoDataFrame = {
    val df = spark.read.parquet(path)
    val meta = readMeta(spark, path)
    val primary = meta.flatMap(m => m.get("primary_column").collect { case s: String => s })
      .getOrElse(if (df.columns.contains("geometry")) "geometry" else df.columns.last)
    val colMeta = for {
      m <- meta
      cols <- m.get("columns").collect { case c: Map[String @unchecked, Any @unchecked] => c }
      cm <- cols.get(primary).collect { case c: Map[String @unchecked, Any @unchecked] => c }
    } yield cm
    val crs = colMeta.flatMap(_.get("crs").collect { case s: String => s })
    val encoding = colMeta.flatMap(_.get("encoding").collect { case s: String => s })
      .getOrElse("WKB")
    val decoded =
      if (encoding.equalsIgnoreCase("WKB")) df
      else df.withColumn(primary, GeoArrowCodec.toWkb(encoding, col(primary)))
    GeoDataFrame(decoded, primary, crs.map(c => Map(primary -> c)).getOrElse(Map.empty))
  }

  /** Bbox-filtered read: the filter lands on the bbox struct leaves so
    * Catalyst pushes it into the parquet scan (row-group stats pruning). */
  def readBbox(spark: SparkSession, path: String,
               xmin: Double, ymin: Double, xmax: Double, ymax: Double): GeoDataFrame = {
    val gdf = read(spark, path)
    val df = gdf.df
    val pre =
      if (df.columns.contains("bbox"))
        df.filter(col("bbox.xmin") <= xmax && col("bbox.xmax") >= xmin &&
          col("bbox.ymin") <= ymax && col("bbox.ymax") >= ymin)
      else df
    // exact refine (bbox column may be absent or coarser than the geometry)
    import graft.geom.{GeomOps, Wkb}
    val exact = pre.filter(st_intersects(col(gdf.geometryCol),
      lit(Wkb.write(GeomOps.makeBox(xmin, ymin, xmax, ymax)))))
    gdf.copy(df = exact)
  }

  /** Mask-filtered read (ref read_file(mask=geometry), io/file.py:197-239):
    * the mask's ENVELOPE lands on the bbox covering column — ordinary
    * comparisons Catalyst pushes into the parquet scan for row-group
    * pruning — and survivors pay the exact intersects refine against the
    * full mask geometry. */
  def readMask(spark: SparkSession, path: String, maskWkb: Array[Byte]): GeoDataFrame = {
    val gdf = read(spark, path)
    val env = graft.geom.Wkb.read(maskWkb).getEnvelopeInternal
    val pre =
      if (gdf.df.columns.contains("bbox"))
        gdf.df.filter(col("bbox.xmin") <= env.getMaxX && col("bbox.xmax") >= env.getMinX &&
          col("bbox.ymin") <= env.getMaxY && col("bbox.ymax") >= env.getMinY)
      else gdf.df
    gdf.copy(df = pre.filter(st_intersects(col(gdf.geometryCol), lit(maskWkb))))
  }

  /** The per-column metadata map for `g` inside a parsed `geo` document. */
  private def storedColMeta(meta: Option[Map[String, Any]],
                            g: String): Option[Map[String, Any]] =
    meta.flatMap(_.get("columns"))
      .collect { case mm: Map[String @unchecked, Any @unchecked] => mm }
      .flatMap(_.get(g))
      .collect { case mm: Map[String @unchecked, Any @unchecked] => mm }

  private def readMeta(spark: SparkSession, path: String): Option[Map[String, Any]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), conf)
    val sidecar = new org.apache.hadoop.fs.Path(path, "_geo_metadata.json")
    if (fs.exists(sidecar)) {
      val in = fs.open(sidecar)
      val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      in.close()
      parseJsonObj(new String(bytes, "UTF-8"))
    } else {
      // spec-compliant external file: `geo` key in the parquet footer
      val p = new org.apache.hadoop.fs.Path(path)
      val file =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).map(_.getPath).find(_.getName.endsWith(".parquet"))
        else Some(p)
      file.flatMap { f =>
        try {
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
          val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData
          reader.close()
          Option(kv.get("geo")).flatMap(parseJsonObj)
        } catch { case _: Exception => None }
      }
    }
  }

  private def parseJsonObj(s: String): Option[Map[String, Any]] =
    try graft.functions.GeoJson.parseJson(s) match {
      case m: Map[String @unchecked, Any @unchecked] => Some(m)
      case _                                         => None
    } catch { case _: Exception => None }
}

package graft.io

import graft.api.GeoDataFrame
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** GeoPackage (GPKG) reader — the reference reads it through GDAL/OGR
  * (`geopandas/io/file.py:197-339`; `tests/test_file.py` round-trips the
  * format); this is an independent pure-JVM implementation of the published
  * GeoPackage spec (www.geopackage.org/spec/) on top of [[Sqlite]].
  *
  * Scale design mirrors [[Shapefile]]: a .gpkg is a single-file interchange
  * format, so the FILE is the unit of parallelism — `binaryFiles`
  * distributes whole files to executors for row parsing (SQLite pages are
  * not splittable without the b-tree), while the driver reads only the
  * metadata tables (a few pages, random-access seeks) for schema, layer
  * list and CRS. A directory of .gpkg files parallelizes per file.
  *
  * Geometry arrives as GPKG binary (8+-byte header + WKB); the header is
  * stripped and the WKB stored as-is. `read_file`-style args: `layer`
  * (default: first feature table in gpkg_contents), plus bbox/mask/
  * columns/rows via [[IoFilters]] semantics.
  */
object Gpkg {

  /** Feature layers declared in gpkg_contents (ref list_layers,
    * io/file.py:867): (table_name, geometry_type_name). */
  def listLayers(spark: SparkSession, path: String): Seq[(String, String)] =
    withDriverSource(spark, path) { src =>
      geometryColumns(src).map { case (t, _, typ, _) => (t, typ) }
    }

  def read(spark: SparkSession, path: String,
           layer: Option[String] = None,
           bbox: Option[(Double, Double, Double, Double)] = None,
           columns: Option[Seq[String]] = None,
           rows: Option[Int] = None,
           mask: Option[Array[Byte]] = None,
           where: Option[String] = None): GeoDataFrame = {
    // driver: schema + CRS from the first file's metadata pages
    val firstFile = IoFilters.resolvePaths(spark, path, ".gpkg").headOption.getOrElse(
      throw new IllegalArgumentException(s"no .gpkg files at $path"))
    val (layerName, geomCol, schema, pkIdx, crs) = withDriverSource(spark, firstFile) { src =>
      val geoCols = geometryColumns(src)
      val chosen = layer.map(l => geoCols.find(_._1 == l).getOrElse(
        throw new IllegalArgumentException(
          s"layer '$l' not in ${geoCols.map(_._1).mkString(", ")}"))).getOrElse(
        geoCols.headOption.getOrElse(
          throw new IllegalArgumentException("no feature layers in gpkg_geometry_columns")))
      val (tbl, gcol, _, srsId) = chosen
      val m = Sqlite.master(src).find(r => r.kind == "table" && r.name == tbl).getOrElse(
        throw new IllegalArgumentException(s"table $tbl missing from sqlite_master"))
      val cols = Sqlite.parseCreateColumns(m.sql)
      val fields = cols.map { case (name, decl) =>
        StructField(name, if (name == gcol) BinaryType else affinity(decl), nullable = true)
      }
      val pk = cols.indexWhere { case (_, decl) =>
        val u = decl.toUpperCase
        u.contains("INTEGER") && u.contains("PRIMARY KEY")
      }
      (tbl, gcol, StructType(fields), pk, crsOf(src, srsId))
    }

    // executors: parse rows from whole-file bytes, one task per file
    val schemaB = spark.sparkContext.broadcast(schema)
    val lname = layerName
    val gcol = geomCol
    val pki = pkIdx
    val rowsRdd = spark.sparkContext
      .binaryFiles(path, minPartitions = spark.sparkContext.defaultParallelism)
      .filter(_._1.toLowerCase.endsWith(".gpkg"))
      .flatMap { case (_, pds) =>
        val src = new Sqlite.ArraySource(pds.toArray())
        val root = Sqlite.master(src).find(r => r.kind == "table" && r.name == lname)
          .map(_.rootPage).getOrElse(0)
        val s = schemaB.value
        if (root == 0) Iterator.empty
        else Sqlite.tableRows(src, root).map { case (rowid, rec) =>
          val vals = new Array[Any](s.length)
          var i = 0
          while (i < s.length) {
            val raw = if (i < rec.length) rec(i) else null
            vals(i) =
              if (i == pki && raw == null) java.lang.Long.valueOf(rowid) // rowid-alias pk
              else coerce(raw, s(i).dataType, isGeom = s(i).name == gcol)
            i += 1
          }
          Row.fromSeq(vals.toIndexedSeq)
        }
      }
    val df = spark.createDataFrame(rowsRdd, schema)
    val base = GeoDataFrame(df, geomCol, crs.map(c => Map(geomCol -> c)).getOrElse(Map.empty))
    IoFilters.pruneAndLimit(IoFilters.bboxOrMask(base, bbox, mask), columns, rows, where)
  }

  // ----------------------------------------------------------------- write

  /** Write a GeoDataFrame as a single-layer GeoPackage (driver-side export
    * path, like [[Shapefile.write]]; use GeoParquet for scale outputs).
    * Emits the spec's required metadata tables, a feature table with
    * `fid INTEGER PRIMARY KEY`, and GPKG binary geometry blobs; the file is
    * built by [[SqliteWriter]] and opens in any SQLite. */
  def write(gdf: GeoDataFrame, path: String, layer: String = "features",
            maxRows: Long = 5000000L): Unit = {
    val g = gdf.geometryCol
    // a .gpkg is ONE SQLite file, so this path is driver-collect by nature
    // (format-inherent; the reference is also single-file). Guard the
    // collect with a short-circuiting limit so an over-cap frame errors
    // instead of OOMing the driver.
    if (maxRows >= 0) {
      val upTo = gdf.df.limit((maxRows + 1).min(Int.MaxValue - 1L).toInt).count()
      require(upTo <= maxRows,
        s"Gpkg.write is a driver-side single-file export and the frame " +
        s"exceeds $maxRows rows; write GeoParquet for scale outputs, or " +
        s"raise maxRows if the driver can hold the data")
    }
    val rows = gdf.df.collect()
    val fields = gdf.df.schema.fields.filter(_.name != g)
    val srsId = gdf.activeCrs.flatMap(graft.crs.CrsTransform.normalizeOpt).getOrElse(0)
    // gpkg_spatial_ref_sys.definition is WKT by spec: upgrade an EPSG-coded
    // label to its canonical WKT when known (same posture as the .prj write)
    val crsDef = gdf.activeCrs.map(graft.crs.CrsTransform.prjText).getOrElse("undefined")

    // geometry type name + envelope over non-null geometries
    val geoms = rows.map(r => Option(r.getAs[Array[Byte]](r.fieldIndex(g)))
      .map(graft.geom.Wkb.read).orNull)
    val typeNames = geoms.filter(_ != null).map(_.getGeometryType.toUpperCase).distinct
    val geomType = if (typeNames.length == 1) typeNames.head else "GEOMETRY"
    // gpkg_geometry_columns z/m: 0 = prohibited, 1 = mandatory, 2 = optional
    def dimFlag(p: org.locationtech.jts.geom.Geometry => Boolean): Long = {
      val present = geoms.filter(gm => gm != null && !gm.isEmpty)
      if (present.nonEmpty && present.forall(p)) 1L
      else if (present.exists(p)) 2L
      else 0L
    }
    val zFlag = dimFlag(graft.geom.Wkb.hasZ)
    val mFlag = dimFlag(graft.geom.Wkb.hasM)
    val env = new org.locationtech.jts.geom.Envelope()
    geoms.foreach(gm => if (gm != null && !gm.isEmpty) env.expandToInclude(gm.getEnvelopeInternal))

    val w = new SqliteWriter()
    def sqlType(dt: org.apache.spark.sql.types.DataType): String = dt match {
      case LongType | IntegerType | ShortType => "INTEGER"
      case DoubleType | FloatType             => "DOUBLE"
      case BooleanType                        => "BOOLEAN"
      case BinaryType                         => "BLOB"
      case _                                  => "TEXT"
    }

    // feature table records: fid = rowid (NULL in record), attrs, geom blob.
    // Only the rowid-alias pk is declared — TEXT/UNIQUE constraints would
    // imply index b-trees this writer does not emit. A pre-existing `fid`
    // column (e.g. from a GPKG read round-trip) BECOMES the rowid instead
    // of colliding with a second auto column.
    val fidIdx = fields.indexWhere(_.name.equalsIgnoreCase("fid"))
    val (attrFields, rowids) =
      if (fidIdx < 0) (fields, rows.indices.map(i => (i + 1).toLong).toArray)
      else {
        val fld = fields(fidIdx)
        require(fld.dataType == LongType || fld.dataType == IntegerType,
          s"existing '${fld.name}' column must be integral to serve as the GPKG primary key")
        val ids = rows.map { r =>
          val ix = r.fieldIndex(fld.name)
          require(!r.isNullAt(ix), s"'${fld.name}' may not be NULL (it becomes the rowid)")
          r.get(ix) match { case l: Long => l; case i: Int => i.toLong }
        }
        require(ids.distinct.length == ids.length,
          s"'${fld.name}' values must be unique (they become the rowids)")
        (fields.patch(fidIdx, Nil, 1), ids)
      }
    val colDefs = Seq("fid INTEGER PRIMARY KEY") ++
      attrFields.map(f => s""""${f.name}" ${sqlType(f.dataType)}""") ++
      Seq(s""""$g" $geomType""")
    val featSql = s"""CREATE TABLE "$layer" (${colDefs.mkString(", ")})"""
    val featRecords = rows.zipWithIndex.map { case (r, i) =>
      val attrs = attrFields.map { f =>
        val idx = r.fieldIndex(f.name)
        if (r.isNullAt(idx)) null else r.get(idx)
      }.toSeq
      val geomBlob = Option(r.getAs[Array[Byte]](r.fieldIndex(g))).map(gpkgBlob(_, srsId)).orNull
      (rowids(i), w.record((null +: attrs) :+ geomBlob))
    }.sortBy(_._1).toSeq // b-tree cells must be in rowid order
    val featRoot = w.buildTable(featRecords)

    val srsSql = "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, srs_id INTEGER NOT NULL PRIMARY KEY, organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL, description TEXT)"
    // the spec's two mandatory undefined entries + the layer's srs; srs_id
    // is the rowid-alias pk, so the record slot stores NULL
    val srsRows = Seq(
      (-1L, Seq("Undefined cartesian SRS", null, "NONE", -1L, "undefined", null)),
      (0L, Seq("Undefined geographic SRS", null, "NONE", 0L, "undefined", null))) ++
      (if (srsId > 0) Seq((srsId.toLong, Seq(s"EPSG:$srsId", null, "EPSG", srsId.toLong, crsDef, null))) else Nil)
    // rowids must ascend in the b-tree: -1 is stored as its own rowid, which
    // sqlite treats as a signed integer — order records by rowid
    val srsRoot = w.buildTable(srsRows.sortBy(_._1).map { case (rid, vals) => (rid, w.record(vals)) })

    val contentsSql = "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL, data_type TEXT NOT NULL, identifier TEXT, description TEXT DEFAULT '', last_change DATETIME, min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)"
    val contentsRoot = w.buildTable(Seq((1L, w.record(Seq(
      layer, "features", layer, "", "2026-01-01T00:00:00.000Z",
      if (env.isNull) null else env.getMinX, if (env.isNull) null else env.getMinY,
      if (env.isNull) null else env.getMaxX, if (env.isNull) null else env.getMaxY,
      srsId.toLong)))))

    val geomColsSql = "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL)"
    val geomColsRoot = w.buildTable(Seq((1L, w.record(Seq(
      layer, g, geomType, srsId.toLong, zFlag, mFlag)))))

    // gpkg_rtree_index extension (spec Annex F.3): GDAL writes it by default
    // and QGIS/ogr consumers expect it for non-trivial layers. Bulk-packed
    // SQLite R-tree over the feature envelopes + the spec's triggers so a
    // GPKG-aware editor keeps the index in sync on later inserts.
    val rtreeName = s"rtree_${layer}_$g"
    val rtreeEntries = rows.indices.flatMap { i =>
      val gm = geoms(i)
      if (gm == null || gm.isEmpty) None
      else {
        val e = gm.getEnvelopeInternal
        Some(RtCell(rowids(i), fDown(e.getMinX), fUp(e.getMaxX), fDown(e.getMinY), fUp(e.getMaxY)))
      }
    }
    val (nodeRecs, rowidToNode, parentPairs) = packRtree(mortonSort(rtreeEntries))
    val nodeSql = s"""CREATE TABLE "${rtreeName}_node" (nodeno INTEGER PRIMARY KEY, data BLOB)"""
    val nodeRoot = w.buildTable(nodeRecs.map { case (no, blob) => (no, w.record(Seq(null, blob))) })
    val ridSql = s"""CREATE TABLE "${rtreeName}_rowid" (rowid INTEGER PRIMARY KEY, nodeno INTEGER)"""
    val ridRoot = w.buildTable(rowidToNode.sortBy(_._1).map { case (rid, no) => (rid, w.record(Seq(null, no))) })
    val parSql = s"""CREATE TABLE "${rtreeName}_parent" (nodeno INTEGER PRIMARY KEY, parentnode INTEGER)"""
    val parRoot = w.buildTable(parentPairs.sortBy(_._1).map { case (c, p) => (c, w.record(Seq(null, p))) })
    val vtabSql = s"""CREATE VIRTUAL TABLE "$rtreeName" USING rtree(id, minx, maxx, miny, maxy)"""

    val extSql = "CREATE TABLE gpkg_extensions (table_name TEXT, column_name TEXT, extension_name TEXT NOT NULL, definition TEXT NOT NULL, scope TEXT NOT NULL)"
    val extRoot = w.buildTable(Seq((1L, w.record(Seq(
      layer, g, "gpkg_rtree_index",
      "http://www.geopackage.org/spec120/#extension_rtree", "write-only")))))

    // spec-mandated maintenance triggers (Annex F.3); they reference the
    // GPKG SQL functions (ST_MinX etc.), which only matter when fired
    def rt(body: String) = body.replace("{R}", rtreeName).replace("{T}", layer)
      .replace("{C}", g).replace("{I}", "fid")
    val triggers = Seq(
      s"${rtreeName}_insert" -> rt("""CREATE TRIGGER "{R}_insert" AFTER INSERT ON "{T}" WHEN (new."{C}" NOT NULL AND NOT ST_IsEmpty(NEW."{C}")) BEGIN INSERT OR REPLACE INTO "{R}" VALUES (NEW."{I}", ST_MinX(NEW."{C}"), ST_MaxX(NEW."{C}"), ST_MinY(NEW."{C}"), ST_MaxY(NEW."{C}")); END"""),
      s"${rtreeName}_update1" -> rt("""CREATE TRIGGER "{R}_update1" AFTER UPDATE OF "{C}" ON "{T}" WHEN OLD."{I}" = NEW."{I}" AND (NEW."{C}" NOTNULL AND NOT ST_IsEmpty(NEW."{C}")) BEGIN INSERT OR REPLACE INTO "{R}" VALUES (NEW."{I}", ST_MinX(NEW."{C}"), ST_MaxX(NEW."{C}"), ST_MinY(NEW."{C}"), ST_MaxY(NEW."{C}")); END"""),
      s"${rtreeName}_update2" -> rt("""CREATE TRIGGER "{R}_update2" AFTER UPDATE OF "{C}" ON "{T}" WHEN OLD."{I}" = NEW."{I}" AND (NEW."{C}" ISNULL OR ST_IsEmpty(NEW."{C}")) BEGIN DELETE FROM "{R}" WHERE id = OLD."{I}"; END"""),
      s"${rtreeName}_update3" -> rt("""CREATE TRIGGER "{R}_update3" AFTER UPDATE ON "{T}" WHEN OLD."{I}" != NEW."{I}" AND (NEW."{C}" NOTNULL AND NOT ST_IsEmpty(NEW."{C}")) BEGIN DELETE FROM "{R}" WHERE id = OLD."{I}"; INSERT OR REPLACE INTO "{R}" VALUES (NEW."{I}", ST_MinX(NEW."{C}"), ST_MaxX(NEW."{C}"), ST_MinY(NEW."{C}"), ST_MaxY(NEW."{C}")); END"""),
      s"${rtreeName}_update4" -> rt("""CREATE TRIGGER "{R}_update4" AFTER UPDATE ON "{T}" WHEN OLD."{I}" != NEW."{I}" AND (NEW."{C}" ISNULL OR ST_IsEmpty(NEW."{C}")) BEGIN DELETE FROM "{R}" WHERE id IN (OLD."{I}", NEW."{I}"); END"""),
      s"${rtreeName}_delete" -> rt("""CREATE TRIGGER "{R}_delete" AFTER DELETE ON "{T}" WHEN old."{C}" NOT NULL BEGIN DELETE FROM "{R}" WHERE id = OLD."{I}"; END"""))

    // sqlite_master (root at page 1): (type, name, tbl_name, rootpage, sql);
    // the rtree virtual table and the triggers carry rootpage 0
    val master =
      Seq(("table", "gpkg_spatial_ref_sys", "gpkg_spatial_ref_sys", srsRoot, srsSql),
        ("table", "gpkg_contents", "gpkg_contents", contentsRoot, contentsSql),
        ("table", "gpkg_geometry_columns", "gpkg_geometry_columns", geomColsRoot, geomColsSql),
        ("table", "gpkg_extensions", "gpkg_extensions", extRoot, extSql),
        ("table", layer, layer, featRoot, featSql),
        ("table", rtreeName, rtreeName, 0, vtabSql),
        ("table", s"${rtreeName}_node", s"${rtreeName}_node", nodeRoot, nodeSql),
        ("table", s"${rtreeName}_rowid", s"${rtreeName}_rowid", ridRoot, ridSql),
        ("table", s"${rtreeName}_parent", s"${rtreeName}_parent", parRoot, parSql)) ++
        triggers.map { case (name, sql) => ("trigger", name, layer, 0, sql) }
    w.buildTable(master.zipWithIndex.map { case ((kind, name, tbl, root, sql), i) =>
      ((i + 1).toLong, w.record(Seq(kind, name, tbl, root.toLong, sql)))
    }, rootAtPage1 = true)

    val bytes = w.finish(applicationId = 0x47504B47, userVersion = 10300)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(gdf.df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  // ----------------------------------------------------------- rtree build

  /** One R-tree entry: feature rowid (or child nodeno on internal levels)
    * plus its float envelope, outward-rounded so the float box always
    * contains the double box (SQLite's own rtreeValueDown/Up posture). */
  private[io] final case class RtCell(id: Long, minx: Float, maxx: Float,
                                      miny: Float, maxy: Float)

  private[io] def fDown(d: Double): Float = {
    val f = d.toFloat; if (f.toDouble > d) Math.nextDown(f) else f
  }
  private[io] def fUp(d: Double): Float = {
    val f = d.toFloat; if (f.toDouble < d) Math.nextUp(f) else f
  }

  /** Morton (Z-order) sort of cells by quantized envelope center — the bulk
    * pack then yields spatially-coherent leaves (STR-style locality). */
  private[io] def mortonSort(cells: IndexedSeq[RtCell]): IndexedSeq[RtCell] = {
    if (cells.length <= 1) return cells
    val minx = cells.map(_.minx).min; val maxx = cells.map(_.maxx).max
    val miny = cells.map(_.miny).min; val maxy = cells.map(_.maxy).max
    def q(v: Double, lo: Double, hi: Double): Long =
      if (hi <= lo) 0L
      else math.min(65535L, math.max(0L, ((v - lo) / (hi - lo) * 65536.0).toLong))
    def interleave(x: Long, y: Long): Long = {
      var r = 0L; var i = 0
      while (i < 16) {
        r |= ((x >> i) & 1L) << (2 * i)
        r |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      r
    }
    cells.sortBy(c => interleave(
      q((c.minx.toDouble + c.maxx) / 2, minx, maxx),
      q((c.miny.toDouble + c.maxy) / 2, miny, maxy)))
  }

  /** Bulk-pack a SQLite R-tree from (already sorted) leaf cells. Node blob
    * format per the public sqlite rtree module: 2-byte depth (meaningful on
    * the root, node 1), 2-byte cell count, then 24-byte cells (int64 id or
    * child nodeno + 4 big-endian floats). Node size is fixed at
    * 4 + 51*24 = 1228 — SQLite discovers it from node 1's blob length at
    * connect and caps capacity at its RTREE_MAXCELLS = 51.
    * Returns (node records, rowid->leaf-node pairs, child->parent pairs). */
  private[io] def packRtree(sorted: IndexedSeq[RtCell]):
      (IndexedSeq[(Long, Array[Byte])], IndexedSeq[(Long, Long)], IndexedSeq[(Long, Long)]) = {
    val MaxCells = 51
    val NodeSize = 4 + MaxCells * 24
    if (sorted.isEmpty) // all geometries null/empty: a single empty leaf root
      return (IndexedSeq((1L, new Array[Byte](NodeSize))), IndexedSeq.empty, IndexedSeq.empty)
    final case class Tmp(cells: IndexedSeq[RtCell], isLeaf: Boolean)
    val nodes = scala.collection.mutable.ArrayBuffer[Tmp]()
    def balancedGroups(cells: IndexedSeq[RtCell]): Iterator[IndexedSeq[RtCell]] = {
      val nGroups = math.max(1, math.ceil(cells.length / MaxCells.toDouble).toInt)
      val per = math.max(1, math.ceil(cells.length / nGroups.toDouble).toInt)
      cells.grouped(per)
    }
    var level: IndexedSeq[Int] = balancedGroups(sorted).map { g =>
      nodes += Tmp(g, isLeaf = true); nodes.length - 1
    }.toIndexedSeq
    var depth = 0
    while (level.length > 1) {
      depth += 1
      // parent cells: id field temporarily carries the child's TMP index
      val parentCells = level.map { ni =>
        val cs = nodes(ni).cells
        RtCell(ni.toLong, cs.map(_.minx).min, cs.map(_.maxx).max,
          cs.map(_.miny).min, cs.map(_.maxy).max)
      }
      level = balancedGroups(parentCells).map { g =>
        nodes += Tmp(g, isLeaf = false); nodes.length - 1
      }.toIndexedSeq
    }
    // final nodenos: root = 1, the rest BFS order from the root
    val rootTmp = level.head
    val order = scala.collection.mutable.ArrayBuffer[Int]()
    val queue = scala.collection.mutable.Queue(rootTmp)
    while (queue.nonEmpty) {
      val t = queue.dequeue(); order += t
      val n = nodes(t)
      if (!n.isLeaf) n.cells.foreach(c => queue.enqueue(c.id.toInt))
    }
    val no = order.zipWithIndex.map { case (t, i) => t -> (i + 1).toLong }.toMap
    val recs = order.map { t =>
      val n = nodes(t)
      val buf = java.nio.ByteBuffer.allocate(NodeSize).order(java.nio.ByteOrder.BIG_ENDIAN)
      buf.putShort(if (t == rootTmp) depth.toShort else 0.toShort)
      buf.putShort(n.cells.length.toShort)
      n.cells.foreach { c =>
        buf.putLong(if (n.isLeaf) c.id else no(c.id.toInt))
        buf.putFloat(c.minx).putFloat(c.maxx).putFloat(c.miny).putFloat(c.maxy)
      }
      (no(t), buf.array())
    }.sortBy(_._1).toIndexedSeq
    val rowidPairs = order.iterator.filter(nodes(_).isLeaf).flatMap { t =>
      nodes(t).cells.map(c => (c.id, no(t)))
    }.toIndexedSeq
    val parentPairs = order.iterator.filterNot(nodes(_).isLeaf).flatMap { t =>
      nodes(t).cells.map(c => (no(c.id.toInt), no(t)))
    }.toIndexedSeq
    (recs, rowidPairs, parentPairs)
  }

  /** Append rows to an existing GeoPackage layer (reference `to_file(...,
    * mode="a")`, io/file.py:614-794): new features take rowids continuing
    * from the current max fid, the attribute schema must match the stored
    * layer, and the file is rebuilt with the union (this writer is a
    * single-pass page builder, so append = read + union + rewrite — same
    * driver-export posture as [[write]]). COST: each call is
    * O(existing + new) — rebuilding also regenerates a fresh rtree, so
    * there is no stale-index hazard, but a loop appending N small batches
    * is quadratic in the total row count. Batch rows and append once; for
    * high-frequency incremental sinks use GeoParquet/FlatGeobuf instead.
    * Creates the file when absent. */
  def append(gdf: GeoDataFrame, path: String, layer: String = "features",
             maxRows: Long = 5000000L): Unit = {
    val spark = gdf.df.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) { write(gdf, path, layer, maxRows); return }

    val existing = read(spark, path, layer = Some(layer))
    val exG = existing.geometryCol
    val newG = gdf.geometryCol
    val exAttrs = existing.df.schema.fields
      .filter(f => f.name != exG && !f.name.equalsIgnoreCase("fid")).map(_.name).toSet
    val newAttrs = gdf.df.schema.fields
      .filter(f => f.name != newG && !f.name.equalsIgnoreCase("fid")).map(_.name).toSet
    require(newAttrs == exAttrs,
      s"append: attribute columns ${newAttrs.mkString(",")} do not match the " +
        s"stored layer's ${exAttrs.mkString(",")}")
    val exCrs = existing.activeCrs.flatMap(graft.crs.CrsTransform.normalizeOpt)
    val newCrs = gdf.activeCrs.flatMap(graft.crs.CrsTransform.normalizeOpt)
    require(newCrs.isEmpty || exCrs == newCrs,
      s"append: CRS ${gdf.activeCrs.getOrElse("")} does not match the stored " +
        s"layer's ${existing.activeCrs.getOrElse("unset")}; to_crs first")

    import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id, row_number}
    import org.apache.spark.sql.expressions.Window
    // max(fid) over a zero-row stored layer is SQL NULL — default to 0 so
    // appending to an empty layer numbers from 1 instead of NPE-ing
    val maxFidRow = existing.df.agg(org.apache.spark.sql.functions.max(col("fid"))).head()
    val maxFid = if (maxFidRow.isNullAt(0)) 0L else maxFidRow.getLong(0)
    // new fids: max + dense 1..n (window over a constant is fine at export
    // scale — this whole path is driver-bound by format nature)
    val numbered = gdf.df
      .withColumn("__mono", monotonically_increasing_id())
      .withColumn("fid", row_number().over(Window.orderBy(col("__mono"))).cast("long") + lit(maxFid))
      .drop("__mono")
    // align to the stored schema: column order, element types, geometry name
    val aligned = numbered.select(existing.df.columns.map { c =>
      if (c == exG) col(newG).cast(BinaryType).as(exG)
      else col(c).cast(existing.df.schema(c).dataType).as(c)
    }.toIndexedSeq: _*)
    val combined = existing.df.unionByName(aligned)
    write(GeoDataFrame(combined, exG, existing.crs), path, layer, maxRows)
  }

  /** GPKG binary header (little-endian, no envelope) + WKB. */
  private def gpkgBlob(wkb: Array[Byte], srsId: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + wkb.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('G'.toByte).put('P'.toByte).put(0.toByte).put(0x01.toByte).putInt(srsId).put(wkb)
    b.array()
  }

  // ------------------------------------------------------------------ meta

  /** gpkg_geometry_columns rows: (table, column, type, srs_id). */
  private def geometryColumns(src: Sqlite.PageSource): Seq[(String, String, String, Long)] = {
    val root = Sqlite.master(src)
      .find(r => r.kind == "table" && r.name == "gpkg_geometry_columns")
      .map(_.rootPage).getOrElse(
        throw new IllegalArgumentException("not a GeoPackage: gpkg_geometry_columns missing"))
    Sqlite.tableRows(src, root).map { case (_, r) =>
      (str(r(0)), str(r(1)), str(r(2)), r(3) match { case l: java.lang.Long => l.longValue(); case _ => 0L })
    }.toSeq
  }

  /** CRS string for a srs_id: "EPSG:n" when the organization is EPSG, else
    * the stored definition WKT (same information the reference restores
    * through pyproj). */
  private def crsOf(src: Sqlite.PageSource, srsId: Long): Option[String] = {
    val rootOpt = Sqlite.master(src)
      .find(r => r.kind == "table" && r.name == "gpkg_spatial_ref_sys").map(_.rootPage)
    rootOpt.flatMap { root =>
      Sqlite.tableRows(src, root).collectFirst {
        // srs_id is an INTEGER PRIMARY KEY → rowid alias: the record slot is
        // NULL and the true value is the rowid
        case (rowid, r) if (r(1) match {
          case l: java.lang.Long => l.longValue() == srsId
          case null              => rowid == srsId
          case _                 => false
        }) =>
          val org = str(r(2))
          val orgId = r(3) match { case l: java.lang.Long => l.longValue(); case _ => srsId }
          if (org != null && org.equalsIgnoreCase("EPSG")) s"EPSG:$orgId" else str(r(4))
      }
    }
  }

  private def str(v: Any): String = v match { case s: String => s; case null => null; case o => o.toString }

  /** SQLite/GPKG declared type → Spark type (SQLite type affinity rules +
    * the GPKG column types table). */
  private[io] def affinity(decl: String): DataType = {
    val u = decl.toUpperCase
    if (u.contains("BOOLEAN")) BooleanType
    else if (u.contains("INT")) LongType
    else if (u.contains("CHAR") || u.contains("CLOB") || u.contains("TEXT") ||
      u.contains("DATE") || u.contains("TIME")) StringType
    else if (u.contains("REAL") || u.contains("FLOA") || u.contains("DOUB")) DoubleType
    else if (u.contains("BLOB") || u.isEmpty) BinaryType
    else BinaryType
  }

  private def coerce(v: Any, dt: DataType, isGeom: Boolean): Any = v match {
    case null => null
    case b: Array[Byte] if isGeom => stripGpkgHeader(b)
    case l: java.lang.Long => dt match {
      case DoubleType  => java.lang.Double.valueOf(l.doubleValue())
      case BooleanType => java.lang.Boolean.valueOf(l.longValue() != 0)
      case StringType  => l.toString
      case _           => l
    }
    case d: java.lang.Double => dt match {
      case LongType   => java.lang.Long.valueOf(d.longValue())
      case StringType => d.toString
      case _          => d
    }
    case s: String => s
    case b: Array[Byte] => b
    case other => other
  }

  /** GPKG binary header (spec §2.1.3): magic "GP", version, flags
    * (bit0 = header little-endian, bits1-3 envelope contents indicator,
    * bit4 empty-geometry), int32 srs_id, optional envelope — then WKB. */
  private[io] def stripGpkgHeader(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 8 || b(0) != 'G' || b(1) != 'P') return b // bare WKB
    val flags = b(3) & 0xff
    val envIndicator = (flags >> 1) & 0x7
    val envBytes = envIndicator match {
      case 0 => 0
      case 1 => 32
      case 2 | 3 => 48
      case 4 => 64
      case _ => 0 // 5-7 invalid per spec
    }
    val wkb = java.util.Arrays.copyOfRange(b, 8 + envBytes, b.length)
    // empty-geometry flag (bit 4): the body still carries WKB of an EMPTY
    // geometry, which is distinct from a missing/NULL one (ref GDAL). Only
    // a headerless empty body degrades to NULL.
    if (wkb.isEmpty) null else wkb
  }

  // --------------------------------------------------------------- helpers

  private def withDriverSource[T](spark: SparkSession, path: String)(f: Sqlite.PageSource => T): T = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val in = fs.open(p)
    try f(new Sqlite.StreamSource(in, fs.getFileStatus(p).getLen))
    finally in.close()
  }
}

package graft.io

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions.st_intersects
import graft.geom.{GeomOps, Wkb}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** Shared `read_file`-style spatial pushdown for the engine's readers
  * (ref io/file.py:197-239: `bbox` and `mask` are mutually exclusive;
  * both keep features INTERSECTING the filter geometry), and the path
  * resolution they share. */
private[io] object IoFilters {

  /** The files a reader reads at `path`, sorted: the file itself, the files
    * in a directory, or a glob's matches, keeping names that end in one of
    * `exts` (lower case, with the dot). A path that names nothing throws
    * `FileNotFoundException` naming it, at the call, not at the first
    * action. */
  def resolvePaths(spark: SparkSession, path: String, exts: String*): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def keep(f: String): Boolean = exts.exists(f.toLowerCase.endsWith)
    if (keep(path) && fs.isFile(p)) Seq(path)
    else {
      val found =
        if (fs.isDirectory(p)) fs.listStatus(p)
        else Option(fs.globStatus(p)).getOrElse( // null: a missing plain path
          throw new java.io.FileNotFoundException(s"no file or directory at $path"))
      found.map(_.getPath.toString).filter(keep).sorted.toSeq
    }
  }

  /** JSON string literal with full escaping — CRS values are often WKT,
    * which is full of double quotes. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  /** Apply `where=` (an ANSI SQL boolean over the attribute columns, ref
    * io/file.py:197-239 OGR SQL restriction), prune to requested columns
    * (geometry always kept) and cap rows — the shared tail of every
    * reader's read_file-style argument handling. `where` runs BEFORE the
    * column prune and row cap, like OGR: the predicate may reference
    * columns that are then pruned away, and `rows` slices the filtered
    * set. On the parquet path the predicate is a plain Catalyst filter, so
    * it reaches PushedFilters; on parsed formats it cuts rows before any
    * shuffle. */
  def pruneAndLimit(base: GeoDataFrame, columns: Option[Seq[String]],
                    rows: Option[Int], where: Option[String] = None): GeoDataFrame = {
    val filtered = where.map(w => base.copy(df = base.df.filter(org.apache.spark.sql.functions.expr(w))))
      .getOrElse(base)
    val pruned = columns.map { cs =>
      val keep = (cs :+ filtered.geometryCol).distinct.filter(filtered.df.columns.contains)
      filtered.copy(df = filtered.df.select(keep.map(col): _*))
    }.getOrElse(filtered)
    rows.map(n => pruned.copy(df = pruned.df.limit(n))).getOrElse(pruned)
  }

  /** Apply at most one of bbox / mask right after parse, before anything
    * shuffles. The mask path prefilters on the mask's envelope first — the
    * envelope test is a cheap rectangle check that discards most rows
    * before the exact JTS predicate runs. */
  def bboxOrMask(base: GeoDataFrame,
                 bbox: Option[(Double, Double, Double, Double)],
                 mask: Option[Array[Byte]]): GeoDataFrame = {
    require(bbox.isEmpty || mask.isEmpty,
      "bbox and mask cannot both be given (ref io/file.py:197-239)")
    val g = base.geometryCol
    bbox.map { case (x0, y0, x1, y1) =>
      base.copy(df = base.df.filter(
        st_intersects(col(g), lit(Wkb.write(GeomOps.makeBox(x0, y0, x1, y1))))))
    }.orElse(mask.map { mwkb =>
      val env = Wkb.read(mwkb).getEnvelopeInternal
      val envWkb = Wkb.write(GeomOps.makeBox(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY))
      base.copy(df = base.df
        .filter(st_intersects(col(g), lit(envWkb)))
        .filter(st_intersects(col(g), lit(mwkb))))
    }).getOrElse(base)
  }
}

package graft.join

import graft.functions.GeoFunctions._
import graft.geom.{GeomOps, Wkb}
import graft.plans.Fence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

/** Clip a geometry DataFrame by a mask — reference `tools/clip.py:42-268`.
  * The mask (a small geometry set or a rectangle) is dissolved on the driver
  * and broadcast as a literal; the clip itself is a filter + per-row
  * intersection, embarrassingly parallel. Fast paths carried over from the
  * reference: 4-tuple rectangle masks use `clip_by_rect` (clip.py:67-99);
  * point inputs skip the exact intersection (clip.py:77-82).
  */
object Clip {

  /** Clip by an arbitrary mask DataFrame (its geometries are unioned first,
    * ref clip.py:214). */
  def clip(df: DataFrame, mask: DataFrame, geom: String = "geometry", maskGeom: String = "geometry",
           keepGeomType: Boolean = false, maxMaskRows: Long = 100000L): DataFrame = {
    // the mask is dissolved on the driver, so its collect is bounded: one
    // job that stops once the mask passes `maxMaskRows` (negative: no cap)
    // or the bytes one collect may ship, instead of letting an over-cap
    // mask OOM the driver
    val maskRows = BroadcastIndex.collectUpTo(mask.select(col(maskGeom)).na.drop(),
      if (maxMaskRows < 0) Long.MaxValue else maxMaskRows)
    require(maskRows.isDefined,
      s"Clip mask exceeds $maxMaskRows rows or the compressed bytes one collect may ship " +
      s"(spark.driver.maxResultSize / (spark.resultGetter.threads + 2)); a clip mask is a small geometry " +
      s"set unioned on the driver — dissolve it first or use overlay() for " +
      s"frame-vs-frame intersection at scale")
    val maskGeoms = maskRows.get.map(_.getBinary(0))
    if (maskGeoms.isEmpty) return df.limit(0)
    val unioned = GeomOps.unionAll(maskGeoms.map(Wkb.read).toSeq)
    clipByGeometry(df, unioned, geom, keepGeomType)
  }

  /** Clip by a rectangle — fast path: ONE UDF pass (one WKB decode per row)
    * doing envelope test + point passthrough + rectangle intersection;
    * returns null for non-intersecting rows, filtered after.
    *
    * The clipped column is fenced ([[Fence]]) before the isNotNull filter:
    * unfenced, PushDownPredicates inlined the UDF into the filter, so every
    * row paid the WKB decode + JTS clip twice (q40's plan read
    * `Filter isnotnull(UDF(...))` under `Project starea(UDF(...))`). A
    * spreadNarrow repartition before the map was tried and measured
    * NEGATIVE here (q40 profile: the exchange shuffles the full WKB
    * payload, ~25 MB, which costs as much wall as the light per-row clip
    * saves — unlike the tokenize/shingle maps where per-row work
    * dominates), so narrow inputs keep their scan layout. */
  def clipByRect(df: DataFrame, xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                 geom: String = "geometry", keepGeomType: Boolean = false): DataFrame = {
    val clipU = udf((b: Array[Byte]) => {
      if (b == null) null
      else {
        val g = Wkb.read(b)
        val env = new org.locationtech.jts.geom.Envelope(xmin, xmax, ymin, ymax)
        if (!g.getEnvelopeInternal.intersects(env)) null
        else g.getGeometryType match {
          case "Point" | "MultiPoint" =>
            if (GeomOps.intersects(g, GeomOps.makeBox(xmin, ymin, xmax, ymax))) b else null
          case _ =>
            val clipped = GeomOps.clipByRect(g, xmin, ymin, xmax, ymax)
            if (clipped.isEmpty) null else Wkb.write(clipped)
        }
      }
    })
    clipWith(df, clipU, geom, keepGeomType)
  }

  def clipByGeometry(df: DataFrame, maskGeometry: Geometry, geom: String,
                     keepGeomType: Boolean): DataFrame = {
    val maskWkb = Wkb.write(maskGeometry)
    // one UDF pass; prepared mask cached per executor for fast intersects
    val clipU = udf((b: Array[Byte]) => {
      if (b == null) null
      else {
        val g = Wkb.read(b)
        val mask = PreparedMaskCache.get(maskWkb)
        if (!mask.prepared.intersects(g)) null
        else g.getGeometryType match {
          case "Point" | "MultiPoint" => b
          case _ =>
            val clipped = GeomOps.intersection(g, mask.geom)
            if (clipped.isEmpty) null else Wkb.write(clipped)
        }
      }
    })
    clipWith(df, clipU, geom, keepGeomType)
  }

  /** With `keepGeomType`, each clipped row keeps only the parts of its own
    * input geometry's family (point, line or polygon), as `Overlay` does. */
  private def clipWith(df: DataFrame, clipU: UserDefinedFunction, geom: String,
                       keepGeomType: Boolean): DataFrame = {
    val input = if (keepGeomType) df.withColumn(DimCol, st_dimension(col(geom))) else df
    val clipped = Fence(input.withColumn(geom, clipU(col(geom)))).filter(col(geom).isNotNull)
    if (!keepGeomType) clipped
    else Fence(clipped.withColumn(geom, st_collection_extract(col(geom), col(DimCol))).drop(DimCol))
      .filter(!st_isempty(col(geom)))
  }

  /** The private column that carries each input row's geometry dimension. */
  private val DimCol = "__graft_dim"

  /** Per-executor cache of the prepared broadcast mask geometry (the clip
    * mask is a plan literal; preparing it once per JVM mirrors the
    * reference's prepared-geometry use in `clip.py:73-75`). */
  private object PreparedMaskCache {
    final class Entry(val geom: Geometry) {
      lazy val prepared: org.locationtech.jts.geom.prep.PreparedGeometry =
        org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(geom)
    }
    private val cache = new java.util.concurrent.ConcurrentHashMap[java.math.BigInteger, Entry]()
    def get(wkb: Array[Byte]): Entry =
      cache.computeIfAbsent(new java.math.BigInteger(wkb), (_: java.math.BigInteger) => new Entry(Wkb.read(wkb)))
  }
}

package graft.streaming

import graft.api.GeoDataFrame
import graft.join.{BroadcastIndex, BroadcastProbe}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming spatial operators — a beyond-reference capability
  * (GeoPandas is batch-only, SURVEY §2.12). Every `st_*` function is a
  * deterministic scalar column function, so plain transforms stream as-is;
  * this adds the two genuinely stateful/relational shapes:
  *
  *  - streaming sjoin: an unbounded stream of geometries joined against a
  *    STATIC layer (points-in-polygons enrichment). The static side is
  *    collected + broadcast once as the same [[graft.join.BroadcastIndex]]
  *    the batch broadcast join uses, and each stream row's probe emits its
  *    matching static rows: a projection of the stream, with no
  *    stream-static join and no shuffle; works in append mode.
  *  - windowed spatial aggregation: watermark + window + any graft
  *    aggregate (st_union_agg, total bounds, counts per cell).
  */
object StreamingGeo {

  /** Enrich a (possibly streaming) DataFrame with matches from a static
    * geometry layer. Returns one row per (stream row, matching static row);
    * rows with no match are kept with nulls when `keepUnmatched`. */
  def sjoinAgainstStatic(stream: DataFrame, static: GeoDataFrame,
                         predicate: String = "intersects",
                         streamGeom: String = "geometry",
                         keepUnmatched: Boolean = false,
                         broadcastThreshold: Long = 2000000L): DataFrame = {
    // the static geometry is emitted under a private name and dropped, so a
    // stream geometry of the same name stays unambiguous; the layer is
    // collected and broadcast, so an over-threshold layer must fail loudly,
    // not OOM the driver (a negative threshold sets no cap)
    val staticGeom = "__graft_static_geom"
    val index = BroadcastIndex.upTo(static.df.withColumnRenamed(static.geometryCol, staticGeom), staticGeom,
      if (broadcastThreshold < 0) Long.MaxValue else broadcastThreshold)
    require(index.isDefined,
      s"sjoinAgainstStatic broadcasts the static layer, which exceeds " +
      s"$broadcastThreshold rows or the compressed bytes one collect may ship; repartition-and-join the stream against " +
      s"it in batch, or raise broadcastThreshold if the driver can hold it")
    BroadcastProbe.join(stream, streamGeom, index.get, BroadcastProbe.Predicate(predicate, buildIsRight = true, 0.0),
      keepUnmatched).drop(staticGeom)
  }

  /** Per-window, per-grid-cell aggregation of a streaming point set:
    * watermark + tumbling window + cell id from the geometry. */
  def windowedCellCounts(stream: DataFrame, tsCol: String, streamGeom: String,
                         cellSize: Double, windowLength: String,
                         watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.GeoFunctions.st_bounds
    stream
      .withWatermark(tsCol, watermark)
      .withColumn("__b", st_bounds(col(streamGeom)))
      .withColumn("cell_x", floor((col("__b.xmin") + col("__b.xmax")) / (2 * cellSize)))
      .withColumn("cell_y", floor((col("__b.ymin") + col("__b.ymax")) / (2 * cellSize)))
      .groupBy(window(col(tsCol), windowLength), col("cell_x"), col("cell_y"))
      .agg(count(lit(1)).as("n"))
  }
}

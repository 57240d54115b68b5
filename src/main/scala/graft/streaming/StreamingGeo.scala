package graft.streaming

import graft.api.GeoDataFrame
import graft.geom.Wkb
import graft.join.{BroadcastTreeCache, SpatialJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming spatial operators — a beyond-reference capability
  * (GeoPandas is batch-only, SURVEY §2.12). Every `st_*` function is a
  * deterministic scalar column function, so plain transforms stream as-is;
  * this adds the two genuinely stateful/relational shapes:
  *
  *  - streaming sjoin: an unbounded stream of geometries joined against a
  *    STATIC layer (points-in-polygons enrichment). The static side is
  *    collected + broadcast once and probed per micro-batch via the same
  *    executor-cached STRtree the batch broadcast join uses — no shuffle of
  *    the stream, works in append mode.
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
    val staticGeom = static.geometryCol
    // same guard as SpatialJoin: the static layer is collected + broadcast,
    // so an over-threshold layer must fail loudly, not OOM the driver.
    // limit(cap+1).count() short-circuits — no full count of a huge layer.
    if (broadcastThreshold >= 0) {
      val upTo = static.df.limit((broadcastThreshold + 1).min(Int.MaxValue - 1L).toInt).count()
      require(upTo <= broadcastThreshold,
        s"sjoinAgainstStatic broadcasts the static layer, which exceeds " +
        s"$broadcastThreshold rows; repartition-and-join the stream against " +
        s"it in batch, or raise broadcastThreshold if the driver can hold it")
    }
    // the static layer runs once: its collected rows feed the STRtree and,
    // keyed by position, the batch side of the stream-static join (an id
    // stamp is rejected by the streaming unsupported-operations checker)
    val side = new SpatialJoin.BroadcastBuild(static.df, staticGeom, reread = false)
    val bc = side.index
    val bcId = bc.id
    val pred = predicate

    val matchU = udf((g: Array[Byte]) =>
      if (g == null) Array.empty[Long]
      else {
        val idx = BroadcastTreeCache.get(bcId, bc.value)
        idx.matching(pred, Wkb.read(g), buildIsRight = true, 0.0).map(idx.ids(_))
      })

    // explode(probe) runs the probe once per row (see SpatialJoin.broadcastJoin)
    val probe = matchU(col(streamGeom))
    stream.select(col("*"), (if (keepUnmatched) explode_outer(probe) else explode(probe)).as(SpatialJoin.BuildId))
      .join(broadcast(side.keyed.drop(staticGeom)), Seq(SpatialJoin.BuildId),
        if (keepUnmatched) "left" else "inner")
      .drop(SpatialJoin.BuildId)
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

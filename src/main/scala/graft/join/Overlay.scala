package graft.join

import graft.functions.GeoFunctions._
import graft.agg.GeoAggregates
import graft.geom.{GeomOps, Wkb}
import graft.plans.Fence
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Set-operation overlay of two geometry DataFrames — reference
  * `tools/overlay.py:36-454`. All 5 modes are compositions of the spatial
  * join + pairwise geometry ops, exactly as the reference composes them
  * (`_overlay_union` = intersection ⊕ symmetric_difference, etc.), but each
  * building block is a distributed Spark plan:
  *
  *  - intersection: sjoin(intersects) pairs → `st_intersection`
  *  - difference:   per-left-row `reduce(difference)` over all intersecting
  *    right geometries (`_overlay_difference`, overlay.py:88-111) →
  *    groupBy(left id).agg(st_union_agg(right)) then one `st_difference`
  *  - identity / symmetric_difference / union: compositions via unionByName
  */
object Overlay {

  val Hows: Set[String] = Set("intersection", "union", "identity", "symmetric_difference", "difference")

  /** With `keepGeomType`, each result row keeps only the parts of the
    * geometry family (point, line or polygon) that GeoPandas would keep. A
    * row that comes from `df1` keeps the family of its own `df1` geometry as
    * given, before `make_valid`, so what the repair makes of a row does not
    * change how the row is filtered. Only the rows that come from
    * `df2` (in `union` and `symmetric_difference`) take the family of the
    * first non-null `df1` geometry, read by one `limit(1)` job. GeoPandas
    * refuses a `df1` that mixes families (`overlay.py:303-308`); here such a
    * `df1` is accepted and each of its rows keeps its own family. */
  def overlay(df1: DataFrame, df2: DataFrame, how: String = "intersection",
              geom1: String = "geometry", geom2: String = "geometry",
              keepGeomType: Boolean = true,
              broadcastThreshold: Long = 2000000L): DataFrame = {
    require(Hows.contains(how), s"how must be one of $Hows")
    // make_valid preprocessing (ref overlay.py:329-364), after each df1 row
    // has noted its geometry's dimension
    val a = (if (keepGeomType) df1.withColumn(DimCol, st_dimension(col(geom1))) else df1)
      .withColumn(geom1, st_make_valid(col(geom1)))
    val b = df2.withColumn(geom2, st_make_valid(col(geom2)))
    // every join of this call shares what its broadcast builds learn, so a
    // frame found over the threshold is not tried again
    val ov = SpatialJoin.Oversized(scala.collection.mutable.Set.empty, "df1", "df2")
    val bt = broadcastThreshold

    val result = how match {
      case "intersection"         => intersectionPart(a, b, geom1, geom2, bt, ov)
      case "difference"           => differencePart(a, b, geom1, geom2, bt, ov)
      case "symmetric_difference" => symDiffPart(a, b, geom1, geom2, bt, ov)
      case "identity" =>
        unionAligned(intersectionPart(a, b, geom1, geom2, bt, ov), differencePart(a, b, geom1, geom2, bt, ov))
      case "union" =>
        unionAligned(intersectionPart(a, b, geom1, geom2, bt, ov), symDiffPart(a, b, geom1, geom2, bt, ov))
    }
    // `geom1` is the parts' computed JTS result: behind the Fence these
    // filters read the column instead of re-running the op per predicate
    val nonEmpty = Fence(result).filter(!st_isempty(col(geom1)) && col(geom1).isNotNull)
    if (keepGeomType) {
      val dim =
        if (how == "union" || how == "symmetric_difference") {
          // fenced so the null filter does not decode the row's geometry again
          val first = Fence(df1.select(st_dimension(col(geom1)).as(DimCol))).filter(col(DimCol).isNotNull)
            .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(2)
          coalesce(col(DimCol), lit(first))
        } else col(DimCol)
      Fence(nonEmpty.withColumn(geom1, st_collection_extract(col(geom1), dim)).drop(DimCol))
        .filter(!st_isempty(col(geom1)))
    } else nonEmpty
  }

  /** The private column that carries each df1 row's geometry dimension. */
  private val DimCol = "__graft_dim"

  /** Suffix every clashing data column with _1/_2 (ref overlay.py default). */
  private def suffixCols(df1: DataFrame, df2: DataFrame, geom1: String, geom2: String): (DataFrame, DataFrame) = {
    val clash = df1.columns.toSet.intersect(df2.columns.toSet) - geom1 - geom2
    val a = clash.foldLeft(df1)((d, c) => d.withColumnRenamed(c, s"${c}_1"))
    val b = clash.foldLeft(df2)((d, c) => d.withColumnRenamed(c, s"${c}_2"))
    (a, b)
  }

  private def intersectionPart(df1: DataFrame, df2: DataFrame, geom1: String, geom2: String,
                               bt: Long, ov: SpatialJoin.Oversized): DataFrame = {
    val (a, b) = suffixCols(df1, df2, geom1, geom2)
    val pairs = SpatialJoin.sjoinCore(a, b, predicate = "intersects", how = "inner",
      leftGeom = geom1, rightGeom = geom2, lsuffix = "1", rsuffix = "2", broadcastThreshold = bt,
      oversized = ov)
    val rGeom = if (geom1 == geom2) s"${geom2}_2" else geom2
    pairs.withColumn(geom1, st_intersection(col(geom1), col(rGeom))).drop(rGeom)
  }

  /** df1 minus (union of intersecting df2 geometries) per df1 row; rows with
    * no intersection pass through unchanged (ref overlay.py:88-111). */
  private def differencePart(df1: DataFrame, df2: DataFrame, geom1: String, geom2: String,
                             bt: Long, ov: SpatialJoin.Oversized): DataFrame = {
    val (a, b0) = suffixCols(df1, df2, geom1, geom2)
    val b = b0.select(col(geom2))
    val withSub = ov.build(b, geom2, ov.right, bt) match {
      case Some(index) => broadcastSubtrahends(a, index, geom1)
      case None        => gridSubtrahends(a, b, geom1, geom2, bt, ov)
    }
    withSub
      .withColumn(geom1,
        when(col("__graft_sub").isNull, col(geom1))
          .otherwise(st_difference(col(geom1), col("__graft_sub"))))
      .drop("__graft_sub")
  }

  /** The left frame plus `__graft_sub`, the union of the right geometries
    * each row intersects (null for none), as one projection: the row's
    * geometry probes the [[BroadcastIndex]] of the right geometries with
    * the broadcast sjoin's prepared `intersects`. The left frame runs once,
    * with no id stamp, union shuffle or re-join. */
  private def broadcastSubtrahends(a: DataFrame, index: Broadcast[BroadcastIndex], geom1: String): DataFrame = {
    val subtrahendU = udf((g: Array[Byte]) =>
      if (g == null) null
      else {
        val idx = index.value
        val hits = idx.matching("intersects", Wkb.read(g), buildIsRight = true, 0.0)
        if (hits.isEmpty) null else Wkb.write(GeomOps.unionAll(hits.toSeq.map(idx.geom(_))))
      })
    a.withColumn("__graft_sub", subtrahendU(col(geom1)))
  }

  /** `__graft_sub` for a right side too large to broadcast: intersecting
    * pairs from the sjoin, grouped per stamped left row into a union and
    * re-joined to the left frame. */
  private def gridSubtrahends(a0: DataFrame, b: DataFrame, geom1: String, geom2: String,
                              bt: Long, ov: SpatialJoin.Oversized): DataFrame = {
    // ids are consumed twice (pair join + final re-join); pinned only when
    // the upstream is not evaluation-stable (cf. Pins)
    val a = Pins.stampPinned(a0, "__graft_did")
    val pairs = SpatialJoin.sjoinCore(a, b, predicate = "intersects", how = "inner",
      leftGeom = geom1, rightGeom = geom2, lsuffix = "1", rsuffix = "2", broadcastThreshold = bt,
      oversized = ov)
    val rGeom = if (geom1 == geom2) s"${geom2}_2" else geom2
    val unioned = pairs.groupBy("__graft_did")
      .agg(GeoAggregates.st_union_agg(col(rGeom)).as("__graft_sub"))
    a.join(unioned, Seq("__graft_did"), "left").drop("__graft_did")
  }

  private def symDiffPart(df1: DataFrame, df2: DataFrame, geom1: String, geom2: String,
                          bt: Long, ov: SpatialJoin.Oversized): DataFrame = {
    val d12 = differencePart(df1, df2, geom1, geom2, bt, ov)
    val d21raw = differencePart(df2, df1, geom2, geom1, bt, ov.swap)
    val d21 = if (geom1 == geom2) d21raw else d21raw.withColumnRenamed(geom2, geom1)
    unionAligned(d12, d21)
  }

  /** unionByName with missing columns nulled (ref concat of frames). */
  private def unionAligned(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)
}

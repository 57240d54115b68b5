package graft.join

import graft.functions.GeoFunctions._
import graft.agg.GeoAggregates
import graft.geom.{GeomOps, Wkb}
import graft.plans.Fence
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

  private val keepTypeU = udf((b: Array[Byte], dim: Int) =>
    if (b == null) null else Wkb.write(GeomOps.collectionExtract(Wkb.read(b), dim)))
  private val dimU = udf((b: Array[Byte]) => if (b == null) None else Some(Wkb.read(b).getDimension))

  def overlay(df1: DataFrame, df2: DataFrame, how: String = "intersection",
              geom1: String = "geometry", geom2: String = "geometry",
              keepGeomType: Boolean = true,
              broadcastThreshold: Long = 2000000L): DataFrame = {
    require(Hows.contains(how), s"how must be one of $Hows")
    // make_valid preprocessing (ref overlay.py:329-364)
    val a = df1.withColumn(geom1, st_make_valid(col(geom1)))
    val b = df2.withColumn(geom2, st_make_valid(col(geom2)))
    // strategy-probe counts taken ONCE here and passed to every sjoinCore
    // below (union/identity issue 2-3 sjoins over the same two frames);
    // probed lazily so single-sjoin modes pay only the probes they need
    lazy val c1 = Some(SpatialJoin.countUpTo(df1, broadcastThreshold))
    lazy val c2 = Some(SpatialJoin.countUpTo(df2, broadcastThreshold))

    val result = how match {
      case "intersection"         => intersectionPart(a, b, geom1, geom2, broadcastThreshold, None, c2)
      case "difference"           => differencePart(a, b, geom1, geom2, None, c2, broadcastThreshold)
      case "symmetric_difference" => symDiffPart(a, b, geom1, geom2, c1, c2, broadcastThreshold)
      case "identity" =>
        val inter = intersectionPart(a, b, geom1, geom2, broadcastThreshold, None, c2)
        val diff = differencePart(a, b, geom1, geom2, None, c2, broadcastThreshold)
        unionAligned(inter, diff, geom1)
      case "union" =>
        val inter = intersectionPart(a, b, geom1, geom2, broadcastThreshold, c1, c2)
        val sym = symDiffPart(a, b, geom1, geom2, c1, c2, broadcastThreshold)
        unionAligned(inter, sym, geom1)
    }
    // `geom1` is the parts' computed JTS result: behind the Fence these
    // filters read the column instead of re-running the op per predicate
    val nonEmpty = Fence(result).filter(!st_isempty(col(geom1)) && col(geom1).isNotNull)
    if (keepGeomType) {
      // target dimension = dimension of df1's geometries (ref overlay.py:303-308);
      // fenced so the null filter does not make the row's geometry again
      val dim = Fence(a.select(dimU(col(geom1)).as("__d"))).filter(col("__d").isNotNull)
        .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(2)
      Fence(nonEmpty.withColumn(geom1, keepTypeU(col(geom1), lit(dim))))
        .filter(!st_isempty(col(geom1)))
    } else nonEmpty
  }

  /** Suffix every clashing data column with _1/_2 (ref overlay.py default). */
  private def suffixCols(df1: DataFrame, df2: DataFrame, geom1: String, geom2: String): (DataFrame, DataFrame) = {
    val clash = df1.columns.toSet.intersect(df2.columns.toSet) - geom1 - geom2
    val a = clash.foldLeft(df1)((d, c) => d.withColumnRenamed(c, s"${c}_1"))
    val b = clash.foldLeft(df2)((d, c) => d.withColumnRenamed(c, s"${c}_2"))
    (a, b)
  }

  private def intersectionPart(df1: DataFrame, df2: DataFrame, geom1: String, geom2: String,
                               bt: Long, c1: Option[Long] = None, c2: Option[Long] = None): DataFrame = {
    val (a, b) = suffixCols(df1, df2, geom1, geom2)
    val pairs = SpatialJoin.sjoinCore(a, b, predicate = "intersects", how = "inner",
      leftGeom = geom1, rightGeom = geom2, lsuffix = "1", rsuffix = "2", broadcastThreshold = bt,
      leftCountHint = c1, rightCountHint = c2)
    val rGeom = if (geom1 == geom2) s"${geom2}_2" else geom2
    pairs.withColumn(geom1, st_intersection(col(geom1), col(rGeom))).drop(rGeom)
  }

  /** df1 minus (union of intersecting df2 geometries) per df1 row; rows with
    * no intersection pass through unchanged (ref overlay.py:88-111). */
  private def differencePart(df1: DataFrame, df2: DataFrame, geom1: String, geom2: String,
                             c1: Option[Long], c2: Option[Long], bt: Long): DataFrame = {
    val (a, b0) = suffixCols(df1, df2, geom1, geom2)
    val b = b0.select(col(geom2))
    val rightCount = c2.getOrElse(SpatialJoin.countUpTo(b, bt))
    val withSub =
      if (rightCount <= bt) broadcastSubtrahends(a, b, geom1, geom2)
      else gridSubtrahends(a, b, geom1, geom2, c1, rightCount, bt)
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
  private def broadcastSubtrahends(a: DataFrame, b: DataFrame, geom1: String, geom2: String): DataFrame = {
    val index = BroadcastIndex(b, geom2)
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
                              c1: Option[Long], rightCount: Long, bt: Long): DataFrame = {
    // ids are consumed twice (pair join + final re-join); pinned only when
    // the upstream is not evaluation-stable (cf. Pins)
    val a = Pins.stampPinned(a0, "__graft_did")
    val pairs = SpatialJoin.sjoinCore(a, b, predicate = "intersects", how = "inner",
      leftGeom = geom1, rightGeom = geom2, lsuffix = "1", rsuffix = "2", broadcastThreshold = bt,
      leftCountHint = c1, rightCountHint = Some(rightCount))
    val rGeom = if (geom1 == geom2) s"${geom2}_2" else geom2
    val unioned = pairs.groupBy("__graft_did")
      .agg(GeoAggregates.st_union_agg(col(rGeom)).as("__graft_sub"))
    a.join(unioned, Seq("__graft_did"), "left").drop("__graft_did")
  }

  private def symDiffPart(df1: DataFrame, df2: DataFrame, geom1: String, geom2: String,
                          c1: Option[Long], c2: Option[Long], bt: Long): DataFrame = {
    val d12 = differencePart(df1, df2, geom1, geom2, c1, c2, bt)
    val d21raw = differencePart(df2, df1, geom2, geom1, c2, c1, bt)
    val d21 = if (geom1 == geom2) d21raw else d21raw.withColumnRenamed(geom2, geom1)
    unionAligned(d12, d21, geom1)
  }

  /** unionByName with missing columns nulled (ref concat of frames). */
  private def unionAligned(a: DataFrame, b: DataFrame, geom: String): DataFrame =
    a.unionByName(b, allowMissingColumns = true)
}

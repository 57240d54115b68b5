package graft

import graft.agg.GeoAggregates._
import graft.functions.GeoFunctions._
import graft.functions.TextFunctions
import graft.join.{Clip, Overlay, SJoinNearest, SpatialJoin}
import graft.ops.{CorpusStats, Dedup, Multimodal, Sampling, Similarity, TemporalJoin}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — each `queries` entry is an operator exercise over the
  * driver testdata, and each `oracleSql` entry is plain ANSI SQL (DuckDB has
  * no spatial extension available offline) computing the same result via
  * closed-form math: geometry is derived from numeric columns (points from
  * modular hashes, axis-aligned boxes from a 5×5 nation grid), so contains ≡
  * range predicates, distance ≡ sqrt, overlay area ≡ interval-overlap
  * arithmetic, etc. Both sides are kept bit-compatible by doing identical
  * IEEE double operations in the same order; outputs are rounded where an
  * engine-internal summation order could differ.
  */
object SparkEntry {

  /** Index-BUILD memo for the stored-index ANN queries (q63 LSH bucket, q68
    * IVF cell): a production corpus is indexed once at ingest and queried
    * many times, so the build (bucket/cell assignment + bucket-sorted
    * parquet write) runs once per (query, sf-dir) per JVM and its wall time
    * is recorded for the bench to report separately from the query phase. */
  private val indexMemo = new java.util.concurrent.ConcurrentHashMap[String, Any]()
  private[graft] val indexBuildSec = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private def memoIndex[T](key: String)(build: => T): T =
    indexMemo.computeIfAbsent(key, { _ =>
      val t0 = System.nanoTime()
      val v = build
      indexBuildSec.put(key, (System.nanoTime() - t0) / 1e9)
      v
    }).asInstanceOf[T]

  /** Collision-free catalog-identifier tag for a dataset dir: readable
    * sanitized tail plus an md5 disambiguator (unlike `String.hashCode`,
    * two distinct dirs cannot share a tag in practice). */
  private def pathTag(d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(
      d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = md.take(4).map(b => f"${b & 0xff}%02x").mkString
    val tail = d.replaceAll("[^A-Za-z0-9]", "_").takeRight(24)
    s"${tail}_$hex"
  }

  /** Shared oracle for q135/q140: signatures + banding replayed from the
    * md5 minhash spec; new slice (doc_id % 3 == 0) probes all, canonical
    * distinct pairs, estimate = matching signature components / 16. The
    * two gates compute the same pairs by different engine paths (recomputed
    * vs stored-banded snapshot), so they share one SQL mirror. */
  private val incrementalMinhashOracle: String =
    s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
       | sh AS (SELECT doc_id, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS sh FROM tok WHERE len(toks) >= 2),
       | sigs AS (SELECT doc_id, list_transform(range(0, 16),
       |   j -> list_min(list_transform(sh, s -> md5(CAST(j AS VARCHAR) || ':' || s)))) AS sig FROM sh),
       | banded AS (SELECT doc_id, t.b AS band, md5(array_to_string(list_slice(sig, t.b * 4 + 1, t.b * 4 + 4), '|')) AS bkey
       |   FROM sigs CROSS JOIN range(0, 4) t(b)),
       | nb AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
       | cand AS (SELECT DISTINCT least(n.doc_id, a.doc_id) AS id_a, greatest(n.doc_id, a.doc_id) AS id_b
       |   FROM nb n JOIN banded a ON n.band = a.band AND n.bkey = a.bkey AND n.doc_id <> a.doc_id),
       | est AS (SELECT id_a, id_b,
       |   CAST(len(list_filter(range(1, 17), i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / 16 AS ej
       |   FROM cand JOIN sigs sa ON cand.id_a = sa.doc_id JOIN sigs sb ON cand.id_b = sb.doc_id)
       | SELECT id_a, id_b, round(ej, 6) AS est_jaccard FROM est WHERE ej >= 0.5""".stripMargin.replace("\n", " ")

  // ---- shared geometry derivations (mirrored literally in the oracle SQL) --

  private def pts(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    c.withColumn("px", (col("c_custkey") * 7 % 1000).cast("double") / 10.0)
      .withColumn("py", (col("c_custkey") * 13 % 1000).cast("double") / 10.0)
      .withColumn("geometry", st_point(col("px"), col("py")))
  }
  /** ESRI 54031-layout WKT for the q182 gate (see the query's comment for
    * the base-point choice). */
  private val TpeqdWkt =
    """PROJCS["Graft_TPEQD", GEOGCS["GCS_WGS_1984", DATUM["D_WGS_1984",
      | SPHEROID["WGS_1984",6378137,298.257223563]], PRIMEM["Greenwich",0],
      | UNIT["Degree",0.0174532925199433]],
      | PROJECTION["Two_Point_Equidistant"],
      | PARAMETER["Latitude_Of_1st_Point",80],
      | PARAMETER["Longitude_Of_1st_Point",0],
      | PARAMETER["Latitude_Of_2nd_Point",80],
      | PARAMETER["Longitude_Of_2nd_Point",180],
      | PARAMETER["False_Easting",0], PARAMETER["False_Northing",0],
      | UNIT["Meter",1]]""".stripMargin.replace("\n", "")

  /** Codeless NZMG / Laborde PROJCS for the q184 gate: no TOWGS84 clause,
    * so toCrs from EPSG:4326 composes Identity + pure projection math —
    * exactly what the plain-SQL oracle replicates. */
  private val NzmgWkt =
    """PROJCS["Graft_NZMG", GEOGCS["NZGD49", DATUM["NZGD_1949",
      | SPHEROID["International 1924",6378388,297]], PRIMEM["Greenwich",0],
      | UNIT["Degree",0.0174532925199433]],
      | PROJECTION["New_Zealand_Map_Grid"],
      | PARAMETER["latitude_of_origin",-41], PARAMETER["central_meridian",173],
      | PARAMETER["false_easting",2510000], PARAMETER["false_northing",6023150],
      | UNIT["Meter",1]]""".stripMargin.replace("\n", "")
  private val LabordeWkt =
    """PROJCS["Graft_Laborde", GEOGCS["Tananarive 1925", DATUM["Tananarive_1925",
      | SPHEROID["International 1924",6378388,297]], PRIMEM["Greenwich",0],
      | UNIT["Degree",0.0174532925199433]],
      | PROJECTION["Laborde_Oblique_Mercator"],
      | PARAMETER["latitude_of_center",-18.9],
      | PARAMETER["longitude_of_center",46.43722916666667],
      | PARAMETER["azimuth",18.9], PARAMETER["scale_factor",0.9995],
      | PARAMETER["false_easting",400000], PARAMETER["false_northing",800000],
      | UNIT["Meter",1]]""".stripMargin.replace("\n", "")

  private val PtsSql =
    """SELECT *, CAST(c_custkey * 7 % 1000 AS DOUBLE) / CAST(10 AS DOUBLE) AS px,
      |          CAST(c_custkey * 13 % 1000 AS DOUBLE) / CAST(10 AS DOUBLE) AS py
      |   FROM customer""".stripMargin.replace("\n", " ")

  private def cells(spark: SparkSession, dir: String): DataFrame = {
    val n = spark.read.parquet(s"$dir/nation.parquet")
    n.withColumn("cx", (col("n_nationkey") % 5).cast("long"))
      .withColumn("cy", floor(col("n_nationkey") / 5.0).cast("long"))
      .withColumn("x0", (col("cx") * 20).cast("double"))
      .withColumn("y0", (col("cy") * 20).cast("double"))
      .withColumn("x1", (col("cx") * 20 + 20).cast("double"))
      .withColumn("y1", (col("cy") * 20 + 20).cast("double"))
      .withColumn("geometry", st_makebox(col("x0"), col("y0"), col("x1"), col("y1")))
  }
  private val CellsSql =
    """SELECT *, CAST(cx * 20 AS DOUBLE) AS x0, CAST(cy * 20 AS DOUBLE) AS y0,
      |          CAST(cx * 20 + 20 AS DOUBLE) AS x1, CAST(cy * 20 + 20 AS DOUBLE) AS y1
      |   FROM (SELECT *, CAST(n_nationkey % 5 AS BIGINT) AS cx,
      |                CAST(floor(n_nationkey / CAST(5 AS DOUBLE)) AS BIGINT) AS cy FROM nation)""".stripMargin.replace("\n", " ")

  private def boxes(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    l.withColumn("ax0", (col("l_partkey") % 50).cast("double"))
      .withColumn("ay0", (col("l_suppkey") % 50).cast("double"))
      .withColumn("ax1", (col("l_partkey") % 50 + 1 + col("l_linenumber")).cast("double"))
      .withColumn("ay1", (col("l_suppkey") % 50 + 1 + col("l_orderkey") % 5).cast("double"))
      .withColumn("bx0", (col("l_partkey") * 3 % 50).cast("double"))
      .withColumn("by0", (col("l_suppkey") * 5 % 50).cast("double"))
      .withColumn("bx1", (col("l_partkey") * 3 % 50 + 1 + col("l_orderkey") % 7).cast("double"))
      .withColumn("by1", (col("l_suppkey") * 5 % 50 + 2).cast("double"))
      .withColumn("box_a", st_makebox(col("ax0"), col("ay0"), col("ax1"), col("ay1")))
      .withColumn("box_b", st_makebox(col("bx0"), col("by0"), col("bx1"), col("by1")))
  }
  private val BoxesSql =
    """SELECT *, CAST(l_partkey % 50 AS DOUBLE) AS ax0, CAST(l_suppkey % 50 AS DOUBLE) AS ay0,
      |  CAST(l_partkey % 50 + 1 + l_linenumber AS DOUBLE) AS ax1,
      |  CAST(l_suppkey % 50 + 1 + l_orderkey % 5 AS DOUBLE) AS ay1,
      |  CAST(l_partkey * 3 % 50 AS DOUBLE) AS bx0, CAST(l_suppkey * 5 % 50 AS DOUBLE) AS by0,
      |  CAST(l_partkey * 3 % 50 + 1 + l_orderkey % 7 AS DOUBLE) AS bx1,
      |  CAST(l_suppkey * 5 % 50 + 2 AS DOUBLE) AS by1
      | FROM lineitem""".stripMargin.replace("\n", " ")

  private def supLines(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    s.withColumn("x1", (col("s_suppkey") * 17 % 1000).cast("double") / 10.0)
      .withColumn("y1", (col("s_suppkey") * 23 % 1000).cast("double") / 10.0)
      .withColumn("x2", (col("s_suppkey") * 29 % 1000).cast("double") / 10.0)
      .withColumn("y2", (col("s_suppkey") * 31 % 1000).cast("double") / 10.0)
      .withColumn("p1", st_point(col("x1"), col("y1")))
      .withColumn("p2", st_point(col("x2"), col("y2")))
      .withColumn("line", st_makeline(col("p1"), col("p2")))
  }
  private val SupSql =
    """SELECT *, CAST(s_suppkey * 17 % 1000 AS DOUBLE) / CAST(10 AS DOUBLE) AS x1,
      |  CAST(s_suppkey * 23 % 1000 AS DOUBLE) / CAST(10 AS DOUBLE) AS y1,
      |  CAST(s_suppkey * 29 % 1000 AS DOUBLE) / CAST(10 AS DOUBLE) AS x2,
      |  CAST(s_suppkey * 31 % 1000 AS DOUBLE) / CAST(10 AS DOUBLE) AS y2
      | FROM supplier""".stripMargin.replace("\n", " ")

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  /** documents + one synthetic EMPTY doc: the corpus has no empty/whitespace
    * text, so q82/q83 append a sentinel doc to keep the tokens()-of-empty
    * path inside the oracle gate — graft and DuckDB must both count 0 tokens
    * for it. The sentinel id is DERIVED as min(doc_id)-1 (round-8 review: a
    * hard-coded -8 would silently double-count if a fixture ever contained
    * that id); both oracle mirrors derive the identical value, and their
    * shard formula is pmod-equivalent so a negative sentinel lands in the
    * same shard on both engines. */
  private def docsWithSentinel(spark: SparkSession, dir: String, text: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val sentinel = d.agg(min(col("doc_id")).as("m"))
      .select((col("m") - 1).as("doc_id"), lit(text).as("text"))
    d.unionByName(sentinel)
  }
  private def docsWithEmpty(spark: SparkSession, dir: String): DataFrame =
    docsWithSentinel(spark, dir, "")
  /** Constructed near-dup pair graph shared by q112/q149 (columns ia, ib):
    * per 12-id block a diameter-4 chain component, a reversed edge, a
    * self-loop singleton, and a duplicated edge — the shapes that break
    * naive one-hop canonicalization. */
  private def ccTestEdges(spark: SparkSession, dir: String): DataFrame = {
    val ids = docs(spark, dir).select(col("doc_id").as("id"))
    def shift(delta: Int, gs: Seq[Int]) = ids.select(col("id").as("ia"))
      .filter((col("ia") % 12).isin(gs.map(_.toLong): _*))
      .join(ids.select(col("id").as("ib")), col("ib") === col("ia") + delta)
    val e1 = shift(1, Seq(0, 1, 2))
    val e2 = shift(2, Seq(3))
    val e3 = shift(4, Seq(6)).select(col("ib").as("ia"), col("ia").as("ib")) // reversed
    val e4 = ids.filter(col("id") % 12 === 8).select(col("id").as("ia"), col("id").as("ib"))
    val e5 = shift(1, Seq(1)) // duplicate of part of e1
    e1.select("ia", "ib").unionAll(e2.select("ia", "ib"))
      .unionAll(e3.select("ia", "ib")).unionAll(e4).unionAll(e5.select("ia", "ib"))
  }
  /** The DuckDB spelling of [[docsWithSentinel]] — inlined into oracle
    * mirrors so both engines see the identical degenerate row. */
  private def docsWithSentinelSql(text: String): String = {
    val esc = text.replace("'", "''") // keep the DuckDB literal well-formed for any future sentinel
    s"(SELECT doc_id, text FROM documents UNION ALL SELECT (SELECT min(doc_id) FROM documents) - 1, '$esc')"
  }
  private def embs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
  /** events with `ts` normalized to exact long NANOS in column `t` —
    * TIMESTAMP(NANOS) parquet reads as long under `nanosAsLong` (the
    * Verify/Bench sessions); a TimestampType read (micros) upscales
    * by 1000 so the temporal-join gates compare on the identical
    * integer domain as the oracle's `epoch_ns`. */
  private def eventsNs(spark: SparkSession, dir: String): DataFrame =
    TemporalJoin.withNanos(spark.read.parquet(s"$dir/events.parquet"), "ts", "t")

  /** Flagship: points-in-cells sjoin + dissolve-style count per region
    * (the reference's "groceries per community" hello-world,
    * `tools/sjoin.py:103-111`), on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val joined = SpatialJoin.sjoin(pts(spark, dir), cells(spark, dir),
      predicate = "intersects", how = "inner")
    joined.groupBy(col("n_regionkey")).agg(count(lit(1)).as("n_customers"))
  }

  // --------------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- constructors & accessors
    "q01_point_xy" -> ((s, d) => pts(s, d).select(col("c_custkey"),
      st_x(col("geometry")).as("x"), st_y(col("geometry")).as("y"))),
    "q02_wkt_roundtrip" -> ((s, d) => pts(s, d)
      .withColumn("ix", (col("c_custkey") % 100).cast("double"))
      .withColumn("iy", (col("c_custkey") * 3 % 100).cast("double"))
      .select(col("c_custkey"), st_astext(st_point(col("ix"), col("iy"))).as("wkt"))),
    "q03_envelope_area" -> ((s, d) => boxes(s, d)
      .withColumn("area", st_area(st_envelope(col("box_a"))))
      .groupBy(col("l_returnflag")).agg(sum(col("area")).cast("double").as("sum_area"))),
    "q04_distance" -> ((s, d) => boxes(s, d)
      .filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        st_distance(st_point(col("ax0"), col("ay0")), st_point(col("bx0"), col("by0"))).as("dist"))),
    "q05_buffer_area" -> ((s, d) => pts(s, d)
      .withColumn("r", (col("c_custkey") % 5 + 1).cast("double"))
      .select(col("c_custkey"), round(st_area(st_buffer(col("geometry"), col("r"))), 4).as("barea"))),
    "q06_centroid_dissolve" -> ((s, d) => pts(s, d)
      .groupBy(col("c_nationkey"))
      .agg(st_collect_agg(col("geometry")).as("g"))
      .select(col("c_nationkey"),
        round(st_x(st_centroid(col("g"))), 6).as("cx"),
        round(st_y(st_centroid(col("g"))), 6).as("cy"))),
    "q07_cx_bbox" -> ((s, d) => {
      import graft.api.GeoDataFrame
      GeoDataFrame(pts(s, d)).cx(10, 20, 60, 80).df
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
    }),
    "q08_box_predicates" -> ((s, d) => boxes(s, d)
      .filter(col("l_orderkey") % 20 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        st_intersects(col("box_a"), col("box_b")).as("inter"),
        st_contains(col("box_a"), col("box_b")).as("cont"),
        st_within(col("box_b"), col("box_a")).as("with_"),
        st_disjoint(col("box_a"), col("box_b")).as("disj"))),
    "q09_sjoin_points_cells" -> ((s, d) =>
      SpatialJoin.sjoin(pts(s, d), cells(s, d), predicate = "intersects", how = "inner")
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 4).as("bal"))),
    "q10_sjoin_grid" -> ((s, d) => {
      // adversarial fixture: one NULL-geometry row rides in the probe side —
      // the distributed grid sjoin must drop it (inner semantics) without
      // NPE; the oracle mirrors it as a NULL-coordinate row the join
      // predicate rejects
      val base = pts(s, d)
      val nullGeom = base.limit(1).withColumn("geometry",
        lit(null).cast(org.apache.spark.sql.types.BinaryType))
      SpatialJoin.sjoin(base.unionByName(nullGeom), cells(s, d),
        predicate = "intersects", how = "inner", broadcastThreshold = -1L)
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 4).as("bal"))
    }),
    "q11_sjoin_left" -> ((s, d) => {
      val westCells = cells(s, d).filter(col("cx") < 3)
      SpatialJoin.sjoin(pts(s, d), westCells, predicate = "intersects", how = "left")
        .select(col("c_custkey"), col("n_nationkey"))
    }),
    "q12_sjoin_nearest" -> ((s, d) => {
      val centers = cells(s, d)
        .withColumn("geometry", st_point((col("cx") * 20 + 10).cast("double"), (col("cy") * 20 + 10).cast("double")))
        .select(col("n_nationkey"), col("geometry"))
      SJoinNearest.sjoinNearest(pts(s, d), centers, how = "inner", distanceCol = Some("dist"))
        .select(col("c_custkey"), col("n_nationkey"), round(col("dist"), 6).as("dist"))
    }),
    "q13_overlay_intersection" -> ((s, d) => {
      val shifted = cells(s, d)
        .withColumn("geometry", st_makebox(
          (col("cx") * 20 + 7).cast("double"), (col("cy") * 20 + 3).cast("double"),
          (col("cx") * 20 + 27).cast("double"), (col("cy") * 20 + 23).cast("double")))
        .select(col("n_nationkey").as("nk2"), col("geometry"))
      Overlay.overlay(cells(s, d).select(col("n_nationkey"), col("geometry")), shifted,
        how = "intersection")
        .select(col("n_nationkey"), col("nk2"), round(st_area(col("geometry")), 6).as("area"))
    }),
    "q14_overlay_difference" -> ((s, d) => {
      val shifted = cells(s, d)
        .withColumn("geometry", st_makebox(
          (col("cx") * 20 + 7).cast("double"), (col("cy") * 20 + 3).cast("double"),
          (col("cx") * 20 + 27).cast("double"), (col("cy") * 20 + 23).cast("double")))
        .select(col("n_nationkey").as("nk2"), col("geometry"))
      Overlay.overlay(cells(s, d).select(col("n_nationkey"), col("geometry")), shifted,
        how = "difference")
        .select(col("n_nationkey"), round(st_area(col("geometry")), 6).as("area"))
    }),
    "q15_dissolve" -> ((s, d) => {
      import graft.api.GeoDataFrame
      GeoDataFrame(cells(s, d).select(col("n_regionkey"), col("n_nationkey"), col("geometry")))
        .dissolve(by = Seq("n_regionkey"), aggfunc = Map("n_nationkey" -> "count")).df
        .select(col("n_regionkey"), round(st_area(col("geometry")), 6).as("area"),
          col("n_nationkey").as("n_cells"))
    }),
    "q16_affine" -> ((s, d) => pts(s, d)
      .withColumn("g2", st_scale(st_translate(col("geometry"), lit(5.5), lit(-2.25)),
        lit(2.0), lit(2.0), lit(0.0), lit(0.0)))
      .select(col("c_custkey"), st_x(col("g2")).as("tx"), st_y(col("g2")).as("ty"))),
    "q17_to_crs" -> ((s, d) => {
      import graft.api.GeoDataFrame
      val lonlat = pts(s, d)
        .withColumn("geometry", st_point(col("px") * 3.6 - 180.0, col("py") * 1.6 - 80.0))
      GeoDataFrame(lonlat, "geometry", Map("geometry" -> "EPSG:4326")).toCrs("EPSG:3857").df
        .select(col("c_custkey"),
          (round(st_x(col("geometry")), 4) + 0.0).as("mx"),  // + 0.0 folds -0.0 → 0.0
          (round(st_y(col("geometry")), 4) + 0.0).as("my"))
    }),
    "q18_hilbert" -> ((s, d) => {
      import graft.api.GeoDataFrame
      GeoDataFrame(pts(s, d)).hilbertDistance(10)
        .select(col("c_custkey"), col("hilbert_distance"))
    }),
    "q19_get_coordinates" -> ((s, d) => {
      import graft.api.GeoDataFrame
      GeoDataFrame(supLines(s, d).select(col("s_suppkey"), col("line")), "line").getCoordinates
        .select(col("s_suppkey"), col("x"), col("y"))
    }),
    "q20_explode_parts" -> ((s, d) => {
      val p = s.read.parquet(s"$d/part.parquet")
        .withColumn("g1", st_point((col("p_partkey") % 100).cast("double"), (col("p_partkey") * 3 % 100).cast("double")))
        .withColumn("g2", st_point((col("p_partkey") * 7 % 100).cast("double"), (col("p_partkey") * 11 % 100).cast("double")))
        .withColumn("mp", stCollectU(array(col("g1"), col("g2"))))
      import graft.api.GeoDataFrame
      // adversarial fixture: an EMPTY multi-geometry row (0 parts) rides in —
      // explodeParts must emit no rows for it on both engines
      val inp = p.select(col("p_partkey"), col("mp")).unionByName(
        p.agg(min(col("p_partkey")).as("m")).select((col("m") - 1).as("p_partkey"),
          st_geomfromwkt(lit("MULTIPOLYGON EMPTY")).as("mp")))
      GeoDataFrame(inp, "mp").explodeParts().df
        .select(col("p_partkey"), col("part_index"), st_x(col("mp")).as("x"), st_y(col("mp")).as("y"))
    }),
    "q21_convex_hull" -> ((s, d) => {
      val p = s.read.parquet(s"$d/part.parquet")
        .withColumn("xa", (col("p_partkey") % 100).cast("double")).withColumn("ya", (col("p_partkey") * 3 % 100).cast("double"))
        .withColumn("xb", (col("p_partkey") * 7 % 100).cast("double")).withColumn("yb", (col("p_partkey") * 11 % 100).cast("double"))
        .withColumn("xc", (col("p_partkey") * 13 % 100).cast("double")).withColumn("yc", (col("p_partkey") * 17 % 100).cast("double"))
        .withColumn("mp", stCollectU(array(
          st_point(col("xa"), col("ya")), st_point(col("xb"), col("yb")), st_point(col("xc"), col("yc")))))
      p.select(col("p_partkey"), round(st_area(st_convex_hull(col("mp"))), 6).as("hull_area"))
    }),
    "q22_union_points" -> ((s, d) => pts(s, d)
      .groupBy(col("c_nationkey"))
      .agg(st_union_agg(col("geometry")).as("g"))
      .select(col("c_nationkey"), st_npoints(col("g")).as("n_distinct_pts"))),
    "q23_events_window" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      // ts is long nanos when the parquet type is TIMESTAMP(NANOS) (read
      // under spark.sql.legacy.parquet.nanosAsLong), else a real timestamp —
      // ANSI mode forbids timestamp→double casts, so go through unix_micros
      val tsSec = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => col("ts").cast("double") / 1.0e9
        case _ => unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)).cast("double") / 1.0e6
      }
      ev.withColumn("win", (floor(tsSec / 300.0) * 300).cast("long"))
        .groupBy(col("win"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
    }),
    "q24_dedup_exact" -> ((s, d) => docs(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_count"))),
    "q25_token_stats" -> ((s, d) =>
      // adversarial fixture: a whitespace-only doc (0 tokens) rides in —
      // ratio denominators must not divide by zero on either engine
      docsWithSentinel(s, d, "   ").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        round(TextFunctions.stopwordRatio(col("text")), 6).as("stop_ratio"),
        round(TextFunctions.meanWordLength(col("text")), 6).as("mean_wlen"))),
    "q26_lang_id" -> ((s, d) => docs(s, d).select(col("doc_id"),
      TextFunctions.langId(col("text")).as("pred_lang"))),
    "q27_quality" -> ((s, d) =>
      // same whitespace-only degenerate doc as q25 (0 tokens, 0 punct)
      docsWithSentinel(s, d, "   ").select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))),
    "q28_minhash_pairs" -> ((s, d) =>
      // 4 hashes per band → band-collision prob j^4: few false candidates
      Dedup.minhashPairs(docs(s, d), "doc_id", "text", k = 3, numHashes = 16, bands = 4, threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),
    "q29_embedding_topk" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.bruteForceTopK(embs(s, d), "embedding", q, 10)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }),
    "q30_simhash" -> ((s, d) => docs(s, d).select(col("doc_id"),
      TextFunctions.simhash64(col("text")).as("simhash"))),
    "q31_fingerprint" -> ((s, d) => docs(s, d).select(col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"))),
    "q32_ann_topk" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.annTopK(embs(s, d), "embedding", q, 10, planes = 8, probeHamming = 8)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }),
    "q33_multimodal_meta" -> ((s, d) => {
      val withBin = docs(s, d).withColumn("media", col("text").cast("binary"))
      Multimodal.withImageMeta(withBin, "media")
        .select(col("doc_id"), col("image_meta.format").as("format"),
          col("image_meta.width").as("width"), col("image_meta.height").as("height"),
          col("image_meta.size_bytes").as("size_bytes"))
    }),
    "q71_image_decode_real" -> ((s, d) => {
      // REAL ImageIO decode under the oracle gate: each row's PNG is
      // GENERATED on executors at w=8+doc_id%16, h=8+doc_id%13, so the
      // decoded width/height/channels must reproduce the closed-form values
      // the SQL oracle states — a fake length-derived decode cannot pass
      val gen = udf((w: Int, h: Int) => {
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff); x += 1 }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      })
      val imgs = docs(s, d).select(col("doc_id"))
        .withColumn("img", gen((lit(8) + col("doc_id") % 16).cast("int"),
          (lit(8) + col("doc_id") % 13).cast("int")))
      Multimodal.withImageMeta(imgs, "img", real = true)
        .select(col("doc_id"), col("image_meta.format").as("format"),
          col("image_meta.width").as("width"), col("image_meta.height").as("height"),
          col("image_meta.channels").as("channels"))
    }),
    "q75_audio_decode_real" -> ((s, d) => {
      // REAL javax.sound WAV decode under the oracle gate: each row's WAV is
      // GENERATED on executors (16-bit mono PCM sine) at a sample rate and
      // frame count derived from doc_id, so the decoded header fields must
      // reproduce the closed-form values the SQL oracle states
      // WAV bytes are hand-assembled (canonical 44-byte PCM header, same
      // form AudioSystem.write emits) rather than produced by the decoder's
      // own stack: the decoder is then validated against independently
      // constructed bytes, and the generator avoids AudioSystem's global
      // provider lock (which serialized executor threads — the suite-soak
      // q75 flag)
      val gen = udf((rate: Int, nframes: Int) => {
        val dataLen = nframes * 2
        val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
          .put("WAVE".getBytes("US-ASCII"))
          .put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
          .putShort(2).putShort(16)
          .put("data".getBytes("US-ASCII")).putInt(dataLen)
        var i = 0
        while (i < nframes) {
          bb.putShort((math.sin(2 * math.Pi * 440.0 * i / rate) * 0.5 * 32767).toInt.toShort)
          i += 1
        }
        bb.array()
      })
      val wavs = docs(s, d).select(col("doc_id"))
        .withColumn("wav", gen((lit(8000) + (col("doc_id") % 3) * 4000).cast("int"),
          (lit(400) + col("doc_id") % 50).cast("int")))
      Multimodal.withAudioMeta(wavs, "wav")
        .select(col("doc_id"), col("audio_meta.format").as("format"),
          col("audio_meta.sample_rate").as("sample_rate"),
          col("audio_meta.channels").as("channels"),
          col("audio_meta.bits").as("bits"),
          col("audio_meta.frames").as("frames"))
    }),
    "q34_simplify" -> ((s, d) => {
      val sl = supLines(s, d)
        .withColumn("mx", (col("x1") + col("x2")) / 2.0)
        .withColumn("my", (col("y1") + col("y2")) / 2.0)
        .withColumn("line3", st_line_from_coords(array(col("x1"), col("mx"), col("x2")), array(col("y1"), col("my"), col("y2"))))
      sl.filter(!(col("x1") === col("x2") && col("y1") === col("y2")))
        .select(col("s_suppkey"), st_npoints(st_simplify(col("line3"), lit(0.0001), lit(false))).as("np"))
    }),
    "q35_interpolate" -> ((s, d) => supLines(s, d)
      .filter(!(col("x1") === col("x2") && col("y1") === col("y2")))
      .withColumn("p", st_interpolate(col("line"), lit(0.25), lit(true)))
      .select(col("s_suppkey"), round(st_x(col("p")), 6).as("ix"), round(st_y(col("p")), 6).as("iy"))),
    "q36_envelope_wkt" -> ((s, d) => boxes(s, d)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        st_astext(st_envelope(col("box_a"))).as("wkt"))),
    "q37_relate" -> ((s, d) => {
      // strictly-interior points only: px/py not on any multiple-of-20 line
      val interior = pts(s, d).filter(col("px") % 20.0 =!= 0.0 && col("py") % 20.0 =!= 0.0)
      val joined = SpatialJoin.sjoin(interior, cells(s, d), predicate = "within", how = "inner")
      // relate against the cell rebuilt from its bounds (geometry was dropped)
      joined.select(col("c_custkey"), col("n_nationkey"),
        st_relate(col("geometry"), st_makebox(col("x0"), col("y0"), col("x1"), col("y1"))).as("de9im"))
    }),
    "q38_intersection_box" -> ((s, d) => boxes(s, d)
      .filter(col("l_orderkey") % 20 === 1)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(st_area(st_intersection(col("box_a"), col("box_b"))), 6).as("iarea"))),
    "q39_total_bounds" -> ((s, d) => {
      import graft.api.GeoDataFrame
      val (x0, y0, x1, y1) = GeoDataFrame(pts(s, d)).totalBounds
      s.range(1).select(lit(x0).as("xmin"), lit(y0).as("ymin"), lit(x1).as("xmax"), lit(y1).as("ymax"))
    }),
    "q40_clip" -> ((s, d) => Clip.clipByRect(boxes(s, d).select(col("l_orderkey"), col("l_linenumber"), col("box_a")),
      10, 10, 40, 40, geom = "box_a")
      .select(col("l_orderkey"), col("l_linenumber"), round(st_area(col("box_a")), 6).as("clip_area"))),
    "q41_segmentize" -> ((s, d) => supLines(s, d)
      .filter(!(col("x1") === col("x2") && col("y1") === col("y2")))
      .select(col("s_suppkey"), st_npoints(st_segmentize(col("line"), lit(4.0))).as("np"))),
    "q42_bounding_radius" -> ((s, d) => boxes(s, d)
      .filter(col("l_orderkey") % 50 === 1)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(st_minimum_bounding_radius(col("box_a")), 6).as("radius"))),
    "q43_rotated_rect" -> ((s, d) => boxes(s, d)
      .filter(col("l_orderkey") % 50 === 2)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(st_area(st_minimum_rotated_rectangle(col("box_a"))), 6).as("rr_area"))),
    "q44_boundary_length" -> ((s, d) => {
      // adversarial fixture: a fully collapsed box (zero extent in both
      // axes) — its boundary is zero-length linework on both engines; the
      // negative orderkey cannot collide with TPC-H keys
      val base = boxes(s, d).filter(col("l_orderkey") % 50 === 3)
        .select(col("l_orderkey"), col("l_linenumber"), col("box_a"))
      val degen = s.range(1).select(lit(-47L).as("l_orderkey"),
        lit(-1).cast("int").as("l_linenumber"),
        st_makebox(lit(5.0), lit(5.0), lit(5.0), lit(5.0)).as("box_a"))
      base.unionByName(degen)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(st_length(st_boundary(col("box_a"))), 6).as("blen"))
    }),
    "q87_interior_rings" -> ((s, d) => {
      // count_interior_rings (ref base.py:629): even orderkeys get a 0.5x0.5
      // hole punched strictly inside box_a (box width >= 2, height >= 1, the
      // hole sits in the [0.25, 0.75] corner square), odd ones stay solid —
      // hole count and closed-form area both verified
      val b = boxes(s, d).filter(col("l_orderkey") % 25 === 4)
      val hole = st_makebox(col("ax0") + lit(0.25), col("ay0") + lit(0.25),
        col("ax0") + lit(0.75), col("ay0") + lit(0.75))
      // a named column: poly feeds BOTH output columns; as a bare Column
      // expression it was cloned into each consumer at construction time,
      // so the JTS difference ran twice per row
      b.withColumn("__poly", when(col("l_orderkey") % 2 === 0,
          st_difference(col("box_a"), hole)).otherwise(col("box_a")))
        .select(col("l_orderkey"), col("l_linenumber"),
          st_n_interior_rings(col("__poly")).as("n_holes"),
          round(st_area(col("__poly")), 6).as("area"))
    }),
    "q45_reverse_wkt" -> ((s, d) => supLines(s, d)
      .select(col("s_suppkey"), st_astext(st_reverse(col("line"))).as("wkt"))),
    "q46_wkt_parse" -> ((s, d) => pts(s, d)
      .withColumn("wkt", concat(lit("POINT ("), col("px").cast("string"), lit(" "), col("py").cast("string"), lit(")")))
      .select(col("c_custkey"), st_x(st_geomfromwkt(col("wkt"))).as("x"), st_y(st_geomfromwkt(col("wkt"))).as("y"))),
    "q47_geojson" -> ((s, d) => pts(s, d)
      .select(col("c_custkey"), st_asgeojson(col("geometry")).as("gj"),
        st_x(st_geomfromgeojson(st_asgeojson(col("geometry")))).as("rx"))),
    "q48_force_3d" -> ((s, d) => pts(s, d)
      .withColumn("g3", st_force_3d(col("geometry"), lit(7.5)))
      .select(col("c_custkey"), st_z(col("g3")).as("z"), st_hasz(col("g3")).as("has_z"),
        st_hasz(st_force_2d(col("g3"))).as("still_z"))),
    "q49_snap" -> ((s, d) => boxes(s, d)
      .filter(col("l_orderkey") % 100 === 1)
      .withColumn("pa", st_point(col("ax0"), col("ay0")))
      .withColumn("pb", st_point(col("bx0"), col("by0")))
      .withColumn("snapped", st_snap(col("pa"), col("pb"), lit(3.0)))
      .select(col("l_orderkey"), col("l_linenumber"),
        st_x(col("snapped")).as("sx"), st_y(col("snapped")).as("sy"))),
    "q51_more_predicates" -> ((s, d) => boxes(s, d)
      .filter(col("l_orderkey") % 20 === 2)
      .select(col("l_orderkey"), col("l_linenumber"),
        st_touches(col("box_a"), col("box_b")).as("touch"),
        st_covers(col("box_a"), col("box_b")).as("cov"),
        st_equals(col("box_a"), col("box_b")).as("eq"),
        st_dwithin(st_point(col("ax0"), col("ay0")), st_point(col("bx0"), col("by0")), lit(10.0)).as("dw"))),
    "q52_relate_pattern" -> ((s, d) => pts(s, d)
      .withColumn("cell", st_makebox(
        (floor(col("px") / 20.0) * 20).cast("double"), (floor(col("py") / 20.0) * 20).cast("double"),
        (floor(col("px") / 20.0) * 20 + 20).cast("double"), (floor(col("py") / 20.0) * 20 + 20).cast("double")))
      .select(col("c_custkey"),
        st_relate_pattern(col("geometry"), col("cell"), lit("T*F**F***")).as("is_within"))),
    "q53_contains_properly" -> ((s, d) =>
      SpatialJoin.sjoin(cells(s, d), pts(s, d), predicate = "contains_properly", how = "inner",
        lsuffix = "l", rsuffix = "r")
        .groupBy(col("n_nationkey")).agg(count(lit(1)).as("n"))),
    "q54_union_area" -> ((s, d) => boxes(s, d)
      .filter(col("l_orderkey") % 20 === 3)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(st_area(st_union(col("box_a"), col("box_b"))), 6).as("uarea"),
        round(st_area(st_sym_difference(col("box_a"), col("box_b"))), 6).as("sarea"))),
    "q55_geoparquet_roundtrip" -> ((s, d) => {
      import graft.api.GeoDataFrame
      val dir = java.nio.file.Files.createTempDirectory("graft_gpq").toString
      graft.io.GeoParquet.write(GeoDataFrame(pts(s, d)), s"$dir/pts", spatialSort = true)
      val back = graft.io.GeoParquet.readBbox(s, s"$dir/pts", 10, 20, 60, 80)
      back.df.select(col("c_custkey"), st_x(col("geometry")).as("x"), st_y(col("geometry")).as("y"))
    }),
    "q56_geojson_roundtrip" -> ((s, d) => {
      import graft.api.GeoDataFrame
      val dir = java.nio.file.Files.createTempDirectory("graft_gj").toString
      val sel = pts(s, d).select(col("c_custkey"), col("c_nationkey"), col("geometry"))
      graft.io.GeoJsonIO.write(GeoDataFrame(sel), s"$dir/f")
      val back = graft.io.GeoJsonIO.read(s, s"$dir/f")
      back.df.select(col("c_custkey"), st_x(col("geometry")).as("x"), st_y(col("geometry")).as("y"))
    }),
    "q69_gpkg_roundtrip" -> ((s, d) => {
      // gate the pure-JVM SQLite writer+reader end-to-end: engine-written
      // .gpkg read back must hash-match the plain-SQL oracle
      import graft.api.GeoDataFrame
      val dir = java.nio.file.Files.createTempDirectory("graft_gpkg").toString
      val sel = pts(s, d).filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_name"), col("geometry"))
      graft.io.Gpkg.write(GeoDataFrame(sel, "geometry", Map("geometry" -> "EPSG:4326")),
        s"$dir/pts.gpkg")
      val back = graft.io.Gpkg.read(s, s"$dir/pts.gpkg")
      back.df.select(col("c_custkey"), col("c_name"),
        st_x(col("geometry")).as("x"), st_y(col("geometry")).as("y"))
    }),
    "q70_feather_roundtrip" -> ((s, d) => {
      // gate the DISTRIBUTED Arrow IPC writer (one file per partition on
      // executors) through the multi-file reader
      import graft.api.GeoDataFrame
      val dir = java.nio.file.Files.createTempDirectory("graft_fth").toString
      val sel = pts(s, d).filter(col("c_custkey") % 3 === 1)
        .select(col("c_custkey"), col("c_acctbal"), col("geometry"))
      graft.io.Feather.writePartitioned(
        GeoDataFrame(sel, "geometry", Map("geometry" -> "EPSG:4326")), s"$dir/pts")
      val back = graft.io.Feather.read(s, s"$dir/pts")
      back.df.select(col("c_custkey"), col("c_acctbal"),
        st_x(col("geometry")).as("x"), st_y(col("geometry")).as("y"))
    }),
    "q72_flatgeobuf_roundtrip" -> ((s, d) => {
      // gate the from-scratch FlatGeobuf writer+reader (flatbuffers codec,
      // packed Hilbert R-tree, property encoding) end to end, INCLUDING a
      // bbox read that must traverse the index and still match the plain-SQL
      // range predicate exactly
      import graft.api.GeoDataFrame
      val dir = java.nio.file.Files.createTempDirectory("graft_fgbq").toString
      val sel = pts(s, d).filter(col("c_custkey") % 3 === 2)
        .select(col("c_custkey"), col("c_name"), col("geometry"))
      graft.io.FlatGeobuf.write(GeoDataFrame(sel, "geometry", Map("geometry" -> "EPSG:4326")),
        s"$dir/pts.fgb")
      val back = graft.io.FlatGeobuf.read(s, s"$dir/pts.fgb",
        bbox = Some((10.0, 20.0, 60.0, 80.0)))
      back.df.select(col("c_custkey"), col("c_name"),
        st_x(col("geometry")).as("x"), st_y(col("geometry")).as("y"))
    }),
    "q73_csv_roundtrip" -> ((s, d) => {
      // gate the CSV vector driver end to end: WKT column export (driver
      // streaming path), schema-inferred read back, geometry re-parsed from
      // WKT, attribute where= applied post-parse
      import graft.api.GeoDataFrame
      val dir = java.nio.file.Files.createTempDirectory("graft_csvq").toString
      val sel = pts(s, d).filter(col("c_custkey") % 4 === 1)
        .select(col("c_custkey"), col("c_name"), col("geometry"))
      graft.io.CsvWkt.write(GeoDataFrame(sel), s"$dir/pts.csv")
      val back = graft.io.CsvWkt.read(s, s"$dir/pts.csv",
        where = Some("c_custkey % 3 = 1"))
      // CSV type inference narrows small ints; restore the source's long
      back.df.select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
        round(st_x(col("geometry")), 6).as("x"), round(st_y(col("geometry")), 6).as("y"))
    }),
    "q181_mif_roundtrip" -> ((s, d) => {
      // gate the MapInfo MIF/MID driver end to end: driver-streamed pair
      // export (long ids as Decimal(20,0), CoordSys Earth Projection 1,104),
      // per-file parallel read back, attribute where= applied post-parse
      import graft.api.GeoDataFrame
      val dir = java.nio.file.Files.createTempDirectory("graft_mifq").toString
      val sel = pts(s, d).filter(col("c_custkey") % 4 === 3)
        .select(col("c_custkey"), col("c_name"), col("geometry"))
      graft.io.MapInfoMif.write(
        GeoDataFrame(sel, "geometry", Map("geometry" -> "EPSG:4326")), s"$dir/pts.mif")
      val back = graft.io.MapInfoMif.read(s, s"$dir/pts.mif",
        where = Some("c_custkey % 3 = 2"))
      back.df.select(col("c_custkey"), col("c_name"),
        round(st_x(col("geometry")), 6).as("x"), round(st_y(col("geometry")), 6).as("y"))
    }),
    "q183_dxf_roundtrip" -> ((s, d) => {
      // gate the DXF driver end to end: single-file export with a layer
      // column (DXF's only attribute), parallel read back via binaryFiles,
      // exact point coordinates through the plain-decimal renderer
      import graft.api.GeoDataFrame
      val dir = java.nio.file.Files.createTempDirectory("graft_dxfq").toString
      val sel = pts(s, d).filter(col("c_custkey") % 7 === 1)
        .select(when(col("c_custkey") % 2 === 0, lit("even")).otherwise(lit("odd")).as("lyr"),
          col("geometry"))
      graft.io.Dxf.write(GeoDataFrame(sel, "geometry", Map.empty),
        s"$dir/pts.dxf", layerCol = Some("lyr"))
      val back = graft.io.Dxf.read(s, s"$dir/pts.dxf")
      back.df.select(col("Layer").as("lyr"),
        round(st_x(col("geometry")), 6).as("x"), round(st_y(col("geometry")), 6).as("y"))
    }),
    "q182_tpeqd_crs" -> ((s, d) => {
      // Two-Point Equidistant reprojection via a codeless ESRI WKT target.
      // Base points (80,0)/(80,180) put the baseline great circle on the
      // 0/180 meridian ring, far from the probe box — the projection's
      // fold (where y cancels catastrophically) never meets a probe, so
      // the DuckDB closed-form spherical oracle matches at mm rounding.
      import graft.api.GeoDataFrame
      val lonlat = pts(s, d)
        .withColumn("geometry", st_point(col("px") * 1.2 - 150.0, col("py") * 1.2 - 60.0))
      GeoDataFrame(lonlat, "geometry", Map("geometry" -> "EPSG:4326")).toCrs(TpeqdWkt).df
        .select(col("c_custkey"),
          (round(st_x(col("geometry")), 3) + 0.0).as("tx"),
          (round(st_y(col("geometry")), 3) + 0.0).as("ty"))
    }),
    "q184_nzmg_laborde" -> ((s, d) => {
      // round-20 CRS stragglers gated end-to-end through toCrs: NZMG
      // (EPSG 9811 series + defining complex polynomial) on an NZ-box
      // point cloud and Laborde (EPSG 9813, GN7-2 conformal-sphere +
      // cubic correction) on a Madagascar box. Codeless PROJCS targets =
      // pure projection math (no datum leg), so the DuckDB oracle is the
      // same published formulas in plain SQL — series, complex Horner and
      // sphere rotation unrolled to scalar arithmetic.
      import graft.api.GeoDataFrame
      val base = pts(s, d)
      val nzPts = base.withColumn("geometry",
        st_point(col("px") * 0.12 + 166.0, col("py") * 0.12 - 47.0))
      val nzmg = GeoDataFrame(nzPts, "geometry", Map("geometry" -> "EPSG:4326"))
        .toCrs(NzmgWkt).df
        .select(col("c_custkey"),
          (round(st_x(col("geometry")), 3) + 0.0).as("nx"),
          (round(st_y(col("geometry")), 3) + 0.0).as("ny"))
      val mgPts = base.withColumn("geometry",
        st_point(col("px") * 0.06 + 44.0, col("py") * 0.1 - 25.0))
      val lab = GeoDataFrame(mgPts, "geometry", Map("geometry" -> "EPSG:4326"))
        .toCrs(LabordeWkt).df
        .select(col("c_custkey"),
          (round(st_x(col("geometry")), 3) + 0.0).as("lx"),
          (round(st_y(col("geometry")), 3) + 0.0).as("ly"))
      nzmg.join(lab, Seq("c_custkey"))
    }),
    "q185_dxf_insert" -> ((s, d) => {
      // DXF BLOCKS/INSERT expansion gated end-to-end: a hand-built drawing
      // whose only geometry lives in a block (unit point at (1,0)), placed
      // by one INSERT per selected customer at (px, py) with rotation
      // (key % 360 deg) and uniform scale (1 + key % 3). The reader must
      // expand every reference through the affine chain; the oracle is the
      // same closed-form trig in plain SQL. Fixture build is a bounded
      // driver loop (~1/11th of customer — the same posture as the other
      // file-format gates' temp exports).
      val sel = pts(s, d).filter(col("c_custkey") % 11 === 3)
        .select(col("c_custkey"), col("px"), col("py"))
        .collect()
      val sb = new StringBuilder
      sb ++= "0\nSECTION\n2\nBLOCKS\n"
      sb ++= "0\nBLOCK\n8\n0\n2\nB\n10\n0\n20\n0\n0\nPOINT\n8\n0\n10\n1\n20\n0\n0\nENDBLK\n"
      sb ++= "0\nENDSEC\n0\nSECTION\n2\nENTITIES\n"
      sel.foreach { r =>
        val k = r.getLong(0)
        sb ++= s"0\nINSERT\n8\n$k\n2\nB\n10\n${r.getDouble(1)}\n20\n${r.getDouble(2)}\n"
        sb ++= s"41\n${1 + k % 3}\n42\n${1 + k % 3}\n50\n${k % 360}\n"
      }
      sb ++= "0\nENDSEC\n0\nEOF\n"
      val dir = java.nio.file.Files.createTempDirectory("graft_dxfi").toString
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/ins.dxf"),
        sb.toString.getBytes("UTF-8"))
      graft.io.Dxf.read(s, s"$dir/ins.dxf").df
        .select(col("Layer").cast("long").as("c_custkey"),
          (round(st_x(col("geometry")), 3) + 0.0).as("x"),
          (round(st_y(col("geometry")), 3) + 0.0).as("y"))
    }),
    "q74_kml_roundtrip" -> ((s, d) => {
      // gate the KML driver end to end: typed Schema/SimpleData export,
      // StAX streaming read back, geometry + attribute types restored
      import graft.api.GeoDataFrame
      val dir = java.nio.file.Files.createTempDirectory("graft_kmlq").toString
      val sel = pts(s, d).filter(col("c_custkey") % 5 === 2)
        .select(col("c_custkey"), col("c_name"), col("geometry"))
      graft.io.Kml.write(GeoDataFrame(sel), s"$dir/pts.kml")
      val back = graft.io.Kml.read(s, s"$dir/pts.kml",
        where = Some("c_custkey % 2 = 0"))
      back.df.select(col("c_custkey"), col("c_name"),
        round(st_x(col("geometry")), 6).as("x"), round(st_y(col("geometry")), 6).as("y"))
    }),
    "q76_gml_roundtrip" -> ((s, d) => {
      // gate the GML driver end to end: ogr-namespace GML3 export with
      // companion .xsd, StAX streaming read back, geometry + typed
      // attributes restored
      import graft.api.GeoDataFrame
      val dir = java.nio.file.Files.createTempDirectory("graft_gmlq").toString
      val sel = pts(s, d).filter(col("c_custkey") % 5 === 3)
        .select(col("c_custkey"), col("c_name"), col("geometry"))
      graft.io.Gml.write(GeoDataFrame(sel), s"$dir/pts.gml")
      val back = graft.io.Gml.read(s, s"$dir/pts.gml",
        where = Some("c_custkey % 2 = 1"))
      back.df.select(col("c_custkey"), col("c_name"),
        round(st_x(col("geometry")), 6).as("x"), round(st_y(col("geometry")), 6).as("y"))
    }),
    "q77_gpx_roundtrip" -> ((s, d) => {
      // gate the GPX driver end to end: waypoint export with attribute
      // columns riding in <extensions>, StAX streaming read back
      import graft.api.GeoDataFrame
      val dir = java.nio.file.Files.createTempDirectory("graft_gpxq").toString
      val sel = pts(s, d).filter(col("c_custkey") % 5 === 4)
        .select(col("c_custkey"), col("c_name"), col("geometry"))
      graft.io.Gpx.write(GeoDataFrame(sel), s"$dir/pts.gpx")
      val back = graft.io.Gpx.read(s, s"$dir/pts.gpx",
        where = Some("c_custkey % 2 = 0"))
      back.df.select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
        round(st_x(col("geometry")), 6).as("x"), round(st_y(col("geometry")), 6).as("y"))
    }),
    "q78_pii_redact" -> ((s, d) => {
      // PII scrubbing under the oracle gate: PII shapes (email, URL, phone)
      // are CONSTRUCTED around each doc's text, then redacted with the
      // engine's native regexp chain; the oracle applies the same patterns
      // with its own regex engine — the gate certifies the two dialects
      // agree on real PII shapes, not just on pass-through text
      val raw = concat(lit("u"), col("doc_id").cast("string"), lit("@mail-x.com "),
        col("text"), lit(" see https://ex"), (col("doc_id") % 7).cast("string"),
        lit(".org/p?q="), col("doc_id").cast("string"), lit(" or call 555-123-4567 now"))
      docs(s, d).select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          TextFunctions.piiUrlCount(col("raw")).as("n_urls"),
          TextFunctions.piiEmailCount(col("raw")).as("n_emails"),
          TextFunctions.piiPhoneCount(col("raw")).as("n_phones"),
          TextFunctions.redactPii(col("raw")).as("redacted"))
    }),
    "q79_repetition_stats" -> ((s, d) => {
      // Gopher/Dolma-style repetition signal: construct a 5-raw-line doc
      // (one blank, one duplicated 'x', head line duplicated on even ids)
      // and gate line splitting, blank dropping, distinct counting, and the
      // duplicate-line fraction against closed-form values
      val head = substring(trim(col("text")), 1, 10)
      val raw = concat_ws("\n", head, lit("x"), lit(""),
        when(col("doc_id") % 2 === 0, head)
          .otherwise(concat(lit("y"), col("doc_id").cast("string"))),
        lit("x"))
      docs(s, d).select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          TextFunctions.lineCount(col("raw")).as("n_lines"),
          TextFunctions.distinctLineCount(col("raw")).as("n_distinct_lines"),
          TextFunctions.dupLineFraction(col("raw")).as("dup_line_frac"))
    }),
    "q80_decontamination" -> ((s, d) => {
      // benchmark decontamination: probe set = docs with doc_id % 97 = 0,
      // corpus = the rest; overlap = count of the doc's distinct word
      // bigrams that appear in any probe doc. Integer counts — the oracle
      // reproduces the exact same sets via list comprehension SQL
      val all = docs(s, d)
      val probes = all.filter(col("doc_id") % 97 === 0)
      val corpus = all.filter(col("doc_id") % 97 =!= 0)
      Dedup.contaminationOverlap(corpus, probes, "doc_id", "text", n = 2, minOverlap = 20)
    }),
    "q81_stratified_sample" -> ((s, d) => {
      // deterministic data-mixing sample: per-group keep fractions decided
      // by the rolling-fingerprint hash of "s:<id>" — reproducible across
      // restarts and task retries (rand() is neither), and the oracle
      // replays every keep decision exactly
      val grouped = docs(s, d).withColumn("grp", (col("doc_id") % 3).cast("string"))
      Sampling.stratifiedSample(grouped, "doc_id", "grp",
        weights = Map("0" -> 0.5, "1" -> 0.2), defaultFraction = 0.05)
        .select(col("doc_id"), col("grp"))
    }),
    "q82_pack_sequences" -> ((s, d) =>
      // chunked sequence packing for training batches: sharded exclusive
      // prefix-sum of token counts, pack = prefix div budget — one window
      // pass, no global-order bottleneck. A synthetic empty document (id
      // derived as min(doc_id)-1, collision-proof) rides along so the gate
      // exercises the tokens()==0 degenerate path the corpus lacks.
      Sampling.packSequences(docsWithEmpty(s, d), "doc_id", "text",
        budgetTokens = 512, shards = 8)
        .select(col("doc_id"), col("n_tokens"), col("shard"), col("pack"))),
    "q83_assemble_packs" -> ((s, d) => {
      // training-chunk assembly: each pack's member docs concatenated in id
      // order with a separator token; the oracle reproduces the exact chunk
      // text (compared via md5) with an ordered string_agg. Includes the
      // same synthetic empty doc as q82 (degenerate-token-count coverage).
      val packed = Sampling.packSequences(docsWithEmpty(s, d), "doc_id", "text",
        budgetTokens = 512, shards = 8)
      Sampling.assemblePacks(packed, "doc_id", "text")
        .select(col("shard"), col("pack"), col("n_docs"), col("pack_tokens"),
          md5(col("pack_text")).as("chunk_md5"))
    }),
    "q84_domain_filter" -> ((s, d) => {
      // domain-blocklist filtering: URLs with doc-derived (mixed-case)
      // hosts are constructed around each doc, hosts extracted+lowercased,
      // and the blocklist decision gated against closed-form values
      val raw = concat(col("text"), lit(" see https://Site"),
        (col("doc_id") % 5).cast("string"), lit(".Example.com/p and http://blocked"),
        (col("doc_id") % 3).cast("string"), lit(".org/x"))
      docs(s, d).select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          array_join(TextFunctions.urlHosts(col("raw")), ",").as("hosts"),
          size(TextFunctions.urlHosts(col("raw"))).as("n_urls"),
          TextFunctions.hasBlockedDomain(col("raw"), Seq("blocked0.org")).as("blocked"))
    }),
    "q85_paragraph_dedup" -> ((s, d) => {
      // span-level dedup: docs are built with a globally-unique head, a
      // boilerplate paragraph 'x' shared by EVERY doc (corpus count = N,
      // discovered by the engine's corpus-wide count), and a unique tail —
      // the cleaned text must equal the closed-form head+tail the oracle
      // states
      val raw = concat_ws("\n",
        concat(lit("h"), col("doc_id").cast("string"), lit(" "),
          substring(trim(col("text")), 1, 10)),
        lit("x"),
        concat(lit("u"), col("doc_id").cast("string")))
      val built = docs(s, d).select(col("doc_id"), raw.as("text"))
      Dedup.dropRepeatedParagraphs(built, "doc_id", "text", maxOccurrences = 2)
        .select(col("doc_id"), col("n_paras_kept"), col("cleaned"))
    }),
    "q86_ngram_repetition" -> ((s, d) => {
      // within-doc repetition: a 3-word phrase repeated k = 2 + doc_id % 3
      // times has 3k-1 bigrams of which exactly 3 are distinct, so the
      // duplicate fraction is the closed-form 1 - 3/(3k-1)
      val k = (lit(2) + col("doc_id") % 3).cast("int")
      val built = docs(s, d).select(col("doc_id"),
        rtrim(repeat(lit("alpha beta gamma "), k)).as("looped"))
      built.select(col("doc_id"),
        TextFunctions.tokenCount(col("looped")).as("n_tokens"),
        TextFunctions.dupNgramFraction(col("looped"), 2).as("dup_bigram_frac"))
    }),
    "q61_intersection_all" -> ((s, d) => boxes(s, d)
      .groupBy(col("l_returnflag"))
      .agg(st_intersection_all_agg(col("box_a")).as("g"))
      .select(col("l_returnflag"), round(st_area(col("g")), 6).as("iarea"))),
    "q57_estimate_utm" -> ((s, d) => pts(s, d)
      .withColumn("lonlat", st_point(col("px") * 3.6 - 180.0, col("py") * 1.6 - 80.0))
      .select(col("c_custkey"), st_estimate_utm_epsg(col("lonlat")).as("epsg"))),
    "q58_sessionize" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      val tsSec = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => col("ts").cast("double") / 1.0e9
        case _ => unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)).cast("double") / 1.0e6
      }
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("sec")
      ev.withColumn("sec", tsSec)
        .withColumn("prev", lag("sec", 1).over(w))
        .withColumn("new_session",
          when(col("prev").isNull || col("sec") - col("prev") > 1800.0, 1).otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_session").cast("long").as("n_sessions"), count(lit(1)).as("n_events"))
    }),
    "q59_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", n = 2, threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),
    "q67_pipeline" -> ((s, d) => {
      // end-to-end training-data pipeline in ONE lazy plan: quality filter →
      // language filter → exact dedup → minhash near-dup removal → stats
      val filtered = docs(s, d)
        .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
        .filter(TextFunctions.langId(col("text")) === "en")
      // ScratchCache: `exact` (quality+lang UDF filters + the md5 window
      // dedup) feeds THREE consumers — minhashPairs' shingling, the
      // left-anti join's probe side, and through it the final agg — so
      // uncached the full filter+window subtree re-ran per consumer
      // (caller-side caching, the q135/q140 posture; results unchanged)
      val exact = graft.ops.ScratchCache(Dedup.exact(filtered, "doc_id", "text"))
      val pairs = Dedup.minhashPairs(exact, "doc_id", "text", k = 3, numHashes = 16, bands = 4, threshold = 0.5)
      val nearDups = pairs.select(col("id_b").as("doc_id")).distinct()
      val kept = exact.join(nearDups, Seq("doc_id"), "left_anti")
      kept.agg(count(lit(1)).as("n_docs"),
        round(avg(TextFunctions.tokenCount(col("text"))), 4).as("avg_tokens"),
        sum(col("dup_count")).as("n_represented"))
    }),
    "q66_dissolve_coverage" -> ((s, d) => {
      // the nation grid is a perfect polygonal coverage (non-overlapping,
      // edge-matched 20x20 cells) — the case CoverageUnion is built for
      import graft.api.GeoDataFrame
      GeoDataFrame(cells(s, d).select(col("n_regionkey"), col("n_nationkey"), col("geometry")))
        .dissolve(by = Seq("n_regionkey"), aggfunc = Map("n_nationkey" -> "count"), method = "coverage").df
        .select(col("n_regionkey"), round(st_area(col("geometry")), 6).as("area"),
          col("n_nationkey").as("n_cells"))
    }),
    "q63_ann_indexed" -> ((s, d) => {
      // the 100 TB ANN path: bucket column persisted at ingest, files sorted
      // by bucket, query filters on the STORED column (pushed to the scan)
      // and rescores only survivors. Build runs once per JVM (memoIndex) —
      // the measured steady state is query-only, like a served index.
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val dir = memoIndex(s"q63_ann_indexed:$d") {
        val tmp = java.nio.file.Files.createTempDirectory("graft_ann").toString
        Similarity.withAnnBucket(embs(s, d), "embedding")
          .sort("ann_bucket").write.mode("overwrite").parquet(s"$tmp/emb")
        tmp
      }
      val indexed = s.read.parquet(s"$dir/emb")
      Similarity.annTopKIndexed(indexed, "embedding", q, 10, probeHamming = 2)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }),
    "q64_minhash_fast" -> ((s, d) =>
      // engine-native xxhash64 signature (codegen, no digest UDF); verified
      // pair set coincides with the md5 spec path, which the oracle mirrors
      Dedup.minhashPairsFast(docs(s, d), "doc_id", "text", k = 3, numHashes = 16, bands = 4, threshold = 0.95)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),
    "q65_embedding_lsh" -> ((s, d) =>
      // the scale path for embedding dedup (multi-table LSH, bucket-bounded
      // work) gated directly against the brute-force pair oracle: any
      // recall loss fails the hash compare. The driver data's closest pairs
      // sit at cosine ~0.45-0.51, so the gate runs there (a 0.95 gate would
      // be vacuously green on an empty pair set) with banding re-tuned for
      // that threshold: 4 planes/band × 48 tables gives per-pair miss
      // ≈ (1 - p^4)^48 ≈ 8.5e-5 at t=0.45 (p = 1 - arccos(t)/π), verified
      // exhaustive on this data. Production dedup at t=0.95 keeps the
      // sharper 8×24 default; both exercise the identical code path.
      Dedup.embeddingPairs(embs(s, d), "vec_id", "embedding",
        planes = 192, bands = 48, threshold = 0.45)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))),
    "q68_ivf_topk" -> ((s, d) => {
      // the second ANN scale path (inverted file): deterministic md5-seeded
      // centroids + one rounded Lloyd step, stored cell column, nprobe cell
      // pruning — every stage reproduced by the SQL oracle, so centroid
      // drift, assignment bugs or probe-order regressions fail the hash
      val e = embs(s, d)
      val q = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      // build once per JVM: centroids + cell-sorted parquet (stored index,
      // same shape as q63) — queries then prune on the STORED cell column
      val (cents, dir) = memoIndex(s"q68_ivf_topk:$d") {
        val c = Similarity.ivfCentroids(e, "vec_id", "embedding", k = 16)
        val tmp = java.nio.file.Files.createTempDirectory("graft_ivf").toString
        Similarity.withIvfCell(e, "embedding", c)
          .sort("ivf_cell").write.mode("overwrite").parquet(s"$tmp/emb")
        (c, tmp)
      }
      val indexed = s.read.parquet(s"$dir/emb")
      Similarity.ivfTopK(indexed, "embedding", cents, q, 10, nprobe = 4)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }),
    "q62_sjoin_left_attr" -> ((s, d) => {
      // left sjoin + on_attribute: pairs must satisfy BOTH the spatial
      // predicate and the attribute equality; rows failing either survive
      // as unmatched with NULLs (ref sjoin.py:574-586 + 381-420)
      val p = pts(s, d).withColumn("nk", col("c_nationkey").cast("long"))
      val c = cells(s, d).withColumn("nk", col("n_nationkey").cast("long"))
      SpatialJoin.sjoin(p, c, predicate = "intersects", how = "left", onAttribute = Seq("nk"))
        .select(col("c_custkey"), col("n_nationkey"))
    }),
    "q60_embedding_pairs" -> ((s, d) => {
      val e = embs(s, d).filter(col("vec_id") < 2000) // bound the O(n^2) pair scan
      // norms once per vector (not per pair), via the native VecNorm kernel;
      // values identical to the HOF form, so the oracle formula is unchanged
      val withNorm = e.withColumn("__n", Similarity.norm(col("embedding")))
      // single-file input = one partition; the nested-loop pair scan
      // parallelizes over stream-side partitions, so spread them first
      val par = s.sparkContext.defaultParallelism
      val a = withNorm.repartition(par)
        .select(col("vec_id").as("id_a"), col("embedding").as("__va"), col("__n").as("__na"))
      val b = withNorm.select(col("vec_id").as("id_b"), col("embedding").as("__vb"), col("__n").as("__nb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cosine",
          when(col("__na") === 0.0 || col("__nb") === 0.0, 0.0)
            .otherwise(Similarity.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))))
        .filter(col("cosine") >= 0.45)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),

    // -- round 10: closed-form oracle gates for the constructive-geometry and
    // coordinate-exact operator tail. Every fixture is integer-parameterized
    // off n_nationkey so the DuckDB mirror can derive the expected scalars /
    // WKT strings by construction (grid polygonize -> k^2 unit faces, grid
    // delaunay -> 2(k-1)^2 triangles, rectangle MIC -> center + min-side/2,
    // parallel segments -> exact hausdorff/frechet, etc.).
    "q88_polygonize" -> ((s, d) => {
      // ref base.py:6545 (shapely.polygonize): NODED unit segments of a k x k
      // grid polygonize into exactly k^2 faces of area 1
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("k", (col("n_nationkey") % 3 + 2).cast("int"))
      val segs = expr(
        "concat(" +
          "transform(sequence(0, (k+1)*k - 1), h -> concat('(', h % k, ' ', h div k, ', ', h % k + 1, ' ', h div k, ')')), " +
          "transform(sequence(0, (k+1)*k - 1), v -> concat('(', v div k, ' ', v % k, ', ', v div k, ' ', v % k + 1, ')')))")
      n.withColumn("mls", concat(lit("MULTILINESTRING ("), array_join(segs, ", "), lit(")")))
        .withColumn("faces", st_polygonize(st_parts(st_geomfromwkt(col("mls")))))
        .select(col("n_nationkey"), st_ngeometries(col("faces")).as("n_faces"),
          round(st_area(col("faces")), 6).as("total_area"))
    }),
    "q89_polygonize_full" -> ((s, d) => {
      // full=True 4-output form (ref base.py:6592): same noded grid plus one
      // dangling segment -> k^2 polygons, 0 cut edges, exactly that dangle
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("k", (col("n_nationkey") % 3 + 2).cast("int"))
      val segs = expr(
        "concat(" +
          "transform(sequence(0, (k+1)*k - 1), h -> concat('(', h % k, ' ', h div k, ', ', h % k + 1, ' ', h div k, ')')), " +
          "transform(sequence(0, (k+1)*k - 1), v -> concat('(', v div k, ' ', v % k, ', ', v div k, ' ', v % k + 1, ')')))")
      n.withColumn("mls", concat(lit("MULTILINESTRING ("), array_join(segs, ", "), lit(", (0 0, -1 -1))")))
        .withColumn("pf", st_polygonize_full(st_parts(st_geomfromwkt(col("mls")))))
        .select(col("n_nationkey"),
          st_ngeometries(col("pf").getField("polygons")).as("n_polys"),
          st_ngeometries(col("pf").getField("cut_edges")).as("n_cuts"),
          st_ngeometries(col("pf").getField("dangles")).as("n_dangles"),
          st_astext(col("pf").getField("dangles")).as("dangles_wkt"))
    }),
    "q90_delaunay" -> ((s, d) => {
      // ref base.py:1243 (delaunay_triangles): a k x k unit point grid
      // triangulates into 2(k-1)^2 triangles covering area (k-1)^2
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("k", (col("n_nationkey") % 3 + 2).cast("int"))
        .withColumn("mp", expr(
          "concat('MULTIPOINT (', array_join(transform(sequence(0, k*k - 1), i -> concat('(', i % k, ' ', i div k, ')')), ', '), ')')"))
      n.withColumn("tri", st_delaunay_triangles(st_geomfromwkt(col("mp")), lit(0.0), lit(false)))
        .select(col("n_nationkey"), st_ngeometries(col("tri")).as("n_tri"),
          round(st_area(col("tri")), 6).as("area"))
    }),
    "q91_constrained_delaunay" -> ((s, d) => {
      // ref base.py:1286 (constrained_delaunay_triangles): a 6-vertex L-shape
      // triangulates (no Steiner points) into exactly v-2 = 4 triangles whose
      // union is the polygon itself -> area 12*sc^2
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("sc", (col("n_nationkey") % 3 + 1).cast("int"))
        .withColumn("ell", expr(
          "concat('POLYGON ((0 0, ', 4*sc, ' 0, ', 4*sc, ' ', 2*sc, ', ', 2*sc, ' ', 2*sc, ', ', 2*sc, ' ', 4*sc, ', 0 ', 4*sc, ', 0 0))')"))
      n.withColumn("tri", st_constrained_delaunay(st_geomfromwkt(col("ell"))))
        .select(col("n_nationkey"), st_ngeometries(col("tri")).as("n_tri"),
          round(st_area(col("tri")), 6).as("area"))
    }),
    "q92_voronoi" -> ((s, d) => {
      // ref base.py:1301 (voronoi_polygons with extend_to): m x m sites at
      // odd coordinates clipped to box(0,0,2m,2m) -> m^2 congruent 2x2 cells
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("m", (col("n_nationkey") % 2 + 2).cast("int"))
        .withColumn("sites", expr(
          "concat('MULTIPOINT (', array_join(transform(sequence(0, m*m - 1), i -> concat('(', 2*(i % m) + 1, ' ', 2*(i div m) + 1, ')')), ', '), ')')"))
        .withColumn("vor", st_voronoi(st_geomfromwkt(col("sites")), lit(0.0), lit(false),
          st_makebox(lit(0.0), lit(0.0), (col("m") * 2).cast("double"), (col("m") * 2).cast("double"))))
      n.select(col("n_nationkey"), explode(st_parts(col("vor"))).as("cell"))
        .select(col("n_nationkey"), st_area(col("cell")).as("ca"))
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n_cells"), round(min(col("ca")), 6).as("min_area"),
          round(max(col("ca")), 6).as("max_area"), round(sum(col("ca")), 6).as("sum_area"))
    }),
    "q93_inscribed_circle" -> ((s, d) => {
      // ref base.py:1853 (maximum_inscribed_circle): for a square of side sq
      // the radius line runs from the exact center, length sq/2 (the initial
      // grid cell of the JTS search is already the optimum, so the center is
      // exact, not tolerance-dependent)
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("sq", (col("n_nationkey") % 5 + 1).cast("double"))
        .withColumn("mic", st_maximum_inscribed_circle(
          st_makebox(lit(0.0), lit(0.0), col("sq"), col("sq")), lit(1e-7)))
      // a named column: the interpolated center point feeds cx AND cy
      n.withColumn("__ctr", st_interpolate(col("mic"), lit(0.0), lit(false)))
        .select(col("n_nationkey"),
          round(st_x(col("__ctr")), 6).as("cx"),
          round(st_y(col("__ctr")), 6).as("cy"),
          round(st_length(col("mic")), 6).as("r"))
    }),
    "q94_min_clearance" -> ((s, d) => {
      // ref base.py:1914/1945 (minimum_clearance + line): for an axis-aligned
      // w x h rectangle the clearance is min(w,h) (closest vertex-to-
      // nonadjacent-edge distance), and the clearance line has that length
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("w", (col("n_nationkey") % 4 + 2).cast("double"))
        .withColumn("h", (col("n_nationkey") % 2 + 1).cast("double"))
        .withColumn("g", st_makebox(lit(0.0), lit(0.0), col("w"), col("h")))
      n.select(col("n_nationkey"),
        round(st_minimum_clearance(col("g")), 6).as("clearance"),
        round(st_length(st_minimum_clearance_line(col("g"))), 6).as("line_len"))
    }),
    "q95_build_area" -> ((s, d) => {
      // ref base.py:6632 (build_area): outer ring box(0,0,4sc,4sc) + inner
      // ring box(sc,sc,2sc,2sc) assemble into one polygon with one hole,
      // area 16sc^2 - sc^2 = 15sc^2
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("sc", (col("n_nationkey") % 3 + 1).cast("int"))
        .withColumn("gc", expr(
          "concat('GEOMETRYCOLLECTION (LINESTRING (0 0, 0 ', 4*sc, ', ', 4*sc, ' ', 4*sc, ', ', 4*sc, ' 0, 0 0), " +
            "LINESTRING (', sc, ' ', sc, ', ', sc, ' ', 2*sc, ', ', 2*sc, ' ', 2*sc, ', ', 2*sc, ' ', sc, ', ', sc, ' ', sc, '))')"))
        .withColumn("ba", st_build_area(st_geomfromwkt(col("gc"))))
      n.select(col("n_nationkey"), round(st_area(col("ba")), 6).as("area"),
        st_n_interior_rings(col("ba")).as("n_holes"))
    }),
    "q96_hausdorff_frechet" -> ((s, d) => {
      // ref base.py:4166/4281: for parallel overlapping segments a=(0,0)-(10,0)
      // and b=(0,dd)-(l2,dd) with l2 >= 10, both discrete distances equal
      // sqrt((l2-10)^2 + dd^2) exactly (all intermediate doubles are small
      // integers, so both engines compute the identical IEEE sqrt input)
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("l2", (col("n_nationkey") % 5 + 10).cast("double"))
        .withColumn("dd", (col("n_nationkey") % 4 + 1).cast("double"))
        .withColumn("la", st_makeline(st_point(lit(0.0), lit(0.0)), st_point(lit(10.0), lit(0.0))))
        .withColumn("lb", st_makeline(st_point(lit(0.0), col("dd")), st_point(col("l2"), col("dd"))))
      n.select(col("n_nationkey"),
        round(st_hausdorff_distance(col("la"), col("lb")), 6).as("hd"),
        round(st_frechet_distance(col("la"), col("lb")), 6).as("fd"))
    }),
    "q97_shortest_project" -> ((s, d) => {
      // ref base.py:4949 (shortest_line) + base.py:5827 (project): against the
      // horizontal segment (0,2)-(10,2) the nearest point of (px,py) is
      // (clamp(px,0,10), 2) -- exact integers end to end
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("px", (col("n_nationkey") % 15).cast("int"))
        .withColumn("py", (col("n_nationkey") % 4 + 3).cast("int"))
        .withColumn("pt", st_point(col("px").cast("double"), col("py").cast("double")))
        .withColumn("seg", st_makeline(st_point(lit(0.0), lit(2.0)), st_point(lit(10.0), lit(2.0))))
      n.select(col("n_nationkey"),
        st_astext(st_shortest_line(col("pt"), col("seg"))).as("short_wkt"),
        round(st_project(col("seg"), col("pt"), lit(false)), 6).as("proj"),
        round(st_project(col("seg"), col("pt"), lit(true)), 6).as("proj_n"))
    }),
    "q98_normalize_orient" -> ((s, d) => {
      // ref base.py:2063 (normalize) + base.py:2112 (orient_polygons): JTS
      // canonical polygon form is the CW ring starting at the minimum
      // coordinate; a CCW ring rotated to another start vertex must come back
      // as exactly that string. Lines normalize smaller-endpoint-first.
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("x0", (col("n_nationkey") % 5).cast("int"))
        .withColumn("y0", (col("n_nationkey") % 3).cast("int"))
        .withColumn("x1", (col("n_nationkey") % 5 + 1 + col("n_nationkey") % 4).cast("int"))
        .withColumn("y1", (col("n_nationkey") % 3 + 1 + col("n_nationkey") % 2).cast("int"))
        .withColumn("ccw_in", expr(
          "concat('POLYGON ((', x1, ' ', y0, ', ', x1, ' ', y1, ', ', x0, ' ', y1, ', ', x0, ' ', y0, ', ', x1, ' ', y0, '))')"))
        .withColumn("canon", expr(
          "concat('POLYGON ((', x0, ' ', y0, ', ', x0, ' ', y1, ', ', x1, ' ', y1, ', ', x1, ' ', y0, ', ', x0, ' ', y0, '))')"))
        .withColumn("line_in", expr("concat('LINESTRING (', x1, ' ', y1, ', ', x0, ' ', y0, ')')"))
      n.select(col("n_nationkey"),
        st_astext(st_normalize(st_geomfromwkt(col("ccw_in")))).as("norm_poly"),
        st_astext(st_normalize(st_geomfromwkt(col("line_in")))).as("norm_line"),
        st_astext(st_orient_polygons(st_geomfromwkt(col("canon")), lit(false))).as("ccw_wkt"),
        st_astext(st_orient_polygons(st_geomfromwkt(col("canon")), lit(true))).as("cw_wkt"))
    }),
    "q99_exterior_points" -> ((s, d) => {
      // ref base.py:2493 (exterior) / base.py:2654 (extract_unique_points) /
      // base.py:2750 (remove_repeated_points) / base.py:2439 (force_2d) --
      // integer fixtures whose expected WKT is derivable by construction
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("a", (col("n_nationkey") % 4).cast("int"))
        .withColumn("b", (col("n_nationkey") % 3).cast("int"))
        .withColumn("c", (col("n_nationkey") % 4 + 1 + col("n_nationkey") % 2).cast("int"))
        .withColumn("e", (col("n_nationkey") % 3 + 2).cast("int"))
        .withColumn("dupline", expr(
          "concat('LINESTRING (', a, ' ', b, ', ', a, ' ', b, ', ', c, ' ', b, ', ', c, ' ', b, ', ', c, ' ', e, ')')"))
      n.select(col("n_nationkey"),
        st_astext(st_exterior(st_makebox(col("a").cast("double"), col("b").cast("double"),
          col("c").cast("double"), col("e").cast("double")))).as("exterior_wkt"),
        st_astext(st_extract_unique_points(st_geomfromwkt(col("dupline")))).as("unique_wkt"),
        st_astext(st_remove_repeated_points(st_geomfromwkt(col("dupline")), lit(0.0))).as("dedup_wkt"),
        st_astext(st_force_2d(st_point_z(col("a").cast("double"), col("b").cast("double"), lit(9.0)))).as("flat_wkt"))
    }),
    "q100_linemerge_geomn" -> ((s, d) => {
      // ref base.py:3026 (line_merge + directed=True) + base.py:2850
      // (get_geometry): two touching segments merge into one line undirected;
      // with the second segment reversed the directed merge must NOT join
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("a", (col("n_nationkey") % 4).cast("int"))
        .withColumn("b", (col("n_nationkey") % 3).cast("int"))
        .withColumn("c", (col("n_nationkey") % 4 + 1 + col("n_nationkey") % 2).cast("int"))
        .withColumn("e", (col("n_nationkey") % 3 + 2).cast("int"))
        .withColumn("mlsf", expr(
          "concat('MULTILINESTRING ((', a, ' ', b, ', ', c, ' ', b, '), (', c, ' ', b, ', ', c, ' ', e, '))')"))
        .withColumn("mlsr", expr(
          "concat('MULTILINESTRING ((', a, ' ', b, ', ', c, ' ', b, '), (', c, ' ', e, ', ', c, ' ', b, '))')"))
        .withColumn("mp", expr(
          "concat('MULTIPOINT ((', a, ' ', b, '), (', c, ' ', b, '), (', c, ' ', e, '))')"))
      n.select(col("n_nationkey"),
        st_astext(st_line_merge(st_geomfromwkt(col("mlsf")))).as("merged_wkt"),
        st_ngeometries(st_line_merge(st_geomfromwkt(col("mlsf")))).as("n_merged"),
        st_ngeometries(st_line_merge_directed(st_geomfromwkt(col("mlsr")))).as("n_directed"),
        st_astext(st_geometry_n(st_geomfromwkt(col("mp")), lit(1))).as("geomn_wkt"))
    }),
    "q101_offset_precision" -> ((s, d) => {
      // ref base.py:3106 (offset_curve) + base.py:2795 (set_precision): the
      // offset of a horizontal segment is the exact translated segment (left
      // for +dd, right for -dd, direction preserved); snapping (n+.25, n+.75)
      // to a 0.5 grid rounds half-up to (n+.5, n+1)
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("a", (col("n_nationkey") % 3).cast("int"))
        .withColumn("b", (col("n_nationkey") % 4 + 1).cast("int"))
        .withColumn("l", (col("n_nationkey") % 5 + 5).cast("int"))
        .withColumn("dd", (col("n_nationkey") % 3 + 1).cast("int"))
        .withColumn("seg", st_makeline(st_point(col("a").cast("double"), col("b").cast("double")),
          st_point((col("a") + col("l")).cast("double"), col("b").cast("double"))))
      n.select(col("n_nationkey"),
        st_astext(st_offset_curve(col("seg"), col("dd").cast("double"), lit(8), lit(1), lit(5.0))).as("off_pos_wkt"),
        st_astext(st_offset_curve(col("seg"), -col("dd").cast("double"), lit(8), lit(1), lit(5.0))).as("off_neg_wkt"),
        st_astext(st_set_precision(st_point(col("n_nationkey").cast("double") + lit(0.25),
          col("n_nationkey").cast("double") + lit(0.75)), lit(0.5))).as("prec_wkt"))
    }),
    "q102_mbc_concave_repr" -> ((s, d) => {
      // ref base.py:1395 (minimum_bounding_circle geometry: buffer fans put
      // vertices exactly at center +- r on both axes) + base.py:1136
      // (concave_hull ratio 1 = convex hull of a box) + base.py:878
      // (representative_point of a rectangle = its center)
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("w", (col("n_nationkey") % 4 + 1).cast("double"))
        .withColumn("h", (col("n_nationkey") % 3 + 1).cast("double"))
        .withColumn("g", st_makebox(lit(0.0), lit(0.0), col("w"), col("h")))
        .withColumn("bd", st_bounds(st_minimum_bounding_circle(col("g"))))
        .withColumn("ch", st_concave_hull(col("g"), lit(1.0), lit(false)))
        .withColumn("rp", st_representative_point(col("g")))
      n.select(col("n_nationkey"),
        round(col("bd").getField("xmin"), 6).as("bx0"),
        round(col("bd").getField("ymin"), 6).as("by0"),
        round(col("bd").getField("xmax"), 6).as("bx1"),
        round(col("bd").getField("ymax"), 6).as("by1"),
        round(st_area(col("ch")), 6).as("ch_area"),
        st_npoints(col("ch")).as("ch_npts"),
        round(st_x(col("rp")), 6).as("rx"),
        round(st_y(col("rp")), 6).as("ry"))
    }),
    "q103_shared_valid" -> ((s, d) => {
      // ref base.py:5009 (shared_paths: collinear overlap lands in the same-
      // direction vs opposite-direction component by construction) +
      // base.py:1761 (make_valid: a bowtie splits into 2 triangles, area 8sc^2)
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("aa", (col("n_nationkey") % 3 + 1).cast("int"))
        .withColumn("bb", (col("n_nationkey") % 3 + 2 + col("n_nationkey") % 4).cast("int"))
        .withColumn("sc", (col("n_nationkey") % 3 + 1).cast("int"))
        .withColumn("base", st_makeline(st_point(lit(0.0), lit(0.0)), st_point(lit(10.0), lit(0.0))))
        .withColumn("fwd", st_makeline(st_point(col("aa").cast("double"), lit(0.0)),
          st_point(col("bb").cast("double"), lit(0.0))))
        .withColumn("rev", st_makeline(st_point(col("bb").cast("double"), lit(0.0)),
          st_point(col("aa").cast("double"), lit(0.0))))
        .withColumn("bow", expr(
          "concat('POLYGON ((0 0, ', 4*sc, ' ', 4*sc, ', ', 4*sc, ' 0, 0 ', 4*sc, ', 0 0))')"))
        .withColumn("mv", st_make_valid(st_geomfromwkt(col("bow"))))
      n.select(col("n_nationkey"),
        st_astext(st_shared_paths(col("base"), col("fwd"))).as("fwd_wkt"),
        st_astext(st_shared_paths(col("base"), col("rev"))).as("rev_wkt"),
        round(st_area(col("mv")), 6).as("mv_area"),
        st_ngeometries(col("mv")).as("mv_n"))
    }),
    "q104_sample_points" -> ((s, d) => {
      // ref geoseries.py sample_points: count is exact, every point falls in
      // the source box, and the seeded sampler is deterministic (the strong
      // determinism gate is DeterminismSpec + the speculation Verify pass)
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("w", (col("n_nationkey") % 4 + 2).cast("double"))
        .withColumn("h", (col("n_nationkey") % 3 + 2).cast("double"))
        .withColumn("cnt", (col("n_nationkey") % 5 + 10).cast("int"))
        .withColumn("g", st_makebox(lit(0.0), lit(0.0), col("w"), col("h")))
        .withColumn("sp", st_sample_points(col("g"), col("cnt"), lit(42L)))
        .withColumn("sp2", st_sample_points(col("g"), col("cnt"), lit(42L)))
        .withColumn("bd", st_bounds(col("sp")))
      n.select(col("n_nationkey"),
        st_ngeometries(col("sp")).as("n_pts"),
        (col("bd").getField("xmin") >= 0.0 && col("bd").getField("ymin") >= 0.0 &&
          col("bd").getField("xmax") <= col("w") && col("bd").getField("ymax") <= col("h")).as("in_box"),
        st_equals_exact(col("sp"), col("sp2"), lit(0.0)).as("deterministic"))
    }),
    "q105_simplify_coverage" -> ((s, d) => {
      // ref geoseries.py simplify_coverage (JTS CoverageSimplifier): two
      // rectangles sharing a zigzag boundary simplify (tol 0.5 > zigzag
      // amplitude 0.2) to two exact 2x2 squares -- area preserved per part
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("t", (col("n_nationkey") % 4).cast("int"))
        .withColumn("lw", expr(
          "concat('POLYGON ((0 ', t, ', 0 ', t+2, ', 2 ', t+2, ', 1.8 ', t+1.5, ', 2.2 ', t+1, ', 1.8 ', t+0.5, ', 2 ', t, ', 0 ', t, '))')"))
        .withColumn("rw", expr(
          "concat('POLYGON ((2 ', t, ', 1.8 ', t+0.5, ', 2.2 ', t+1, ', 1.8 ', t+1.5, ', 2 ', t+2, ', 4 ', t+2, ', 4 ', t, ', 2 ', t, '))')"))
      // explode the UDF itself: exploding a column that holds it lets
      // InferFiltersFromGenerate copy the UDF into a `size(...) > 0` filter
      n.select(col("n_nationkey"), explode(st_simplify_coverage(
          array(st_geomfromwkt(col("lw")), st_geomfromwkt(col("rw"))), lit(0.5))).as("pg"))
        .select(col("n_nationkey"), st_area(col("pg")).as("pa"))
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n_parts"), round(min(col("pa")), 6).as("min_area"),
          round(max(col("pa")), 6).as("max_area"), round(sum(col("pa")), 6).as("sum_area"))
    }),
    "q106_transform_coords" -> ((s, d) => {
      // ref base.py:6675 (transform with a coordinate function): integer
      // line endpoints through (x,y) -> (x+1, 2y) stay exact
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("a", (col("n_nationkey") % 4).cast("int"))
        .withColumn("b", (col("n_nationkey") % 3).cast("int"))
        .withColumn("c", (col("n_nationkey") % 4 + 1 + col("n_nationkey") % 2).cast("int"))
        .withColumn("e", (col("n_nationkey") % 3 + 2).cast("int"))
        .withColumn("seg", st_makeline(st_point(col("a").cast("double"), col("b").cast("double")),
          st_point(col("c").cast("double"), col("e").cast("double"))))
      n.select(col("n_nationkey"),
        st_astext(st_transform_coords(col("seg"))((x, y, z) => (x + 1.0, 2.0 * y, z))).as("tx_wkt"))
    }),
    "q107_knn_graph" -> ((s, d) => {
      // kNN graph over the multi-table LSH band join (Similarity.knnJoin).
      // The oracle is the BRUTE-FORCE top-k per id on the key-filtered
      // subset, so any LSH recall miss among the true top-k fails the hash
      // (the q65 gate philosophy); the subset bound keeps work at 1x under
      // replication like q60. 32 one-bit bands make the per-pair miss
      // probability (theta/pi)^32 — vanishing even for the ~0.25-cosine
      // neighbours a random-embedding top-3 contains (16x4-bit banding,
      // the selective-at-scale shape q65 gates, measurably misses those).
      val e = embs(s, d).filter(col("vec_id") < 500)
      Similarity.knnJoin(e, "vec_id", "embedding", k = 3, planes = 32, bands = 32)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),
    "q108_densify_distances" -> ((s, d) => {
      // ref base.py:4166 (hausdorff densify=) / base.py:4281 (frechet
      // densify=). Hausdorff fixture: A = horizontal line y=h over [0,w];
      // B = the two vertical edges x=0 and x=w of height 2h. Plain discrete
      // HD = h (B's corners to A); densified samples on A reach w/2
      // (frac 0.5) and w/3 (frac 0.34 — JTS rint(1/0.34) = 3 subsegments,
      // exercising the rint semantics). Frechet fixture: segment (0,0)-(L,0)
      // vs the hat through (L/2,e): plain = sqrt((L/2)^2 + e^2) (the apex is
      // forced to pair with an endpoint); frac 0.5 adds midpoints so the
      // worst forced pair is the quarter-point, sqrt((L/4)^2 + (e/2)^2);
      // frac 0.25 -> max(e, sqrt((L/8)^2 + (3e/4)^2)). w % 6 = 0, L % 8 = 0
      // and e even by construction, so every coordinate (and every squared
      // distance) is exact and both engines sqrt the same IEEE value.
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("h", (col("n_nationkey") % 3 + 1).cast("int"))
        .withColumn("w", ((col("n_nationkey") % 3 + 2) * 6).cast("int"))
        .withColumn("l2", ((col("n_nationkey") % 3 + 2) * 4).cast("int"))
        .withColumn("e", ((col("n_nationkey") % 2 + 1) * 2).cast("int"))
        .withColumn("ha", st_makeline(st_point(lit(0.0), col("h").cast("double")),
          st_point(col("w").cast("double"), col("h").cast("double"))))
        .withColumn("hb", st_geomfromwkt(concat(
          lit("MULTILINESTRING ((0 0, 0 "), col("h") * 2, lit("), ("),
          col("w"), lit(" 0, "), col("w"), lit(" "), col("h") * 2, lit("))"))))
        .withColumn("fa", st_makeline(st_point(lit(0.0), lit(0.0)),
          st_point((col("l2") * 2).cast("double"), lit(0.0))))
        .withColumn("fb", st_geomfromwkt(concat(
          lit("LINESTRING (0 0, "), col("l2"), lit(" "), col("e"),
          lit(", "), col("l2") * 2, lit(" 0)"))))
      n.select(col("n_nationkey"),
        round(st_hausdorff_distance(col("ha"), col("hb")), 6).as("hd"),
        round(st_hausdorff_distance(col("ha"), col("hb"), lit(0.5)), 6).as("hd_d05"),
        round(st_hausdorff_distance(col("ha"), col("hb"), lit(0.34)), 6).as("hd_d034"),
        round(st_frechet_distance(col("fa"), col("fb")), 6).as("fr"),
        round(st_frechet_distance(col("fa"), col("fb"), lit(0.5)), 6).as("fr_d05"),
        round(st_frechet_distance(col("fa"), col("fb"), lit(0.25)), 6).as("fr_d025"))
    }),
    "q109_interiors_zm" -> ((s, d) => {
      // ref base.py:1624 (interiors list accessor), base.py:843 (m accessor,
      // JTS XYZM), base.py:3108 (geom_equals_identical). The two holes come
      // back in stored (WKT input) order as LINESTRING linework; POINT ZM
      // carries M through the WKB codec; the rotated-start square is
      // geometrically equal but not structurally identical. Integer coords.
      val n = s.read.parquet(s"$d/nation.parquet")
        .withColumn("a", (col("n_nationkey") % 3 + 1).cast("int"))
        .withColumn("b", (col("n_nationkey") % 4 + 1).cast("int"))
        .withColumn("poly", st_geomfromwkt(concat(
          lit("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), ("),
          col("a"), lit(" "), col("a"), lit(", "), col("a") + 1, lit(" "), col("a"), lit(", "),
          col("a") + 1, lit(" "), col("a") + 1, lit(", "), col("a"), lit(" "), col("a") + 1, lit(", "),
          col("a"), lit(" "), col("a"), lit("), ("),
          col("a") + 4, lit(" "), col("a"), lit(", "), col("a") + 5, lit(" "), col("a"), lit(", "),
          col("a") + 5, lit(" "), col("a") + 1, lit(", "), col("a") + 4, lit(" "), col("a") + 1, lit(", "),
          col("a") + 4, lit(" "), col("a"), lit("))"))))
        .withColumn("zm", st_geomfromwkt(concat(
          lit("POINT ZM ("), col("a"), lit(" "), col("b"), lit(" 5 7)"))))
        .withColumn("sq", st_geomfromwkt(concat(
          lit("POLYGON ((0 0, "), col("b"), lit(" 0, "), col("b"), lit(" "), col("b"),
          lit(", 0 "), col("b"), lit(", 0 0))"))))
        .withColumn("sqrot", st_geomfromwkt(concat(
          lit("POLYGON (("), col("b"), lit(" 0, "), col("b"), lit(" "), col("b"),
          lit(", 0 "), col("b"), lit(", 0 0, "), col("b"), lit(" 0))"))))
      n.select(col("n_nationkey"),
          posexplode(st_interiors(col("poly"))).as(Seq("ring_idx", "ring")),
          st_m(col("zm")).as("m_val"), st_has_m(col("zm")).as("has_m"),
          st_geom_equals_identical(col("sq"), col("sqrot")).as("ident_rot"),
          st_equals(col("sq"), col("sqrot")).as("eq_rot"))
        .withColumn("ring_wkt", st_astext(col("ring"))).drop("ring")
    }),
    "q110_gopher_rules" -> ((s, d) => {
      // Gopher document-quality rules (Rae et al. 2021 App. A1.1): symbol/
      // word ratio, bullet + ellipsis line fractions, alphabetic-word
      // fraction, required-stopword hits, and the composite keep. The doc
      // is the real text's 40-char head recomposed into four lines with
      // known bullet/ellipsis/symbol structure; the oracle rebuilds the
      // SAME string and applies the same (rounded) rules, so every branch
      // of every rule is inside the hash.
      val head = substring(trim(col("text")), 1, 40)
      val raw = concat_ws("\n",
        concat(head, lit(" and that have with...")),
        lit("• bullet item one"),
        when(col("doc_id") % 3 === 0, lit("- second bullet")).otherwise(lit("plain line of words")),
        lit("## 42 100"))
      docs(s, d).select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("raw")).as("n_words"),
          TextFunctions.symbolWordRatio(col("raw")).as("symbol_ratio"),
          TextFunctions.bulletLineFraction(col("raw")).as("bullet_frac"),
          TextFunctions.ellipsisLineFraction(col("raw")).as("ellipsis_frac"),
          TextFunctions.alphaWordFraction(col("raw")).as("alpha_frac"),
          TextFunctions.gopherStopwordHits(col("raw")).as("stop_hits"),
          TextFunctions.gopherKeep(col("raw"), minWords = 5).as("keep"))
    }),
    "q111_c4_filters" -> ((s, d) => {
      // C4 cleaning recipe (Raffel et al. 2020 §2.2): line-level keep
      // (terminal punctuation + ≥5 words + no javascript), page-level
      // lorem-ipsum / curly-brace flags, sentence-count floor. Four of the
      // five constructed lines exercise a distinct drop reason; the cleaned
      // text is compared by md5 so the exact surviving line content (and
      // join order) is inside the hash.
      val head = substring(trim(col("text")), 1, 30)
      val raw = concat_ws("\n",
        concat(head, lit(" so this sentence runs long enough.")),
        lit("too short."),
        lit("this line has no terminal punctuation at all"),
        when(col("doc_id") % 7 === 0, lit("enable javascript to view this page."))
          .otherwise(lit("a perfectly normal closing sentence here.")),
        when(col("doc_id") % 11 === 0, lit("lorem ipsum dolor sit amet consectetur."))
          .otherwise(lit("final words stay where they are.")))
      docs(s, d).select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          md5(TextFunctions.c4CleanLines(col("raw"))).as("clean_md5"),
          TextFunctions.c4SentenceCount(col("raw")).as("n_sentences"),
          TextFunctions.hasLoremIpsum(col("raw")).as("has_lorem"),
          TextFunctions.hasCurlyBrace(col("raw")).as("has_brace"),
          TextFunctions.c4Keep(col("raw")).as("keep"))
    }),
    "q112_connected_components" -> ((s, d) => {
      // transitive near-dup clustering: large-star/small-star connected
      // components over a constructed pair graph (ccTestEdges). Per 12-id
      // block the edges build a diameter-4 component {0,1,2,3,5} (chain
      // 0-1-2-3 plus a 3~5 bridge — any one-hop canonicalization labels 5
      // wrong), a reversed edge {6,10}, a self-loop singleton {8}, and a
      // duplicated edge; the oracle computes the same components by
      // recursive closure.
      val cc = Dedup.connectedComponents(ccTestEdges(s, d), "ia", "ib")
      cc.withColumn("csize",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("component")))
        .select(col("id").as("doc_id"), col("component"), col("csize"))
    }),
    "q149_cluster_keep_best" -> ((s, d) => {
      // quality-aware survivor selection: over the q112 pair graph, keep
      // the highest-scoring doc per transitive cluster (score = token
      // count; ties -> smallest id). Every doc outside the graph survives
      // as its own singleton.
      val scored = docs(s, d).select(col("doc_id"),
        size(filter(split(trim(col("text")), "\\s+"), x => x =!= lit("")))
          .cast("long").as("score"))
      Dedup.keepClusterRepresentatives(scored, ccTestEdges(s, d),
          "doc_id", "score", "ia", "ib")
        .select(col("doc_id"), col("component"), col("csize"), col("score"))
    }),
    "q150_cluster_split" -> ((s, d) =>
      // leakage-free train/val split: every transitive near-dup cluster of
      // the q112 pair graph lands wholly in one split via the md5 draw on
      // the CLUSTER label; docs outside the graph split as singletons.
      Dedup.clusterAwareSplit(docs(s, d).select(col("doc_id")), ccTestEdges(s, d),
          "doc_id", valFraction = 0.25, aCol = "ia", bCol = "ib")
        .select(col("doc_id"), col("component"), col("split"))),
    "q151_kcenter_coreset" -> ((s, d) =>
      // greedy k-center diversity coreset: 6 mutually-farthest embeddings
      // (cosine distance, seed = smallest id, ties to smallest id).
      Similarity.kCenterGreedy(embs(s, d), "vec_id", "embedding", k = 6)),
    "q156_quantized_topk" -> ((s, d) => {
      // int8 scalar quantization (scale 2^-6, exact in binary) + top-k over
      // the quantized table: dot/norms become exact small-integer sums, so
      // the oracle reproduces the cosine bit-for-bit.
      val sc = 0.015625
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val quant = embs(s, d).select(col("vec_id"),
        Similarity.quantizeI8(col("embedding"), sc).as("qemb"))
      Similarity.quantizedTopK(quant, "qemb", q, 10, sc)
        .select(col("vec_id"), col("cosine_q"))
    }),
    "q154_tfidf_terms" -> ((s, d) =>
      // per-doc keyword extraction: top-3 terms by tf·ln(N/df), tf·idf
      // rounded to 1e-6 BEFORE ranking, ties to the smaller term.
      graft.ops.Retrieval.tfidfTopTerms(docs(s, d), "doc_id", "text", k = 3)),
    "q155_ngram_novelty" -> ((s, d) =>
      // per-doc corpus uniqueness: fraction of the doc's distinct bigrams
      // owned by no other document.
      graft.ops.CorpusStats.ngramNovelty(docs(s, d), "doc_id", "text", n = 2)),
    "q153_decontaminate_spans" -> ((s, d) => {
      // span-level benchmark decontamination: docs are built with unique
      // filler tokens, and docs with doc_id % 10 == 3 embed an 8-token
      // benchmark "leak" (doc_id % 20 == 13 embeds it TWICE back-to-back —
      // the adjacent spans must merge); the benchmark suite is the 7 leak
      // variants. Expected spans are closed-form: (3, 8) single, (3, 16)
      // merged double.
      def leak(v: Column) = concat_ws(" ",
        lit("leakmark"), v.cast("string"), lit("aa bb cc dd ee ff"))
      val id = col("doc_id").cast("string")
      def u(sfx: String) = concat(lit("u"), id, lit(sfx))
      val lv = floor(col("doc_id") / 10.0).cast("long") % 7
      val base = concat_ws(" ", u("a"), u("b"), u("c"), u("d"))
      val single = concat_ws(" ", u("a"), u("b"), leak(lv), u("c"))
      val dbl = concat_ws(" ", u("a"), u("b"), leak(lv), leak(lv), u("c"))
      val built = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 20 === 13, dbl)
          .when(col("doc_id") % 10 === 3, single)
          .otherwise(base).as("text"))
      val bench = docs(s, d).filter(col("doc_id") < 7)
        .select(leak(col("doc_id") % 7).as("text"))
      Dedup.contaminatedSpans(built, bench, "doc_id", "text", "text", minTokens = 8)
    }),
    "q152_cc_incremental" -> ((s, d) => {
      // incremental connected components: the EVEN docs are the old corpus
      // (chain {0,2,4} and pair {12,16} per 24-block, labeled first), the
      // ODD docs a new crawl batch whose pairs attach to old clusters
      // (1-0), MERGE two old clusters (13-4 and 13-16), and form new-new
      // pairs (7-9). The oracle computes the FULL closure over all edges —
      // passing proves incremental-over-labels ≡ full recompute.
      val ids = docs(s, d).select(col("doc_id").as("id"))
      def shift(delta: Int, mods: Seq[Int]) = ids.select(col("id").as("ia"))
        .filter((col("ia") % 24).isin(mods.map(_.toLong): _*))
        .join(ids.select(col("id").as("ib")), col("ib") === col("ia") + delta)
        .select("ia", "ib")
      val oldEdges = shift(2, Seq(0, 2)).unionAll(shift(4, Seq(12)))
      val newPairs = shift(-1, Seq(1)).unionAll(shift(-9, Seq(13)))
        .unionAll(shift(3, Seq(13))).unionAll(shift(2, Seq(7)))
      val oldCc = Dedup.connectedComponents(oldEdges, "ia", "ib")
      val oldLabels = ids.filter(col("id") % 2 === 0)
        .join(oldCc, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      val lab = Dedup.connectedComponentsIncremental(oldLabels, newPairs, "ia", "ib")
      ids.select(col("id").as("doc_id"))
        .join(lab.select(col("id").as("doc_id"), col("component")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    }),
    "q157_edit_distance_pairs" -> ((s, d) =>
      // fuzzy-key near-dup: every doc pair whose 16-char text prefixes are
      // within Levenshtein distance 3, via the exact PassJoin chunk
      // blocking + thresholded native refine (never an all-pairs join);
      // the oracle IS the all-pairs brute force
      Dedup.editDistancePairs(
        docs(s, d).select(col("doc_id"), substring(col("text"), 1, 16).as("p")),
        "doc_id", "p", maxEdits = 3)
        .withColumn("edit_distance", col("edit_distance").cast("long"))),
    "q158_chunk_documents" -> ((s, d) =>
      // RAG/long-context chunking: 40-token windows, 8 tokens of overlap
      // (stride 32), trailing short chunk kept, empty docs emit nothing
      Sampling.chunkDocuments(docs(s, d), "doc_id", "text",
        chunkTokens = 40, overlapTokens = 8)
        .withColumn("chunk_idx", col("chunk_idx").cast("long"))),
    "q159_normalize_text" -> ((s, d) =>
      // dedup-key canonicalization: accents PLANTED via translate (the
      // corpus is ASCII), then fold + lowercase + whitespace-collapse +
      // trim; DuckDB replays the fold with strip_accents
      docs(s, d).select(col("doc_id"),
        TextFunctions.canonicalizeText(concat(
          lit("  Ünïted  "),
          translate(col("text"), "aeio", "áéîö"),
          lit("  CAFÉ\t"))).as("norm"))),
    "q164_asof_join" -> ((s, d) => {
      // point-in-time lookup: each click joined to the user's most recent
      // purchase at-or-before it (backward as-of, inner). One window
      // shuffle on user_id, no join node; oracle = DuckDB's native ASOF.
      val ev = eventsNs(s, d)
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("t"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purch_id"), col("user_id"), col("value"), col("t"))
      TemporalJoin.asofJoin(l, r, "t", "t", by = Seq("user_id"), how = "inner")
        .select(col("click_id"), col("r_purch_id").as("purch_id"),
          col("r_value").as("purch_value"), (col("t") - col("r_t")).as("lag_ns"))
    }),
    "q165_asof_nokey" -> ((s, d) => {
      // keyless FORWARD as-of with tolerance: each error matched to the
      // next signup (any user) within 10 minutes, null-extended. Exercises
      // the bucket+carry reduction (parallelism without a key).
      val ev = eventsNs(s, d)
      val l = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("t"))
      val r = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sig_id"), col("t"))
      TemporalJoin.asofJoinKeyless(l, r, "t", "t", direction = "forward",
          tolerance = Some(600L * 1000000000L), how = "left")
        .select(col("err_id"), col("r_sig_id").as("sig_id"),
          (col("r_t") - col("t")).as("lead_ns"))
    }),
    "q166_range_join" -> ((s, d) => {
      // 1-D range join: errors falling inside any signup's 30-minute
      // activation window (cross-user — a real interval join, not a keyed
      // lookup). Binned equi-join + exact refine; each pair exactly once.
      val ev = eventsNs(s, d)
      val pts = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("t"))
      val iv = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sig_id"), col("t").as("w_start"),
          (col("t") + 1800L * 1000000000L).as("w_end"))
      TemporalJoin.rangeJoin(pts, "t", iv, "w_start", "w_end")
        .select(col("err_id"), col("iv_sig_id").as("sig_id"))
    }),
    "q167_interval_overlap" -> ((s, d) => {
      // interval-overlap join: signup activation windows (30 min) crossed
      // with purchase attribution windows (15 min); claim-first-bin dedup.
      val ev = eventsNs(s, d)
      val a = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sig_id"), col("t").as("s_start"),
          (col("t") + 1800L * 1000000000L).as("s_end"))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purch_id"), col("t").as("p_start"),
          (col("t") + 900L * 1000000000L).as("p_end"))
      TemporalJoin.intervalOverlapJoin(a, "s_start", "s_end", b, "p_start", "p_end")
        .select(col("sig_id"), col("b_purch_id").as("purch_id"))
    }),
    "q178_asof_skewed" -> ((s, d) => {
      // the hot-key-safe as-of spelling under the same oracle as q164:
      // results are contractually identical to asofJoin — this gate pins
      // that against DuckDB's native ASOF independently of the spec
      val ev = eventsNs(s, d)
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("t"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purch_id"), col("user_id"), col("value"), col("t"))
      TemporalJoin.asofJoinSkewed(l, r, "t", "t", by = Seq("user_id"),
          how = "inner", numBuckets = 32)
        .select(col("click_id"), col("r_purch_id").as("purch_id"),
          col("r_value").as("purch_value"), (col("t") - col("r_t")).as("lag_ns"))
    }),
    "q180_asof_lookup" -> ((s, d) => {
      // the BROADCAST as-of face (StreamingTemporal.asofLookup, the shape
      // that enriches an unbounded stream against a dimension-sized
      // reference): batch parity gate against DuckDB's native ASOF. The
      // static side pre-collapses duplicate (user, ts) purchases to the
      // max event id so the lookup's one-survivor rule is deterministic.
      val ev = eventsNs(s, d)
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("t"))
      val r = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("t"))
        .agg(max(col("event_id")).as("purch_id"))
      graft.streaming.StreamingTemporal.asofLookup(l, r, "t", "t",
          by = Seq("user_id"), how = "inner")
        .select(col("click_id"), col("r_purch_id").as("purch_id"),
          (col("t") - col("r_t")).as("lag_ns"))
    }),
    "q179_interval_overlap_keyed" -> ((s, d) => {
      // per-user interval overlap: signup windows vs purchase windows of
      // the SAME user only — the key rides the bin hash join
      val ev = eventsNs(s, d)
      val a = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sig_id"), col("user_id"), col("t").as("s_start"),
          (col("t") + 1800L * 1000000000L).as("s_end"))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purch_id"), col("user_id").as("uid"),
          col("t").as("p_start"), (col("t") + 900L * 1000000000L).as("p_end"))
      TemporalJoin.intervalOverlapJoin(a, "s_start", "s_end", b, "p_start", "p_end",
          keys = Seq("user_id" -> "uid"))
        .select(col("sig_id"), col("b_purch_id").as("purch_id"))
    }),
    "q177_json_roundtrip" -> ((s, d) => {
      // JSON-lines ingest/export (the other ubiquitous crawl interchange
      // beside WARC/parquet): Spark-native ndjson write + schema-inferred
      // read-back; splittable line format, per-file parallelism
      val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
      docs(s, d).filter(col("doc_id") % 4 === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").json(s"$dir/docs")
      s.read.json(s"$dir/docs")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    "q176_random_project" -> ((s, d) =>
      // JL random projection (pre-ANN dimensionality reduction): the md5
      // Rademacher spec is replayed sign-by-sign in the oracle; exploded
      // to (vec_id, j, val) rows so the hash covers every component
      Similarity.randomProject(embs(s, d), "embedding", outDim = 8)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "v")))
        .select(col("vec_id"), col("j"), round(col("v"), 6).as("val"))),
    "q174_pagerank" -> ((s, d) => {
      // crawl-graph quality propagation: 3 PageRank rounds over a
      // deterministic synthetic link graph on the doc ids (two modular
      // out-edges per doc; docs % 11 == 0 emit none -> dangling mass).
      // Oracle replays every round as chained CTEs (the q126/q129
      // posture; ranks rounded 1e-9 per round)
      val ids = docs(s, d).select(col("doc_id").as("id"))
      val maxn = ids.count()
      val live = ids.filter(col("id") % 11 =!= 0)
      val e = live.select(col("id").as("src"), ((col("id") * 7 + 1) % maxn).as("dst"))
        .unionByName(live.select(col("id").as("src"), ((col("id") * 3 + 2) % maxn).as("dst")))
      graft.ops.LinkGraph.pageRank(e, "src", "dst", iterations = 3)
    }),
    "q175_pmi_collocations" -> ((s, d) =>
      // phrase mining: top-50 adjacent-pair collocations by PMI over the
      // corpus, counts >= 5; PMI rounded 1e-6 before ranking so the order
      // is oracle-replayable
      graft.ops.LinkGraph.pmiCollocations(docs(s, d), "text", minCount = 5, topK = 50)),
    "q173_asof_nearest" -> ((s, d) => {
      // direction="nearest" (pandas merge_asof parity): each click to the
      // CLOSEST purchase either way within an hour, ties backward — both
      // candidates come from the same single window sort
      val ev = eventsNs(s, d)
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("t"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purch_id"), col("user_id"), col("t"))
      TemporalJoin.asofJoin(l, r, "t", "t", by = Seq("user_id"),
          direction = "nearest", tolerance = Some(3600L * 1000000000L), how = "inner")
        .select(col("click_id"), col("r_purch_id").as("purch_id"),
          abs(col("t") - col("r_t")).as("gap_ns"))
    }),
    "q172_hamming_join" -> ((s, d) => {
      // signature-level cross-table decontamination: corpus simhashes vs
      // the truncated reference slice's simhashes within 8 bits —
      // pigeonhole banding gives RECALL 1 (unlike minhash LSH) because
      // hamming <= 8 forces an identical chunk in one of 9 bands
      val toksC = TextFunctions.tokens(col("text"))
      val l = docs(s, d).select(col("doc_id"),
        TextFunctions.simhash64(col("text")).as("sig"))
      val rt = docs(s, d).filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000L).as("rid"),
          TextFunctions.simhash64(array_join(
            slice(toksC, lit(1), greatest(size(toksC) - 5, lit(3))), " ")).as("sig"))
      Dedup.hammingJoin(l, "doc_id", "sig", rt, "rid", "sig", maxHamming = 8)
        .select(col("id_l"), col("id_r"), col("hamming"))
    }),
    "q169_heavy_hitters" -> ((s, d) => {
      // exact frequent terms with sketch-bounded shuffle: Misra-Gries
      // candidates per partition, exact recount of candidates only —
      // at 100 TB the full distinct-term groupBy this replaces is the
      // single biggest exchange in a corpus report
      val terms = docs(s, d).select(explode(TextFunctions.tokens(col("text"))).as("term"))
      CorpusStats.heavyHitters(terms, "term", k = 200)
    }),
    "q170_orc_roundtrip" -> ((s, d) => {
      // columnar-sink coverage beyond parquet: Spark-native ORC write +
      // multi-file read-back (predicate/column pushdown come free)
      val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
      docs(s, d).filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").orc(s"$dir/docs")
      s.read.orc(s"$dir/docs")
    }),
    "q171_zorder_layout" -> ((s, d) => {
      // multi-dimensional layout key: two independent integer dimensions
      // interleaved into one Morton key (pure shift/mask arithmetic, no
      // UDF) — sort-by-z is the write-side layout that lets min/max
      // row-group stats prune on EITHER dimension. Gate = the key math +
      // curve order over the first 200 cells.
      val c = s.read.parquet(s"$d/customer.parquet")
      val z = graft.functions.ZOrder.zorder2(
        col("c_custkey") % 1024, col("c_nationkey").cast("long") * 41 % 1024, 10)
      c.select(col("c_custkey"), z.as("zkey"))
        .orderBy(col("zkey"), col("c_custkey")).limit(200)
    }),
    "q168_minhash_join" -> ((s, d) => {
      // approximate cross-table decontamination: same corpus/reference
      // slices as q163 but candidates from LSH banding instead of the
      // exact prefix filter — the shape that stays cheap when the corpus
      // is 100 TB and the reference set is benchmarks
      val toksC = TextFunctions.tokens(col("text"))
      val rt = docs(s, d).filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000L).as("rid"),
          array_join(slice(toksC, lit(1), greatest(size(toksC) - 5, lit(3))), " ").as("text"))
      Dedup.minhashJoin(docs(s, d), "doc_id", "text", rt, "rid", "text",
        k = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
    }),
    "q163_jaccard_join" -> ((s, d) => {
      // set-similarity decontamination: the corpus joined against a
      // "reference" slice (doc_id%9, last 5 tokens truncated — high but
      // sub-1 jaccard with its own source doc) at recall 1; oracle =
      // relational exact brute force
      val toksC = TextFunctions.tokens(col("text"))
      val rt = docs(s, d).filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000L).as("rid"),
          array_join(slice(toksC, lit(1), greatest(size(toksC) - 5, lit(3))), " ").as("text"))
      Dedup.jaccardJoin(docs(s, d), "doc_id", "text", rt, "rid", "text",
        k = 3, threshold = 0.5)
        .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
    }),
    "q162_embedding_join" -> ((s, d) => {
      // semantic decontamination: the corpus embeddings fuzzy-joined
      // against a "benchmark" slice (vec_id%7, remapped ids, including the
      // exact-dup content-key path) at the q65 cosine regime WITH the q65
      // banding (4 planes/band × 48 tables — per-pair miss ≈ 8.5e-5 at
      // t=0.45, exhaustive on this data; the default 8×24 is tuned for
      // t=0.95 and misses borderline 0.45 pairs); oracle = brute-force
      // cross join
      val r = embs(s, d).filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 1000000L).as("rid"), col("embedding"))
      Dedup.embeddingJoin(embs(s, d), "vec_id", "embedding",
        r, "rid", "embedding", planes = 192, bands = 48, threshold = 0.45)
        .select(col("id_l"), col("id_r"), round(col("cosine"), 6).as("cosine"))
    }),
    "q161_edit_distance_join" -> ((s, d) => {
      // record linkage: every doc's 16-char prefix fuzzy-joined against a
      // "reference list" of shifted prefixes (doc_id%5 docs, one char
      // dropped at the front — distance ≤ 2 from their own doc by
      // construction) at maxEdits 3; oracle = all-pairs brute force
      val l = docs(s, d).select(col("doc_id"), substring(col("text"), 1, 16).as("p"))
      val r = docs(s, d).filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("rid"),
          substring(col("text"), 2, 16).as("q"))
      Dedup.editDistanceJoin(l, "doc_id", "p", r, "rid", "q", maxEdits = 3)
        .withColumn("edit_distance", col("edit_distance").cast("long"))
    }),
    "q160_jaccard_exact" -> ((s, d) =>
      // EXACT set-similarity join (prefix filter, recall 1) — the complete
      // counterpart of q28's LSH banding, same shingle model and verify
      Dedup.jaccardPairsExact(docs(s, d), "doc_id", "text", k = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),
    "q113_unigram_lm" -> ((s, d) =>
      // CCNet-style LM quality proxy: unigram LM trained on the corpus
      // itself, documents scored by mean token negative-log-likelihood
      graft.ops.LmQuality.unigramNllScore(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), round(col("avg_nll"), 4).as("avg_nll"))),
    "q114_dsir_weights" -> ((s, d) => {
      // DSIR importance weights: hashed uni+bi-gram models fit on the
      // 'en' slice (target) vs the whole corpus (raw); per-doc log ratio
      val raw = docs(s, d)
      graft.ops.LmQuality.importanceWeights(raw, raw.filter(col("lang") === "en"),
          "doc_id", "text", buckets = 64)
        .select(col("doc_id"), col("n_grams"), round(col("log_weight"), 4).as("log_weight"))
    }),
    "q115_url_canonicalize" -> ((s, d) => {
      // URL-level dedup normalization on constructed fixtures whose
      // canonical form is known by construction (the oracle writes the
      // EXPECTED string directly — nothing mirrored): four messy variants
      // per doc cycle case, www, default/non-default ports, trailing
      // slashes, scrambled + tracking query params, and fragments
      val m = col("doc_id") % 4
      val url = when(m === 0, concat(lit("HTTP://WWW."), col("source"),
          lit(".Example.COM:80/Data/"), col("doc_id").cast("string"),
          lit("/?b=2&utm_source=feed&a=1&fbclid=zz#Sec")))
        .when(m === 1, concat(lit("http://"), col("source"), lit(".example.com/Data/"),
          col("doc_id").cast("string"), lit("?ref=x")))
        .when(m === 2, concat(lit("HTTPS://www."), col("source"), lit(".EXAMPLE.com:443/Data/"),
          col("doc_id").cast("string"), lit("/?b=2&utm_campaign=x&a=1")))
        .otherwise(concat(lit("https://"), col("source"), lit(".Example.com:8443/Data/"),
          col("doc_id").cast("string")))
      val canon = TextFunctions.canonicalizeUrl(url)
      docs(s, d).select(col("doc_id"), canon.as("canon_url"),
        TextFunctions.urlHost(canon).as("host"))
    }),
    "q116_gumbel_resample" -> ((s, d) => {
      // DSIR end-to-end: importance weights → deterministic Gumbel top-k
      // resample (the Efraimidis–Spirakis weighted sample, hash-derived so
      // every selected id and its score replays in the oracle)
      val raw = docs(s, d)
      val w = graft.ops.LmQuality.importanceWeights(raw,
        raw.filter(col("lang") === "en"), "doc_id", "text", buckets = 64)
      graft.ops.Sampling.weightedTopK(w, "doc_id", "log_weight", k = 100, salt = "w1")
        .select(col("doc_id"), round(col("__score"), 4).as("score"))
    }),
    "q117_semdedup" -> ((s, d) => {
      // SemDeDup (arXiv:2303.09540): k-means cells bound the semantic-dup
      // pair search; drop rule = "a smaller id within tau in my cell". The
      // corpus has no near-dup embedding pair at gate scale (max cosine
      // ~0.51), so two sentinel clones (ids derived max+1/max+2,
      // collision-proof like the q82 sentinel) ride along — each must land
      // in its original's cell and be dropped (cosine 1 >= tau), keeping
      // the drop path inside the gate. Every stage (md5-sampled seeds, the
      // rounded Lloyd step, assignment tie-breaks, the pair threshold) is
      // mirrored by the oracle, so centroid drift or a keep-rule bug fails
      // the hash.
      val base = embs(s, d).filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))
      val mx = base.agg(max(col("vec_id")).as("__m"))
      def clone(src: Long, off: Int) = base.filter(col("vec_id") === src)
        .crossJoin(mx).select((col("__m") + off).as("vec_id"), col("embedding"))
      Dedup.semDedup(base.unionByName(clone(1L, 1)).unionByName(clone(7L, 2)),
        "vec_id", "embedding", clusters = 16, tau = 0.9)
    }),
    "q118_token_budget_mix" -> ((s, d) =>
      // mixing-recipe enforcement: per-domain token budgets consumed in
      // hash order. src1's budget exceeds its corpus (all kept), src0's
      // cuts mid-domain, everything else rides the default — so the gate
      // covers full-keep, straddle and default paths. The oracle mirrors
      // with ONE global window per domain; the engine's sharded
      // prefix-sum + offset reconstruction must equal it exactly.
      graft.ops.Sampling.tokenBudgetMix(docs(s, d), "doc_id", "text", "source",
        budgets = Map("src0" -> 500L, "src1" -> 20000L), defaultBudget = 800L,
        salt = "mix")),
    "q119_cdc_dedup" -> ((s, d) =>
      // content-defined chunking dedup profile: md5-rolling boundaries
      // (trailing-8-char window, last-nibble-zero rule), chunk-hash
      // ownership counts, per-doc duplicated-chunk totals. The empty
      // sentinel doc rides along to pin the zero-chunk path; the small
      // token vocabulary makes natural cross-doc chunk dups plentiful, so
      // the dup join is exercised corpus-wide, not just on a plant.
      Dedup.cdcDedupStats(docsWithEmpty(s, d), "doc_id", "text", k = 8)),
    "q120_bpe_pair_counts" -> ((s, d) => {
      // the first BPE training step: corpus word-freq table, char+</w>
      // symbolization, adjacent-pair frequencies — the distributed agg
      // every merge iteration re-runs (multi-merge training is spec-gated
      // on the Sennrich fixture whose merge sequence is known by hand;
      // this oracle pins the counting core exactly)
      val w = graft.ops.Bpe.wordFreqs(docs(s, d), "text")
        .withColumn("syms", graft.ops.Bpe.initSymbols(col("word")))
      graft.ops.Bpe.pairCounts(w)
        .orderBy(col("freq").desc, col("left"), col("right")).limit(20)
        .select(col("left").as("pair_left"), col("right").as("pair_right"), col("freq"))
    }),
    "q121_html_to_text" -> ((s, d) => {
      // WET-style HTML -> text over constructed pages: script/style
      // payloads (with a '<' inside the js), comments, block tags, inline
      // tags, and all six entities are exercised per row. The oracle
      // replays the identical pattern chain through DuckDB's RE2 —
      // certifying the Java/RE2 dialect agreement the function's pattern
      // restrictions claim (the q78 PII precedent).
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "<style>.c { color: red }</style></head><body><h1>Doc "),
        col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p><!-- hidden --><div>A &amp;B &lt;tag&gt;&nbsp;C &quot;q&#39; <b>bold</b></div></body></html>"))
      docs(s, d).select(col("doc_id"),
        graft.functions.TextFunctions.htmlToText(html).as("clean"))
    }),
    "q122_warc_roundtrip" -> ((s, d) => {
      // Common Crawl-style ingest: documents exported once per JVM as WARC
      // response records (gzipped, multi-member-tolerant decode), read back
      // through the spec parser, ids re-derived from the target URI and
      // bodies from the HTTP payload. The oracle is the documents table
      // itself — any header/length/payload-boundary bug breaks the hash.
      val dir = memoIndex(s"q122_warc:$d") {
        val tmp = java.nio.file.Files.createTempDirectory("graft_warc").toString
        val src = docs(s, d).select(
          concat(lit("http://corpus.example/doc/"), col("doc_id")).as("uri"), col("text"))
        graft.io.Warc.write(src, s"$tmp/corpus.warc.gz", "uri", "text", gzip = true)
        tmp
      }
      graft.io.Warc.read(s, s"$dir/corpus.warc.gz")
        .filter(col("warc_type") === "response")
        .select(regexp_extract(col("target_uri"), "/doc/(-?\\d+)$", 1).cast("long").as("doc_id"),
          col("http_body").as("text"))
    }),
    "q123_bm25_scores" -> ((s, d) => {
      // retrieval-based data selection / decontamination: BM25 of every
      // document against a bag-of-words query. The three terms hit the
      // corpus vocabulary at different document frequencies, so the idf
      // spread, tf saturation and length normalization are all inside the
      // hash. Zero-match documents pin the score-0 left-join path.
      graft.ops.Retrieval.bm25Scores(docs(s, d), "doc_id", "text",
          Seq("spark", "hash", "window"))
        .select(col("doc_id"), round(col("bm25"), 4).as("bm25"))
    }),
    "q124_bloom_novel" -> ((s, d) => {
      // incremental cross-snapshot dedup: the Bloom sketch is built over
      // the doc_id % 3 != 0 slice (the "previous snapshot"), then the WHOLE
      // table probes it. Slice members must flag possibly_seen (no false
      // negatives); the held-out third flags only on exact-dup text or a
      // deterministic bucket collision — the oracle replays the identical
      // md5-bucket arithmetic, so the false-positive set is inside the hash.
      val all = docs(s, d)
      val sketch = graft.ops.Dedup.bloomSketch(
        all.filter(col("doc_id") % 3 =!= 0), "text", bits = 4096, hashes = 3)
      graft.ops.Dedup.bloomNovel(all, sketch, "doc_id", "text",
        bits = 4096, hashes = 3)
    }),
    "q125_readability" -> ((s, d) => {
      // Dolma-style readability taggers. Corpus text is single-sentence
      // word soup, so ' table ' occurrences are rewritten to sentence
      // breaks first (mirrored verbatim by the oracle) — document sentence
      // counts then vary and both formulas' per-sentence terms are
      // exercised; the vowel-group syllable heuristic runs on every word.
      // The GATE carries the formulas multiplied out to exact integers
      // (flesch·1000·s·w and fk·100·s·w): integer-ratio inputs with
      // 2-decimal constants land exactly on .xxxx5 rounding boundaries
      // (e.g. fk = 7.98125 at w=32), where BigDecimal-HALF_UP and DuckDB's
      // double round legitimately disagree — measured at sf0.1, doc 1794.
      // The double-returning API is spec-gated (RetrievalSpec, 1e-9).
      val tf = graft.functions.TextFunctions
      val base = docs(s, d).select(col("doc_id"),
        replace(col("text"), lit(" table "), lit(". ")).as("__tx"))
      base.select(col("doc_id"), tf.tokens(col("__tx")).as("__toks"),
          tf.sentenceCount(col("__tx")).as("__sents"))
        .select(col("doc_id"),
          size(col("__toks")).cast("long").as("words"),
          col("__sents").cast("long").as("sentences"),
          tf.syllableCount(col("__toks")).cast("long").as("syllables"))
        .select(col("doc_id"), col("words"), col("sentences"), col("syllables"),
          // flesch·1000·s·w = 206835·s·w − 1015·w² − 84600·sy·s (0 if w=0)
          when(col("words") === 0, lit(0L)).otherwise(
            lit(206835L) * col("sentences") * col("words")
              - lit(1015L) * col("words") * col("words")
              - lit(84600L) * col("syllables") * col("sentences")).as("flesch_num"),
          // fk·100·s·w = 39·w² + 1180·sy·s − 1559·s·w (0 if w=0)
          when(col("words") === 0, lit(0L)).otherwise(
            lit(39L) * col("words") * col("words")
              + lit(1180L) * col("syllables") * col("sentences")
              - lit(1559L) * col("sentences") * col("words")).as("fk_num"))
    }),
    "q126_kmeans_cells" -> ((s, d) => {
      // full k-means (3 rounded Lloyd iterations over the q68 one-step
      // spec) + final cell assignment: the oracle replays seeding and every
      // iteration as chained CTEs, so centroid drift in ANY round moves
      // assignments and fails the hash. The vec_id bound keeps the oracle's
      // k·n·iters cross-join tractable and the soak work at 1x.
      val e = embs(s, d).filter(col("vec_id") < 500)
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 8, iters = 3)
      Similarity.withIvfCell(e, "embedding", cents, "cell")
        .select(col("vec_id"), col("cell"))
    }),
    "q127_corpus_report" -> ((s, d) =>
      // the per-(lang, source) curation report with ROLLUP margins — doc /
      // token / char counts and the exact-duplicate overhang
      // (n_docs − n_distinct) at every grouping level, in ONE shuffle
      graft.ops.CorpusStats.corpusReport(docs(s, d), "text", "lang", "source")),
    "q128_length_quantiles" -> ((s, d) =>
      // exact per-source token-length quantiles (linear interpolation, the
      // quantile_cont definition) — corpus length-distribution reporting
      graft.ops.CorpusStats.lengthQuantiles(docs(s, d), "text", "source")
        .select(col("source"), col("n_docs"),
          round(col("p25"), 4).as("p25"), round(col("p50"), 4).as("p50"),
          round(col("p75"), 4).as("p75"), round(col("p90"), 4).as("p90"))),
    "q129_quality_classifier" -> ((s, d) => {
      // fastText-style corpus-trained quality classifier: 3 epochs of
      // full-batch logistic regression over hashed token buckets (lang=en
      // as the curated-slice label), then every document scored. The
      // oracle replays every epoch as chained CTEs — logits rounded 1e-9
      // before the sigmoid, weights 1e-6 after each epoch, so summation
      // order and libm exp ulps cannot drift the hash (the q126 posture).
      val all = docs(s, d)
      val w = graft.ops.QualityClassifier.trainLogReg(all, "doc_id", "text",
        col("lang") === "en", buckets = 64, epochs = 3, lr = 0.5)
      graft.ops.QualityClassifier.scoreLogReg(all, "doc_id", "text",
          col("lang") === "en", w)
        .select(col("doc_id"), col("label"),
          round(col("score"), 4).as("score"), col("keep"))
    }),
    "q130_image_phash_dedup" -> ((s, d) => {
      // image near-dup via the DCT perceptual hash: each doc renders a
      // 40×40 hashed-block pattern determined ONLY by doc_id % 7, so the
      // hash collapses each class to one signature and hammingPairs must
      // emit EXACTLY the same-class pairs at hamming 0 — a structural
      // oracle (the pair set is closed-form) over a real PNG decode→hash
      // pipeline. Block-noise classes sit ≥ 20 bits apart (spec-pinned
      // ≥ 10), so τ=3 admits no cross-class pair; doc_id bound keeps soak
      // work at 1x and the pair output closed-form.
      val gen = udf((c: Int) => Multimodal.classPatternPng(c))
      val imgs = docs(s, d).filter(col("doc_id") < 300).select(col("doc_id"))
        .withColumn("img", gen((col("doc_id") % 7).cast("int")))
      graft.ops.Dedup.hammingPairs(
        Multimodal.pHash64(imgs, "img"), "doc_id", "phash", maxHamming = 3)
    }),
    "q131_bm25_batch" -> ((s, d) => {
      // batch decontamination retrieval: three queries ranked against the
      // corpus in ONE job — overlapping query terms share the tf/df work,
      // the all-miss query must vanish, and the per-query rounded-score
      // ranking pins the top-k boundary deterministically
      import s.implicits._
      val qs = Seq((0L, "spark table"), (1L, "hash join window"), (2L, "zzzq qqz"))
        .toDF("qid", "qtext")
      graft.ops.Retrieval.bm25TopKPerQuery(docs(s, d), "doc_id", "text",
        qs, "qid", "qtext", k = 5)
    }),
    "q132_audio_fingerprint_dedup" -> ((s, d) => {
      // audio near-dup via the energy-delta fingerprint: each doc renders
      // a WAV whose loud/quiet window envelope depends ONLY on doc_id % 5,
      // so the fingerprint collapses per class and hammingPairs must emit
      // exactly the same-class pair closure at hamming 0 (the q130
      // structural-oracle shape for the audio modality). Envelope classes
      // sit far apart bit-wise (spec-pinned ≥ 10); τ=3 admits no
      // cross-class pair; the doc_id bound keeps soak work at 1x.
      val gen = udf((c: Int) => Multimodal.classToneWav(c))
      val wavs = docs(s, d).filter(col("doc_id") < 300).select(col("doc_id"))
        .withColumn("wav", gen((col("doc_id") % 5).cast("int")))
      graft.ops.Dedup.hammingPairs(
        Multimodal.audioFingerprint64(wavs, "wav"), "doc_id", "audio_fp", maxHamming = 3)
    }),
    "q133_lsh_recall" -> ((s, d) => {
      // the LSH tuning report: banded-minhash recall vs exact brute-force
      // truth on a deterministic md5 sample (doc_id < 600 bound keeps the
      // all-pairs truth fixed across scales) — sample spec, banding, both
      // pair counts and the recall division all inside one hashed row
      graft.ops.CorpusStats.lshRecallReport(
        docs(s, d).filter(col("doc_id") < 600), "doc_id", "text",
        sampleFraction = 0.5, salt = "r", k = 2, numHashes = 16, bands = 8,
        threshold = 0.1)
    }),
    "q134_snapshot_diff" -> ((s, d) => {
      // incremental-crawl snapshot report: old = doc_id % 3 != 1 slice,
      // new = doc_id % 3 != 2 slice with every doc_id % 7 == 0 text
      // edited — all four statuses populated, counts closed-form
      val all = docs(s, d)
      val old = all.filter(col("doc_id") % 3 =!= 1)
      val nu = all.filter(col("doc_id") % 3 =!= 2)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.ops.CorpusStats.snapshotDiff(old, nu, "doc_id", "text")
    }),
    "q135_minhash_incremental" -> ((s, d) => {
      // incremental near-dup: the doc_id % 3 == 0 slice arrives as a new
      // batch and probes the stored signatures of the rest — old text is
      // never read, old-old pairs never emitted, and the output carries
      // the signature-ESTIMATED jaccard (matching components / 16). The
      // oracle replays signatures, banding, the new×all candidate join
      // and the component-match estimate exactly.
      val all = docs(s, d)
      // signature tables scratch-cached CALLER-side (r21): the probe
      // consumes each side twice (banding + the per-pair estimate lookup)
      // but deliberately caches nothing itself beyond the tracked banding
      // handle (the streaming per-batch contract) — a batch caller owns
      // its snapshot frames, so it caches them
      val oldSigs = graft.ops.ScratchCache(graft.ops.Dedup.minhashSignatureTable(
        all.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", k = 2))
      val newSigs = graft.ops.ScratchCache(graft.ops.Dedup.minhashSignatureTable(
        all.filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 2))
      graft.ops.Dedup.minhashPairsIncremental(newSigs, oldSigs, "doc_id",
          numHashes = 16, bands = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
    }),
    "q140_minhash_banded_snapshot" -> ((s, d) => {
      // q135's semantics down the stored-BANDED snapshot path: band keys
      // are read from the bucketed banded table written at snapshot time
      // (writeBandedSnapshot) — the corpus is neither re-banded nor
      // exchanged per probe; the signature snapshot feeds only the per-id
      // estimate lookup. Snapshot build runs once per JVM (memoIndex, like
      // the ANN index gates): the measured steady state is probe-only.
      val all = docs(s, d)
      // table tag from the same collision-free key the memo uses: a
      // sanitized dataset path plus an md5 disambiguator (String.hashCode
      // collisions across two dataset dirs in one JVM would overwrite each
      // other's snapshot tables while each memo still believed its build
      // was live, silently probing the wrong corpus)
      val tag = pathTag(d)
      memoIndex(s"q140_banded:$d") {
        val tmp = java.nio.file.Files.createTempDirectory("graft_bandsnap").toString
        val oldSigs = graft.ops.Dedup.minhashSignatureTable(
          all.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", k = 2)
        graft.ops.Dedup.writeSignatureSnapshot(oldSigs, s"graft_q140_sigs_$tag",
          s"$tmp/sigs", "doc_id", buckets = 8)
        graft.ops.Dedup.writeBandedSnapshot(oldSigs, s"graft_q140_banded_$tag",
          s"$tmp/banded", "doc_id", numHashes = 16, bands = 4, buckets = 8)
        tmp
      }
      // scratch-cached caller-side for the same reason as q135: the probe
      // consumes the new batch's signatures twice (banding checkpoint +
      // estimate lookup) and caches nothing itself
      val newSigs = graft.ops.ScratchCache(graft.ops.Dedup.minhashSignatureTable(
        all.filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 2))
      graft.ops.Dedup.minhashPairsIncrementalBanded(newSigs,
          graft.ops.Dedup.readSignatureSnapshot(s, s"graft_q140_sigs_$tag"),
          graft.io.Bucketed.read(s, s"graft_q140_banded_$tag"), "doc_id",
          numHashes = 16, bands = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
    }),
    "q141_sjoin_auto_plan" -> ((s, d) => {
      // q09's semantics down the AUTO-PLANNED path: geometry is round-
      // tripped through parquet so both sides are genuinely STORED WKB
      // columns (no construction for GeomSimplify to fuse), and the join is
      // spelled as a plain predicate join — the shape that used to plan as
      // a BroadcastNestedLoopJoin evaluating the predicate on every pair.
      // AutoSpatialJoin rewrites it to the grid candidate join refined by
      // the original condition; the oracle is q09's coordinate SQL.
      val dir = memoIndex(s"q141_stored_geo:$d") {
        val tmp = java.nio.file.Files.createTempDirectory("graft_q141_").toString
        pts(s, d).write.mode("overwrite").parquet(s"$tmp/pts")
        cells(s, d).write.mode("overwrite").parquet(s"$tmp/cells")
        tmp
      }
      val p = s.read.parquet(s"$dir/pts")
      val c = s.read.parquet(s"$dir/cells")
      p.join(c, st_intersects(p("geometry"), c("geometry")))
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 4).as("bal"))
    }),
    "q142_sjoin_auto_left" -> ((s, d) => {
      // q11's LEFT-join semantics down the AUTO-PLANNED path: both sides
      // round-trip through parquet (genuinely stored WKB, both columns
      // named `geometry` — the name-clash shape the rewrite must survive
      // because it restores output attributes by exprId, not name), and
      // the join is spelled `.join(c, st_intersects(...), "left")` — the
      // last predicate-join spelling that still planned as a
      // BroadcastNestedLoopJoin (round-14 verdict #2). AutoSpatialJoin
      // stamps the outer side, inner-joins through the grid, and
      // null-extends unmatched points; the oracle is q11's coordinate SQL.
      val dir = memoIndex(s"q142_stored_geo:$d") {
        val tmp = java.nio.file.Files.createTempDirectory("graft_q142_").toString
        pts(s, d).select(col("c_custkey"), col("geometry"))
          .write.mode("overwrite").parquet(s"$tmp/pts")
        cells(s, d).filter(col("cx") < 3).select(col("n_nationkey"), col("geometry"))
          .write.mode("overwrite").parquet(s"$tmp/cells")
        tmp
      }
      val p = s.read.parquet(s"$dir/pts")
      val c = s.read.parquet(s"$dir/cells")
      p.join(c, st_intersects(p("geometry"), c("geometry")), "left")
        .select(col("c_custkey"), col("n_nationkey"))
    }),
    "q143_sjoin_gridded" -> ((s, d) => {
      // q09's semantics over PRE-GRIDDED bucket-co-located storage
      // (join/Gridded.scala): both sides written ONCE against a shared
      // grid spec — bbox + covering-cell columns computed at write,
      // bucketed by the cell — so the repeated spatial join is a
      // zero-Exchange sort-merge on the stored cell column plus the bbox
      // prefilter and RefineCache refine. The spatial analog of the
      // pre-banded minhash snapshot tier (q140); oracle = q09's SQL.
      val tag = pathTag(d)
      memoIndex(s"q143_gridded:$d") {
        val tmp = java.nio.file.Files.createTempDirectory("graft_q143_").toString
        val p = pts(s, d)
        val spec = graft.join.Gridded.gridFor(p)
        graft.join.Gridded.writeGridded(p, s"graft_q143_pts_$tag", s"$tmp/pts", spec)
        graft.join.Gridded.writeGridded(cells(s, d), s"graft_q143_cells_$tag", s"$tmp/cells", spec)
        tmp
      }
      val gp = graft.join.Gridded.readGridded(s, s"graft_q143_pts_$tag")
      val gc = graft.join.Gridded.readGridded(s, s"graft_q143_cells_$tag")
      graft.join.Gridded.sjoinGridded(gp, gc, "intersects")
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 4).as("bal"))
    }),
    "q144_repeated_spans" -> ((s, d) =>
      // exact substring dedup (Lee et al. 2022): maximal repeated token
      // spans (5-gram windows occurring >= 2x anywhere in the corpus,
      // merged per document when their token intervals overlap or touch).
      // Window counting shuffles 8-byte xxhash keys (map-side partial agg);
      // the wide window strings only move for the candidate join + exact
      // confirm (ops/Dedup.repeatedSpans).
      Dedup.repeatedSpans(docs(s, d), "doc_id", "text", minTokens = 5)),
    "q145_dup_span_stats" -> ((s, d) =>
      // per-document duplicated-token profile over q144's spans: every doc
      // surfaces (zeros when clean or shorter than the window).
      Dedup.repeatedSpanStats(docs(s, d), "doc_id", "text", minTokens = 5)),
    "q147_spans_incremental" -> ((s, d) => {
      // exact-substring dedup at the 100 TB steady state: the corpus's
      // window-hash profile is stored ONCE (writeWindowSnapshot — 128-bit
      // hash pairs bucketed by the first hash, window strings never
      // stored), and each new batch probes it without the corpus being
      // re-windowed or exchanged. Old corpus = doc_id % 3 != 0, new batch
      // = doc_id % 3 == 0 (the q135/q140 split convention).
      val all = docs(s, d)
      val tag = pathTag(d)
      memoIndex(s"q147_winsnap:$d") {
        val tmp = java.nio.file.Files.createTempDirectory("graft_winsnap").toString
        graft.ops.Dedup.writeWindowSnapshot(all.filter(col("doc_id") % 3 =!= 0),
          s"graft_q147_wins_$tag", s"$tmp/wins", "doc_id", "text",
          minTokens = 5, buckets = 8)
        tmp
      }
      graft.ops.Dedup.repeatedSpansIncrementalStored(
        all.filter(col("doc_id") % 3 === 0),
        graft.io.Bucketed.read(s, s"graft_q147_wins_$tag"),
        "doc_id", "text", minTokens = 5)
    }),
    "q148_top_windows" -> ((s, d) =>
      // corpus boilerplate report: the 20 most-repeated 5-token windows
      // (deterministic tie-break on the window string).
      Dedup.topRepeatedWindows(docs(s, d), "doc_id", "text",
        minTokens = 5, k = 20)),
    "q146_remove_spans" -> ((s, d) =>
      // the removal step of ExactSubstr dedup: q144's spans cut out of the
      // token stream with a native HOF filter+exists (no range join).
      Dedup.removeRepeatedSpans(docs(s, d), "doc_id", "text", minTokens = 5)),
    "q138_aligned_distance" -> ((s, d) => {
      // the reference's index-aligned cross-frame binary op
      // (base.py:27-71 align=True) in its explicit-key Spark spelling
      // (GeoDataFrame.alignedDistance): left = customer points, right = a
      // second frame keyed by c_custkey with an 11x/17x-derived point, only
      // keys with c_custkey % 3 == 0 present — missing partners must yield
      // NULL distance (pandas NaN alignment), matched ones the point
      // distance. Fuses to Hypot via GeomSimplify; round(.,4) is provably
      // boundary-safe on the deci-grid (no sqrt(m)/10 sits within 6e-12 of
      // a 4th-decimal half-boundary).
      import graft.api.GeoDataFrame
      val left = GeoDataFrame(pts(s, d).select(col("c_custkey"), col("geometry")))
      val right = GeoDataFrame(pts(s, d).filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"),
          st_point((col("c_custkey") * 11 % 1000).cast("double") / 10.0,
            (col("c_custkey") * 17 % 1000).cast("double") / 10.0).as("geometry")))
      left.alignedDistance(right, Seq("c_custkey"))
        .select(col("c_custkey"), round(col("distance"), 4).as("dist"))
    }),
    "q139_cosine_lsh_recall" -> ((s, d) => {
      // the cosine-LSH tuning report (Similarity.knnBanding's measured
      // counterpart): md5-sampled vectors, brute-force cosine truth within
      // the sample, banded Rademacher-plane candidates (the md5 plane spec
      // the ANN bucket index shares, so the oracle replays buckets
      // exactly), measured recall next to the analytic prediction. The
      // vec_id < 400 bound keeps the all-pairs truth fixed across scales;
      // 8 tables x 5 planes at t=0.45 lands measured recall strictly
      // inside (0,1) on this data — the report demonstrably DETECTS
      // imperfect recall instead of saturating at either end.
      graft.ops.CorpusStats.cosineLshRecallReport(
        embs(s, d).filter(col("vec_id") < 400), "vec_id", "embedding",
        sampleFraction = 0.5, salt = "cr", planes = 40, bands = 8,
        threshold = 0.45)
    }),
    "q137_corpus_report_nulls" -> ((s, d) => {
      // the round-11 advice finding, gated: rollup margins are labeled via
      // grouping(), so a GENUINE NULL lang/source group value stays NULL —
      // distinguishable from the '(all)' margin rows with its own counts.
      // The fixture nulls lang on doc_id%7==0 and source on doc_id%11==0;
      // the oracle replays GROUPING() labeling over the same ROLLUP.
      val d2 = docs(s, d)
        .withColumn("lang", when(col("doc_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("lang")))
        .withColumn("source", when(col("doc_id") % 11 === 0, lit(null).cast("string"))
          .otherwise(col("source")))
      graft.ops.CorpusStats.corpusReport(d2, "text", "lang", "source")
    }),
    "q136_nearest_exclusive_grid" -> ((s, d) => {
      // sjoin_nearest exclusive= + max_distance= through the DISTRIBUTED
      // grid path (broadcastThreshold=-1 forces it) — ref sindex.py:373-479
      // `exclusive`, sjoin.py:589-741 max_distance; both flags were
      // spec-only on this path before. Closed-form fixture: anchors at the
      // 25 nation-cell corners ({0,20,..,80}²). Points landing exactly ON
      // an anchor (c_custkey % 200 == 0 — the 7x/13x deci-grid puts them
      // there) must SKIP their own zero-distance anchor and 4-way-tie at
      // distance 20 under the 25.0 cap (rank keeps all ties); the far
      // corner of the domain sits > 25 from every anchor and must drop
      // (inner). The oracle cross-joins all 25 anchors and replays the
      // exclusive filter, cap and rank directly.
      val anchors = cells(s, d).select(col("n_nationkey"),
        st_point(col("x0"), col("y0")).as("geometry"))
      graft.join.SJoinNearest.sjoinNearest(
          pts(s, d).select(col("c_custkey"), col("geometry")), anchors,
          how = "inner", maxDistance = Some(25.0), distanceCol = Some("dist"),
          exclusive = true, broadcastThreshold = -1)
        .select(col("c_custkey"), col("n_nationkey"), round(col("dist"), 4).as("dist"))
    }),
  )

  /** Collect helper for building multipoints from an array of geometries. */
  val stCollectU = udf((arr: Seq[Array[Byte]]) =>
    if (arr == null) null
    else graft.geom.Wkb.write(graft.geom.GeomOps.collect(arr.filter(_ != null).map(graft.geom.Wkb.read))))

  // --------------------------------------------------------------------------
  def oracleSql: Map[String, String] = {
    val pts = s"($PtsSql)"
    val cells = s"($CellsSql)"
    val boxes = s"($BoxesSql)"
    val sup = s"($SupSql)"
    Map(
      "q01_point_xy" -> s"SELECT c_custkey, px AS x, py AS y FROM $pts",
      "q02_wkt_roundtrip" ->
        s"SELECT c_custkey, 'POINT (' || CAST(c_custkey % 100 AS VARCHAR) || ' ' || CAST(c_custkey * 3 % 100 AS VARCHAR) || ')' AS wkt FROM customer",
      "q03_envelope_area" ->
        s"SELECT l_returnflag, CAST(sum((ax1 - ax0) * (ay1 - ay0)) AS DOUBLE) AS sum_area FROM $boxes GROUP BY l_returnflag",
      "q04_distance" ->
        s"SELECT l_orderkey, l_linenumber, sqrt((ax0 - bx0) * (ax0 - bx0) + (ay0 - by0) * (ay0 - by0)) AS dist FROM $boxes WHERE l_orderkey % 100 = 0",
      "q05_buffer_area" ->
        s"SELECT c_custkey, round(CAST(32 AS DOUBLE) * r * r * sin(pi() / CAST(32 AS DOUBLE)), 4) AS barea FROM (SELECT c_custkey, CAST(c_custkey % 5 + 1 AS DOUBLE) AS r FROM customer)",
      "q06_centroid_dissolve" ->
        s"SELECT c_nationkey, round(avg(px), 6) AS cx, round(avg(py), 6) AS cy FROM $pts GROUP BY c_nationkey",
      "q07_cx_bbox" ->
        s"SELECT c_nationkey, count(*) AS n FROM $pts WHERE px >= 10 AND px <= 60 AND py >= 20 AND py <= 80 GROUP BY c_nationkey",
      "q08_box_predicates" ->
        s"""SELECT l_orderkey, l_linenumber,
           | (ax0 <= bx1 AND bx0 <= ax1 AND ay0 <= by1 AND by0 <= ay1) AS inter,
           | (bx0 >= ax0 AND bx1 <= ax1 AND by0 >= ay0 AND by1 <= ay1) AS cont,
           | (bx0 >= ax0 AND bx1 <= ax1 AND by0 >= ay0 AND by1 <= ay1) AS with_,
           | NOT (ax0 <= bx1 AND bx0 <= ax1 AND ay0 <= by1 AND by0 <= ay1) AS disj
           | FROM $boxes WHERE l_orderkey % 20 = 0""".stripMargin.replace("\n", " "),
      "q09_sjoin_points_cells" -> sjoinOracle(pts, cells),
      // identical semantics (and therefore oracle) to q09 — the engine path
      // differs: q141 stores the geometry as opaque parquet WKB and spells
      // the join as a plain predicate join, exercising the AutoSpatialJoin
      // grid rewrite instead of the explicit sjoin API
      "q141_sjoin_auto_plan" -> sjoinOracle(pts, cells),
      // identical semantics (and oracle SQL) to q11 — the engine path
      // differs: q142 stores the geometry as opaque parquet WKB and spells
      // the join as a plain LEFT predicate join, exercising the
      // AutoSpatialJoin outer rewrite (stamp outer side, grid inner join,
      // null-extend) instead of the explicit sjoin(how="left") API
      "q142_sjoin_auto_left" ->
        s"""SELECT c_custkey, n_nationkey FROM $pts p LEFT JOIN
           | (SELECT * FROM $cells WHERE cx < 3) c
           | ON p.px >= c.x0 AND p.px <= c.x1 AND p.py >= c.y0 AND p.py <= c.y1""".stripMargin.replace("\n", " "),
      // identical semantics (and oracle) to q09 again — the engine path is
      // the pre-gridded bucket-co-located storage join (write-once cell
      // layout, zero-Exchange sort-merge at query time)
      "q143_sjoin_gridded" -> sjoinOracle(pts, cells),
      "q144_repeated_spans" -> (repeatedSpanCte(5) +
        s""" SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
           | CAST(max(pos) - min(pos) + 5 AS INT) AS span_tokens
           | FROM grp GROUP BY doc_id, g""".stripMargin.replace("\n", " ")),
      "q145_dup_span_stats" -> (repeatedSpanCte(5) +
        s""" , spans AS (SELECT doc_id, max(pos) - min(pos) + 5 AS span_tokens
           | FROM grp GROUP BY doc_id, g),
           | per AS (SELECT doc_id, count(*) AS ns, sum(span_tokens) AS dup FROM spans GROUP BY doc_id)
           | SELECT d.doc_id, CAST(len(list_filter(regexp_split_to_array(trim(d.text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
           | CAST(coalesce(per.ns, 0) AS BIGINT) AS n_spans,
           | CAST(coalesce(per.dup, 0) AS BIGINT) AS dup_tokens,
           | round(CAST(coalesce(per.dup, 0) AS DOUBLE) /
           |   greatest(CAST(len(list_filter(regexp_split_to_array(trim(d.text), '\\s+'), x -> x <> '')) AS BIGINT), 1), 6) AS dup_frac
           | FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin.replace("\n", " ")),
      "q147_spans_incremental" -> (spanWindowBase(5) +
        s""" , oldw AS (SELECT DISTINCT w FROM w2 WHERE doc_id % 3 <> 0),
           | neww AS (SELECT doc_id, pos, w FROM w2 WHERE doc_id % 3 = 0),
           | batchrep AS (SELECT w FROM neww GROUP BY w HAVING count(*) >= 2),
           | hits AS (SELECT DISTINCT doc_id, pos FROM neww
           |   WHERE w IN (SELECT w FROM oldw) OR w IN (SELECT w FROM batchrep))""".stripMargin.replace("\n", " ") +
        spanMergeTail(5) +
        s""" SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
           | CAST(max(pos) - min(pos) + 5 AS INT) AS span_tokens
           | FROM grp GROUP BY doc_id, g""".stripMargin.replace("\n", " ")),
      "q148_top_windows" -> (spanWindowBase(5) +
        s""" SELECT w AS "window", count(*) AS n_occurrences,
           | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
           | FROM w2 GROUP BY w HAVING count(*) >= 2
           | ORDER BY n_occurrences DESC, w LIMIT 20""".stripMargin.replace("\n", " ")),
      "q146_remove_spans" -> (repeatedSpanCte(5) +
        s""" , spans AS (SELECT doc_id, min(pos) AS st, max(pos) - min(pos) + 5 AS ln FROM grp GROUP BY doc_id, g),
           | spl AS (SELECT doc_id, list(struct_pack(st := st, ln := ln)) AS sp FROM spans GROUP BY doc_id),
           | kept AS (SELECT tk.doc_id,
           |   CASE WHEN spl.sp IS NULL THEN tk.t
           |     ELSE list_filter(tk.t, (x, i) -> NOT len(list_filter(spl.sp, s -> s.st <= i AND i < s.st + s.ln)) > 0) END AS kt
           |   FROM toks tk LEFT JOIN spl USING (doc_id))
           | SELECT doc_id, coalesce(array_to_string(kt, ' '), '') AS cleaned,
           | CAST(len(kt) AS BIGINT) AS n_tokens_kept FROM kept""".stripMargin.replace("\n", " ")),
      // same degenerate row as the Spark side: one NULL-coordinate (missing
      // geometry) probe row that the inner-join predicate drops
      "q10_sjoin_grid" -> sjoinOracle(
        s"""($pts UNION ALL (SELECT * REPLACE (CAST(NULL AS DOUBLE) AS px,
           | CAST(NULL AS DOUBLE) AS py) FROM $pts LIMIT 1))""".stripMargin.replace("\n", " "),
        cells),
      "q11_sjoin_left" ->
        s"""SELECT c_custkey, n_nationkey FROM $pts p LEFT JOIN
           | (SELECT * FROM $cells WHERE cx < 3) c
           | ON p.px >= c.x0 AND p.px <= c.x1 AND p.py >= c.y0 AND p.py <= c.y1""".stripMargin.replace("\n", " "),
      "q12_sjoin_nearest" ->
        s"""WITH centers AS (SELECT n_nationkey, CAST(cx * 20 + 10 AS DOUBLE) AS qx, CAST(cy * 20 + 10 AS DOUBLE) AS qy FROM $cells),
           | d AS (SELECT c_custkey, n_nationkey, sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy)) AS dist FROM $pts CROSS JOIN centers),
           | r AS (SELECT *, rank() OVER (PARTITION BY c_custkey ORDER BY dist) AS rk FROM d)
           | SELECT c_custkey, n_nationkey, round(dist, 6) AS dist FROM r WHERE rk = 1""".stripMargin.replace("\n", " "),
      "q13_overlay_intersection" ->
        s"""SELECT a.n_nationkey, b.n_nationkey AS nk2,
           | round((least(a.x1, b.sx1) - greatest(a.x0, b.sx0)) * (least(a.y1, b.sy1) - greatest(a.y0, b.sy0)), 6) AS area
           | FROM $cells a JOIN
           | (SELECT n_nationkey, CAST(cx * 20 + 7 AS DOUBLE) AS sx0, CAST(cy * 20 + 3 AS DOUBLE) AS sy0,
           |         CAST(cx * 20 + 27 AS DOUBLE) AS sx1, CAST(cy * 20 + 23 AS DOUBLE) AS sy1 FROM $cells) b
           | ON a.x0 <= b.sx1 AND b.sx0 <= a.x1 AND a.y0 <= b.sy1 AND b.sy0 <= a.y1
           | WHERE (least(a.x1, b.sx1) - greatest(a.x0, b.sx0)) > 0 AND (least(a.y1, b.sy1) - greatest(a.y0, b.sy0)) > 0""".stripMargin.replace("\n", " "),
      "q14_overlay_difference" ->
        s"""SELECT a.n_nationkey,
           | round(400.0 - sum(CASE WHEN a.x0 <= b.sx1 AND b.sx0 <= a.x1 AND a.y0 <= b.sy1 AND b.sy0 <= a.y1
           |   THEN greatest(CAST(0 AS DOUBLE), least(a.x1, b.sx1) - greatest(a.x0, b.sx0)) * greatest(CAST(0 AS DOUBLE), least(a.y1, b.sy1) - greatest(a.y0, b.sy0))
           |   ELSE 0 END), 6) AS area
           | FROM $cells a CROSS JOIN
           | (SELECT n_nationkey, CAST(cx * 20 + 7 AS DOUBLE) AS sx0, CAST(cy * 20 + 3 AS DOUBLE) AS sy0,
           |         CAST(cx * 20 + 27 AS DOUBLE) AS sx1, CAST(cy * 20 + 23 AS DOUBLE) AS sy1 FROM $cells) b
           | GROUP BY a.n_nationkey
           | HAVING round(400.0 - sum(CASE WHEN a.x0 <= b.sx1 AND b.sx0 <= a.x1 AND a.y0 <= b.sy1 AND b.sy0 <= a.y1
           |   THEN greatest(CAST(0 AS DOUBLE), least(a.x1, b.sx1) - greatest(a.x0, b.sx0)) * greatest(CAST(0 AS DOUBLE), least(a.y1, b.sy1) - greatest(a.y0, b.sy0))
           |   ELSE 0 END), 6) > 0""".stripMargin.replace("\n", " "),
      "q15_dissolve" ->
        s"SELECT n_regionkey, CAST(400 * count(*) AS DOUBLE) AS area, count(*) AS n_cells FROM $cells GROUP BY n_regionkey",
      "q16_affine" ->
        s"SELECT c_custkey, (px + CAST(5.5 AS DOUBLE)) * CAST(2 AS DOUBLE) AS tx, (py + CAST(-2.25 AS DOUBLE)) * CAST(2 AS DOUBLE) AS ty FROM $pts",
      "q17_to_crs" ->
        s"""SELECT c_custkey,
           | round(CAST(6378137 AS DOUBLE) * radians(px * CAST(3.6 AS DOUBLE) - CAST(180 AS DOUBLE)), 4) + CAST(0 AS DOUBLE) AS mx,
           | round(CAST(6378137 AS DOUBLE) * ln(tan(pi() / CAST(4 AS DOUBLE) + radians(py * CAST(1.6 AS DOUBLE) - CAST(80 AS DOUBLE)) / CAST(2 AS DOUBLE))), 4) + CAST(0 AS DOUBLE) AS my
           | FROM $pts""".stripMargin.replace("\n", " "),
      "q18_hilbert" -> hilbertOracle(10),
      "q19_get_coordinates" ->
        s"SELECT s_suppkey, x1 AS x, y1 AS y FROM $sup UNION ALL SELECT s_suppkey, x2 AS x, y2 AS y FROM $sup",
      "q20_explode_parts" ->
        // the Spark side unions in an EMPTY MULTIPOLYGON row (p_partkey =
        // min-1); exploding 0 parts emits 0 rows, mirrored by the
        // explicitly-empty third branch
        s"""SELECT p_partkey, 0 AS part_index, CAST(p_partkey % 100 AS DOUBLE) AS x, CAST(p_partkey * 3 % 100 AS DOUBLE) AS y FROM part
           | UNION ALL SELECT p_partkey, 1 AS part_index, CAST(p_partkey * 7 % 100 AS DOUBLE) AS x, CAST(p_partkey * 11 % 100 AS DOUBLE) AS y FROM part
           | UNION ALL SELECT (SELECT min(p_partkey) - 1 FROM part), 0, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) WHERE 1 = 0""".stripMargin.replace("\n", " "),
      "q21_convex_hull" ->
        s"""SELECT p_partkey, round(abs((xb - xa) * (yc - ya) - (xc - xa) * (yb - ya)) / CAST(2 AS DOUBLE), 6) AS hull_area
           | FROM (SELECT p_partkey, CAST(p_partkey % 100 AS DOUBLE) AS xa, CAST(p_partkey * 3 % 100 AS DOUBLE) AS ya,
           |   CAST(p_partkey * 7 % 100 AS DOUBLE) AS xb, CAST(p_partkey * 11 % 100 AS DOUBLE) AS yb,
           |   CAST(p_partkey * 13 % 100 AS DOUBLE) AS xc, CAST(p_partkey * 17 % 100 AS DOUBLE) AS yc FROM part)""".stripMargin.replace("\n", " "),
      "q22_union_points" ->
        s"SELECT c_nationkey, CAST(count(DISTINCT (px, py)) AS INT) AS n_distinct_pts FROM $pts GROUP BY c_nationkey",
      "q23_events_window" ->
        s"""SELECT CAST(floor(epoch(ts) / CAST(300 AS DOUBLE)) * 300 AS BIGINT) AS win, event_type,
           | count(*) AS n, round(sum(value), 4) AS sum_value
           | FROM events GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      "q24_dedup_exact" ->
        s"SELECT md5(text) AS h, min(doc_id) AS canonical_id, count(*) AS dup_count FROM documents GROUP BY 1",
      "q25_token_stats" ->
        s"""SELECT doc_id, len(toks) AS n_tokens,
           | round(CASE WHEN len(toks) = 0 THEN 0 ELSE CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE) / len(toks) END, 6) AS stop_ratio,
           | round(CASE WHEN len(toks) = 0 THEN 0 ELSE CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / len(toks) END, 6) AS mean_wlen
           | FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM ${docsWithSentinelSql("   ")})""".stripMargin.replace("\n", " "),
      "q26_lang_id" ->
        s"""SELECT doc_id, (list_max([
           |  {'s': len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))), 'l': 'de'},
           |  {'s': len(list_filter(toks, x -> x IN ('the','and','of','to','is'))), 'l': 'en'},
           |  {'s': len(list_filter(toks, x -> x IN ('el','los','las','es','y'))), 'l': 'es'},
           |  {'s': len(list_filter(toks, x -> x IN ('le','la','les','et','est'))), 'l': 'fr'},
           |  {'s': len(list_filter(toks, x -> x IN ('de5','shi4','le5','zai4','he2'))), 'l': 'zh'}])).l AS pred_lang
           | FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents)""".stripMargin.replace("\n", " "),
      "q27_quality" ->
        s"""SELECT doc_id, round((least(CAST(length(text) AS DOUBLE) / CAST(500 AS DOUBLE), CAST(1 AS DOUBLE))
           | + least(CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS DOUBLE) / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))
           | + greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - (CASE WHEN length(text) = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END) * CAST(5 AS DOUBLE)))
           | / CAST(3 AS DOUBLE), 6) AS quality FROM ${docsWithSentinelSql("   ")}""".stripMargin.replace("\n", " "),
      "q29_embedding_topk" ->
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           | scored AS (SELECT vec_id,
           |   list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
           |   / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
           |      * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))) AS cosine
           |   FROM embeddings CROSS JOIN q)
           | SELECT vec_id, round(cosine, 6) AS cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin.replace("\n", " "),
      "q32_ann_topk" ->
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           | scored AS (SELECT vec_id,
           |   list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
           |   / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
           |      * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))) AS cosine
           |   FROM embeddings CROSS JOIN q)
           | SELECT vec_id, round(cosine, 6) AS cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin.replace("\n", " "),
      "q33_multimodal_meta" ->
        s"""SELECT doc_id, 'raw' AS format,
           | CAST(64 + (strlen(text) * 7) % 1024 AS INT) AS width,
           | CAST(64 + (strlen(text) * 13) % 1024 AS INT) AS height,
           | CAST(strlen(text) AS BIGINT) AS size_bytes FROM documents""".stripMargin.replace("\n", " "),
      "q71_image_decode_real" ->
        s"""SELECT doc_id, 'png' AS format,
           | CAST(8 + doc_id % 16 AS INT) AS width,
           | CAST(8 + doc_id % 13 AS INT) AS height,
           | CAST(3 AS INT) AS channels FROM documents""".stripMargin.replace("\n", " "),
      "q75_audio_decode_real" ->
        s"""SELECT doc_id, 'wave' AS format,
           | CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
           | CAST(1 AS INT) AS channels, CAST(16 AS INT) AS bits,
           | CAST(400 + doc_id % 50 AS BIGINT) AS frames FROM documents""".stripMargin.replace("\n", " "),
      "q34_simplify" ->
        s"SELECT s_suppkey, 2 AS np FROM $sup WHERE NOT (x1 = x2 AND y1 = y2)",
      "q35_interpolate" ->
        s"""SELECT s_suppkey,
           | round(x1 + ((CAST(0.25 AS DOUBLE) * len) / len) * (x2 - x1), 6) AS ix,
           | round(y1 + ((CAST(0.25 AS DOUBLE) * len) / len) * (y2 - y1), 6) AS iy
           | FROM (SELECT *, sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) AS len FROM $sup)
           | WHERE NOT (x1 = x2 AND y1 = y2)""".stripMargin.replace("\n", " "),
      "q36_envelope_wkt" ->
        s"""SELECT l_orderkey, l_linenumber, 'POLYGON ((' ||
           | x0s || ' ' || y0s || ', ' || x0s || ' ' || y1s || ', ' ||
           | x1s || ' ' || y1s || ', ' || x1s || ' ' || y0s || ', ' ||
           | x0s || ' ' || y0s || '))' AS wkt
           | FROM (SELECT l_orderkey, l_linenumber,
           |   CAST(CAST(ax0 AS BIGINT) AS VARCHAR) AS x0s, CAST(CAST(ay0 AS BIGINT) AS VARCHAR) AS y0s,
           |   CAST(CAST(ax1 AS BIGINT) AS VARCHAR) AS x1s, CAST(CAST(ay1 AS BIGINT) AS VARCHAR) AS y1s
           |   FROM $boxes WHERE l_orderkey % 50 = 0)""".stripMargin.replace("\n", " "),
      "q37_relate" ->
        s"""SELECT c_custkey, n_nationkey, '0FFFFF212' AS de9im FROM $pts p JOIN $cells c
           | ON p.px > c.x0 AND p.px < c.x1 AND p.py > c.y0 AND p.py < c.y1
           | WHERE p.px % 20 <> 0 AND p.py % 20 <> 0""".stripMargin.replace("\n", " "),
      "q38_intersection_box" ->
        s"""SELECT l_orderkey, l_linenumber,
           | round(greatest(CAST(0 AS DOUBLE), least(ax1, bx1) - greatest(ax0, bx0)) * greatest(CAST(0 AS DOUBLE), least(ay1, by1) - greatest(ay0, by0)), 6) AS iarea
           | FROM $boxes WHERE l_orderkey % 20 = 1""".stripMargin.replace("\n", " "),
      "q39_total_bounds" ->
        s"SELECT min(px) AS xmin, min(py) AS ymin, max(px) AS xmax, max(py) AS ymax FROM $pts",
      "q40_clip" ->
        s"""SELECT l_orderkey, l_linenumber,
           | round(greatest(CAST(0 AS DOUBLE), least(ax1, CAST(40 AS DOUBLE)) - greatest(ax0, CAST(10 AS DOUBLE))) * greatest(CAST(0 AS DOUBLE), least(ay1, CAST(40 AS DOUBLE)) - greatest(ay0, CAST(10 AS DOUBLE))), 6) AS clip_area
           | FROM $boxes
           | WHERE ax0 <= 40 AND 10 <= ax1 AND ay0 <= 40 AND 10 <= ay1""".stripMargin.replace("\n", " "),
      "q28_minhash_pairs" -> minhashOracle(k = 3, numHashes = 16, bands = 4, threshold = 0.3),
      "q30_simhash" ->
        s"""WITH t AS (SELECT doc_id, list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''), tok -> md5(tok)) AS hs FROM documents),
           | bits AS (SELECT doc_id, list_transform(range(0, 64), j -> CASE WHEN
           |   list_sum(list_transform(hs, h -> CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1) >> CAST(3 - (j % 4) AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           |   THEN 1 ELSE 0 END) AS b FROM t)
           | SELECT doc_id, list_aggregate(list_transform(range(0, 16),
           |   g -> substr('0123456789abcdef', CAST(b[g*4+1]*8 + b[g*4+2]*4 + b[g*4+3]*2 + b[g*4+4] AS INT) + 1, 1)), 'string_agg', '') AS simhash
           | FROM bits""".stripMargin.replace("\n", " "),
      "q31_fingerprint" ->
        s"""SELECT doc_id, list_reduce(list_concat([CAST(0 AS BIGINT)],
           | list_transform(range(1, length(text) + 1), i -> CAST(ord(substr(text, i, 1)) AS BIGINT))),
           | (acc, x) -> (acc * 131 + x) % 2147483647) AS fp FROM documents""".stripMargin.replace("\n", " "),
      "q41_segmentize" ->
        s"""SELECT s_suppkey, CAST(floor(sqrt((x2-x1)*(x2-x1)+(y2-y1)*(y2-y1)) / CAST(4 AS DOUBLE)) AS INT) + 2 AS np
           | FROM $sup WHERE NOT (x1 = x2 AND y1 = y2)""".stripMargin.replace("\n", " "),
      "q42_bounding_radius" ->
        s"""SELECT l_orderkey, l_linenumber, round(sqrt((ax1-ax0)*(ax1-ax0) + (ay1-ay0)*(ay1-ay0)) / CAST(2 AS DOUBLE), 6) AS radius
           | FROM $boxes WHERE l_orderkey % 50 = 1""".stripMargin.replace("\n", " "),
      "q43_rotated_rect" ->
        s"""SELECT l_orderkey, l_linenumber, round((ax1-ax0) * (ay1-ay0), 6) AS rr_area
           | FROM $boxes WHERE l_orderkey % 50 = 2""".stripMargin.replace("\n", " "),
      "q44_boundary_length" ->
        // + the Spark side's collapsed zero-extent box: boundary length 0
        s"""SELECT l_orderkey, l_linenumber, round(CAST(2 AS DOUBLE) * ((ax1-ax0) + (ay1-ay0)), 6) AS blen
           | FROM $boxes WHERE l_orderkey % 50 = 3
           | UNION ALL SELECT CAST(-47 AS BIGINT), CAST(-1 AS INT),
           |   round(CAST(2 AS DOUBLE) * ((CAST(5.0 AS DOUBLE) - CAST(5.0 AS DOUBLE)) + (CAST(5.0 AS DOUBLE) - CAST(5.0 AS DOUBLE))), 6)""".stripMargin.replace("\n", " "),
      "q87_interior_rings" ->
        s"""SELECT l_orderkey, l_linenumber,
           | CAST(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END AS INT) AS n_holes,
           | round((ax1-ax0) * (ay1-ay0)
           |   - CASE WHEN l_orderkey % 2 = 0 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END, 6) AS area
           | FROM $boxes WHERE l_orderkey % 25 = 4""".stripMargin.replace("\n", " "),
      "q45_reverse_wkt" ->
        s"""SELECT s_suppkey, 'LINESTRING (' || ${fmtSql("x2")} || ' ' || ${fmtSql("y2")} || ', ' ||
           | ${fmtSql("x1")} || ' ' || ${fmtSql("y1")} || ')' AS wkt FROM $sup""".stripMargin.replace("\n", " "),
      "q46_wkt_parse" -> s"SELECT c_custkey, px AS x, py AS y FROM $pts",
      "q47_geojson" ->
        s"""SELECT c_custkey, '{"type":"Point","coordinates":[' || ${fmtSql("px")} || ',' || ${fmtSql("py")} || ']}' AS gj,
           | px AS rx FROM $pts""".stripMargin.replace("\n", " "),
      "q48_force_3d" ->
        s"SELECT c_custkey, CAST(7.5 AS DOUBLE) AS z, true AS has_z, false AS still_z FROM customer",
      "q49_snap" ->
        s"""SELECT l_orderkey, l_linenumber,
           | CASE WHEN d < 3 THEN bx0 ELSE ax0 END AS sx, CASE WHEN d < 3 THEN by0 ELSE ay0 END AS sy
           | FROM (SELECT *, sqrt((ax0-bx0)*(ax0-bx0) + (ay0-by0)*(ay0-by0)) AS d FROM $boxes)
           | WHERE l_orderkey % 100 = 1""".stripMargin.replace("\n", " "),
      "q51_more_predicates" ->
        s"""SELECT l_orderkey, l_linenumber,
           | ((ax0 <= bx1 AND bx0 <= ax1 AND ay0 <= by1 AND by0 <= ay1) AND NOT
           |  (ax0 < bx1 AND bx0 < ax1 AND ay0 < by1 AND by0 < ay1)) AS touch,
           | (bx0 >= ax0 AND bx1 <= ax1 AND by0 >= ay0 AND by1 <= ay1) AS cov,
           | (ax0 = bx0 AND ax1 = bx1 AND ay0 = by0 AND ay1 = by1) AS eq,
           | (sqrt((ax0-bx0)*(ax0-bx0) + (ay0-by0)*(ay0-by0)) <= 10) AS dw
           | FROM $boxes WHERE l_orderkey % 20 = 2""".stripMargin.replace("\n", " "),
      "q52_relate_pattern" ->
        s"SELECT c_custkey, (px % 20 <> 0 AND py % 20 <> 0) AS is_within FROM $pts",
      "q53_contains_properly" ->
        s"""SELECT n_nationkey, count(*) AS n FROM $pts p JOIN $cells c
           | ON p.px > c.x0 AND p.px < c.x1 AND p.py > c.y0 AND p.py < c.y1
           | GROUP BY n_nationkey""".stripMargin.replace("\n", " "),
      "q54_union_area" ->
        s"""SELECT l_orderkey, l_linenumber,
           | round((ax1-ax0)*(ay1-ay0) + (bx1-bx0)*(by1-by0) - ov, 6) AS uarea,
           | round((ax1-ax0)*(ay1-ay0) + (bx1-bx0)*(by1-by0) - CAST(2 AS DOUBLE) * ov, 6) AS sarea
           | FROM (SELECT *, greatest(CAST(0 AS DOUBLE), least(ax1, bx1) - greatest(ax0, bx0)) * greatest(CAST(0 AS DOUBLE), least(ay1, by1) - greatest(ay0, by0)) AS ov FROM $boxes)
           | WHERE l_orderkey % 20 = 3""".stripMargin.replace("\n", " "),
      "q55_geoparquet_roundtrip" ->
        s"SELECT c_custkey, px AS x, py AS y FROM $pts WHERE px >= 10 AND px <= 60 AND py >= 20 AND py <= 80",
      "q56_geojson_roundtrip" ->
        s"SELECT c_custkey, px AS x, py AS y FROM $pts",
      "q69_gpkg_roundtrip" ->
        s"SELECT c_custkey, c_name, px AS x, py AS y FROM $pts WHERE c_custkey % 3 = 0",
      "q70_feather_roundtrip" ->
        s"SELECT c_custkey, c_acctbal, px AS x, py AS y FROM $pts WHERE c_custkey % 3 = 1",
      "q72_flatgeobuf_roundtrip" ->
        s"""SELECT c_custkey, c_name, px AS x, py AS y FROM $pts
           | WHERE c_custkey % 3 = 2 AND px >= 10 AND px <= 60 AND py >= 20 AND py <= 80""".stripMargin.replace("\n", " "),
      "q73_csv_roundtrip" ->
        s"""SELECT c_custkey, c_name, round(px, 6) AS x, round(py, 6) AS y FROM $pts
           | WHERE c_custkey % 4 = 1 AND c_custkey % 3 = 1""".stripMargin.replace("\n", " "),
      "q74_kml_roundtrip" ->
        s"""SELECT c_custkey, c_name, round(px, 6) AS x, round(py, 6) AS y FROM $pts
           | WHERE c_custkey % 5 = 2 AND c_custkey % 2 = 0""".stripMargin.replace("\n", " "),
      "q181_mif_roundtrip" ->
        s"""SELECT c_custkey, c_name, round(px, 6) AS x, round(py, 6) AS y FROM $pts
           | WHERE c_custkey % 4 = 3 AND c_custkey % 3 = 2""".stripMargin.replace("\n", " "),
      "q183_dxf_roundtrip" ->
        s"""SELECT CASE WHEN c_custkey % 2 = 0 THEN 'even' ELSE 'odd' END AS lyr,
           | round(px, 6) AS x, round(py, 6) AS y FROM $pts
           | WHERE c_custkey % 7 = 1""".stripMargin.replace("\n", " "),
      // Two-Point Equidistant closed-form spherical oracle: chord-based
      // angular distances to the two base points, planar position from the
      // two-circle intersection, side from the (A x B) . P triple product.
      // R = 6378137; everything below is plain trig DuckDB evaluates.
      "q182_tpeqd_crs" ->
        s"""WITH src AS (SELECT c_custkey,
           |  radians(px * CAST(1.2 AS DOUBLE) - CAST(150 AS DOUBLE)) AS lo,
           |  radians(py * CAST(1.2 AS DOUBLE) - CAST(60 AS DOUBLE)) AS la FROM $pts),
           | base AS (SELECT
           |  cos(radians(CAST(80 AS DOUBLE))) AS axx, CAST(0 AS DOUBLE) * cos(radians(CAST(80 AS DOUBLE))) AS axy, sin(radians(CAST(80 AS DOUBLE))) AS axz,
           |  cos(radians(CAST(80 AS DOUBLE))) * cos(radians(CAST(180 AS DOUBLE))) AS bxx,
           |  cos(radians(CAST(80 AS DOUBLE))) * sin(radians(CAST(180 AS DOUBLE))) AS bxy,
           |  sin(radians(CAST(80 AS DOUBLE))) AS bxz),
           | uv AS (SELECT c_custkey,
           |  cos(la) * cos(lo) AS ux, cos(la) * sin(lo) AS uy, sin(la) AS uz,
           |  axx, axy, axz, bxx, bxy, bxz FROM src, base),
           | ang AS (SELECT c_custkey, ux, uy, uz, axx, axy, axz, bxx, bxy, bxz,
           |  CAST(2 AS DOUBLE) * asin(least(CAST(1 AS DOUBLE), sqrt((axx-bxx)*(axx-bxx) + (axy-bxy)*(axy-bxy) + (axz-bxz)*(axz-bxz)) / CAST(2 AS DOUBLE))) AS c,
           |  CAST(2 AS DOUBLE) * asin(least(CAST(1 AS DOUBLE), sqrt((ux-axx)*(ux-axx) + (uy-axy)*(uy-axy) + (uz-axz)*(uz-axz)) / CAST(2 AS DOUBLE))) AS za,
           |  CAST(2 AS DOUBLE) * asin(least(CAST(1 AS DOUBLE), sqrt((ux-bxx)*(ux-bxx) + (uy-bxy)*(uy-bxy) + (uz-bxz)*(uz-bxz)) / CAST(2 AS DOUBLE))) AS zb
           |  FROM uv),
           | xy AS (SELECT c_custkey,
           |  CAST(6378137 AS DOUBLE) * (za*za - zb*zb) / (CAST(2 AS DOUBLE) * c) AS x,
           |  sqrt(greatest(CAST(0 AS DOUBLE),
           |    CAST(6378137 AS DOUBLE) * CAST(6378137 AS DOUBLE) * za * za
           |    - (CAST(6378137 AS DOUBLE) * (za*za - zb*zb) / (CAST(2 AS DOUBLE) * c) + CAST(6378137 AS DOUBLE) * c / CAST(2 AS DOUBLE))
           |    * (CAST(6378137 AS DOUBLE) * (za*za - zb*zb) / (CAST(2 AS DOUBLE) * c) + CAST(6378137 AS DOUBLE) * c / CAST(2 AS DOUBLE))))
           |  * (CASE WHEN (axy*bxz - axz*bxy) * ux + (axz*bxx - axx*bxz) * uy + (axx*bxy - axy*bxx) * uz >= 0 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS y
           |  FROM ang)
           | SELECT c_custkey, round(x, 3) + CAST(0 AS DOUBLE) AS tx, round(y, 3) + CAST(0 AS DOUBLE) AS ty FROM xy""".stripMargin.replace("\n", " "),
      // NZMG + Laborde oracle: the published formulas in plain SQL.
      // NZMG: 10-term psi series (Horner), then the 6 defining complex
      // coefficients unrolled as real-pair Horner stages; Laborde: Gauss
      // conformal-sphere constants derived IN SQL from a/f, sphere
      // rotation, Mercator development and the cubic G*H^3 correction.
      "q184_nzmg_laborde" ->
        s"""WITH src AS (SELECT c_custkey,
           |  (py * CAST(0.12 AS DOUBLE) - CAST(47 AS DOUBLE) + CAST(41 AS DOUBLE)) * CAST(0.036 AS DOUBLE) AS dphi,
           |  radians(px * CAST(0.12 AS DOUBLE) + CAST(166 AS DOUBLE) - CAST(173 AS DOUBLE)) AS dlam,
           |  radians(px * CAST(0.06 AS DOUBLE) + CAST(44 AS DOUBLE)) AS mlam,
           |  radians(py * CAST(0.1 AS DOUBLE) - CAST(25 AS DOUBLE)) AS mphi FROM $pts),
           | nzp AS (SELECT c_custkey, dlam, mlam, mphi,
           |  dphi*(CAST(0.6399175073 AS DOUBLE) + dphi*(CAST(-0.1358797613 AS DOUBLE) + dphi*(CAST(0.063294409 AS DOUBLE) + dphi*(CAST(-0.02526853 AS DOUBLE) + dphi*(CAST(0.0117879 AS DOUBLE) + dphi*(CAST(-0.0055161 AS DOUBLE) + dphi*(CAST(0.0026906 AS DOUBLE) + dphi*(CAST(-0.001333 AS DOUBLE) + dphi*(CAST(0.00067 AS DOUBLE) + dphi*CAST(-0.00034 AS DOUBLE)))))))))) AS psi FROM src),
           | s4 AS (SELECT *, CAST(-0.6870983 AS DOUBLE)*psi - CAST(-1.1651967 AS DOUBLE)*dlam + CAST(-0.26623489 AS DOUBLE) AS f4r,
           |                  CAST(-0.6870983 AS DOUBLE)*dlam + CAST(-1.1651967 AS DOUBLE)*psi + CAST(-0.36249218 AS DOUBLE) AS f4i FROM nzp),
           | s3 AS (SELECT *, f4r*psi - f4i*dlam + CAST(-0.10162907 AS DOUBLE) AS f3r,
           |                  f4r*dlam + f4i*psi + CAST(0.01727609 AS DOUBLE) AS f3i FROM s4),
           | s2 AS (SELECT *, f3r*psi - f3i*dlam + CAST(-0.001541739 AS DOUBLE) AS f2r,
           |                  f3r*dlam + f3i*psi + CAST(0.041058560 AS DOUBLE) AS f2i FROM s3),
           | s1 AS (SELECT *, f2r*psi - f2i*dlam + CAST(0.249204646 AS DOUBLE) AS f1r,
           |                  f2r*dlam + f2i*psi + CAST(0.003371507 AS DOUBLE) AS f1i FROM s2),
           | s0 AS (SELECT *, f1r*psi - f1i*dlam + CAST(0.7557853228 AS DOUBLE) AS f0r,
           |                  f1r*dlam + f1i*psi AS f0i FROM s1),
           | nz AS (SELECT c_custkey, mlam, mphi,
           |  CAST(2510000 AS DOUBLE) + CAST(6378388 AS DOUBLE) * (f0r*dlam + f0i*psi) AS nx,
           |  CAST(6023150 AS DOUBLE) + CAST(6378388 AS DOUBLE) * (f0r*psi - f0i*dlam) AS ny FROM s0),
           | kon AS (SELECT
           |  sqrt((CAST(1 AS DOUBLE)/CAST(297 AS DOUBLE)) * (CAST(2 AS DOUBLE) - CAST(1 AS DOUBLE)/CAST(297 AS DOUBLE))) AS ee,
           |  (CAST(1 AS DOUBLE)/CAST(297 AS DOUBLE)) * (CAST(2 AS DOUBLE) - CAST(1 AS DOUBLE)/CAST(297 AS DOUBLE)) AS e2,
           |  radians(CAST(-18.9 AS DOUBLE)) AS phic,
           |  radians(CAST(46.43722916666667 AS DOUBLE)) AS lamc,
           |  radians(CAST(18.9 AS DOUBLE)) AS alpha),
           | kon2 AS (SELECT *,
           |  sqrt(CAST(1 AS DOUBLE) + e2 * power(cos(phic), CAST(4 AS DOUBLE)) / (CAST(1 AS DOUBLE) - e2)) AS bb FROM kon),
           | kon3 AS (SELECT *, asin(sin(phic) / bb) AS phis,
           |  CAST(6378388 AS DOUBLE) * CAST(0.9995 AS DOUBLE) * sqrt(CAST(1 AS DOUBLE) - e2) / (CAST(1 AS DOUBLE) - e2 * sin(phic) * sin(phic)) AS rr,
           |  (CAST(1 AS DOUBLE) - cos(CAST(2 AS DOUBLE) * alpha)) / CAST(12 AS DOUBLE) AS gr,
           |  sin(CAST(2 AS DOUBLE) * alpha) / CAST(12 AS DOUBLE) AS gi FROM kon2),
           | kon4 AS (SELECT *,
           |  ln(tan(pi()/CAST(4 AS DOUBLE) + phis/CAST(2 AS DOUBLE)))
           |   - bb * ln(tan(pi()/CAST(4 AS DOUBLE) + phic/CAST(2 AS DOUBLE)) * power((CAST(1 AS DOUBLE) - ee*sin(phic))/(CAST(1 AS DOUBLE) + ee*sin(phic)), ee/CAST(2 AS DOUBLE))) AS cc FROM kon3),
           | lb1 AS (SELECT c_custkey, nx, ny, bb, phis, rr, gr, gi,
           |  bb * (mlam - lamc) AS biglc,
           |  CAST(2 AS DOUBLE) * atan(exp(cc + bb * ln(tan(pi()/CAST(4 AS DOUBLE) + mphi/CAST(2 AS DOUBLE)) * power((CAST(1 AS DOUBLE) - ee*sin(mphi))/(CAST(1 AS DOUBLE) + ee*sin(mphi)), ee/CAST(2 AS DOUBLE))))) - pi()/CAST(2 AS DOUBLE) AS p
           |  FROM nz, kon4),
           | lb2 AS (SELECT c_custkey, nx, ny, rr, gr, gi,
           |  cos(p)*cos(biglc)*cos(phis) + sin(p)*sin(phis) AS u,
           |  cos(p)*cos(biglc)*sin(phis) - sin(p)*cos(phis) AS v,
           |  cos(p)*sin(biglc) AS w FROM lb1),
           | lb3 AS (SELECT c_custkey, nx, ny, rr, gr, gi,
           |  -atan2(v, u) AS hr,
           |  ln(tan(pi()/CAST(4 AS DOUBLE) + atan2(w, sqrt(u*u + v*v))/CAST(2 AS DOUBLE))) AS hi FROM lb2),
           | lb4 AS (SELECT c_custkey, nx, ny, rr, gr, gi, hr, hi,
           |  hr*hr - hi*hi AS h2r, CAST(2 AS DOUBLE)*hr*hi AS h2i FROM lb3),
           | lb5 AS (SELECT c_custkey, nx, ny,
           |  CAST(400000 AS DOUBLE) + rr * (hi + gr*(h2r*hi + h2i*hr) + gi*(h2r*hr - h2i*hi)) AS lx,
           |  CAST(800000 AS DOUBLE) + rr * (hr + gr*(h2r*hr - h2i*hi) - gi*(h2r*hi + h2i*hr)) AS ly FROM lb4)
           | SELECT c_custkey, round(nx, 3) + CAST(0 AS DOUBLE) AS nx, round(ny, 3) + CAST(0 AS DOUBLE) AS ny,
           |  round(lx, 3) + CAST(0 AS DOUBLE) AS lx, round(ly, 3) + CAST(0 AS DOUBLE) AS ly FROM lb5""".stripMargin.replace("\n", " "),
      // the INSERT affine chain in plain SQL: block point (1,0), uniform
      // scale 1 + k%3, rotation k%360 degrees, translate to (px, py)
      "q185_dxf_insert" ->
        s"""SELECT c_custkey,
           | round(px + (CAST(1 AS DOUBLE) + c_custkey % 3) * cos(radians(CAST(c_custkey % 360 AS DOUBLE))), 3) + CAST(0 AS DOUBLE) AS x,
           | round(py + (CAST(1 AS DOUBLE) + c_custkey % 3) * sin(radians(CAST(c_custkey % 360 AS DOUBLE))), 3) + CAST(0 AS DOUBLE) AS y
           | FROM $pts WHERE c_custkey % 11 = 3""".stripMargin.replace("\n", " "),
      "q76_gml_roundtrip" ->
        s"""SELECT c_custkey, c_name, round(px, 6) AS x, round(py, 6) AS y FROM $pts
           | WHERE c_custkey % 5 = 3 AND c_custkey % 2 = 1""".stripMargin.replace("\n", " "),
      "q77_gpx_roundtrip" ->
        s"""SELECT c_custkey, c_name, round(px, 6) AS x, round(py, 6) AS y FROM $pts
           | WHERE c_custkey % 5 = 4 AND c_custkey % 2 = 0""".stripMargin.replace("\n", " "),
      "q78_pii_redact" ->
        s"""SELECT doc_id,
           | CAST(len(regexp_extract_all(raw, 'https?://\\S+')) AS INT) AS n_urls,
           | CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           | CAST(len(regexp_extract_all(raw, '\\+?\\d{3}[-.]\\d{3}[-.]\\d{4}')) AS INT) AS n_phones,
           | regexp_replace(regexp_replace(regexp_replace(raw,
           |   'https?://\\S+', '<URL>', 'g'),
           |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |   '\\+?\\d{3}[-.]\\d{3}[-.]\\d{4}', '<PHONE>', 'g') AS redacted
           | FROM (SELECT doc_id, 'u' || doc_id || '@mail-x.com ' || text ||
           |   ' see https://ex' || (doc_id % 7) || '.org/p?q=' || doc_id ||
           |   ' or call 555-123-4567 now' AS raw FROM documents)""".stripMargin.replace("\n", " "),
      "q79_repetition_stats" ->
        s"""SELECT doc_id, CAST(4 AS INT) AS n_lines,
           | CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 3 END AS INT) AS n_distinct_lines,
           | CAST(CASE WHEN doc_id % 2 = 0 THEN 0.5 ELSE 0.25 END AS DOUBLE) AS dup_line_frac
           | FROM documents""".stripMargin.replace("\n", " "),
      "q80_decontamination" ->
        s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents),
           | gr AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)),
           |   i -> t[i] || ' ' || t[i+1]))) AS sh FROM toks),
           | probe AS (SELECT DISTINCT sh FROM gr WHERE doc_id % 97 = 0)
           | SELECT g.doc_id, count(*) AS overlap FROM gr g JOIN probe p ON g.sh = p.sh
           | WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id HAVING count(*) >= 20""".stripMargin.replace("\n", " "),
      "q81_stratified_sample" ->
        s"""SELECT doc_id, CAST(doc_id % 3 AS STRING) AS grp FROM documents
           | WHERE substr(md5('s:' || doc_id), 1, 6) <
           |   CASE WHEN doc_id % 3 = 0 THEN '800000'
           |        WHEN doc_id % 3 = 1 THEN '333333' ELSE '0ccccc' END""".stripMargin.replace("\n", " "),
      "q82_pack_sequences" ->
        s"""SELECT doc_id, n_tokens, shard,
           | CAST(floor(CAST(pre AS DOUBLE) / CAST(512 AS DOUBLE)) AS BIGINT) AS pack
           | FROM (SELECT doc_id, n_tokens, shard,
           |   coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS pre
           |   FROM (SELECT doc_id,
           |     CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
           |     ((doc_id % 8) + 8) % 8 AS shard FROM (SELECT doc_id, text FROM documents
           |       UNION ALL SELECT (SELECT min(doc_id) FROM documents) - 1, '')))""".stripMargin.replace("\n", " "),
      "q83_assemble_packs" ->
        s"""SELECT shard, pack, count(*) AS n_docs,
           | CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           | md5(string_agg(text, ' <doc> ' ORDER BY doc_id)) AS chunk_md5
           | FROM (SELECT doc_id, text, n_tokens, shard,
           |   CAST(floor(CAST(pre AS DOUBLE) / CAST(512 AS DOUBLE)) AS BIGINT) AS pack
           |   FROM (SELECT doc_id, text, n_tokens, shard,
           |     coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS pre
           |     FROM (SELECT doc_id, text,
           |       CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
           |       ((doc_id % 8) + 8) % 8 AS shard FROM (SELECT doc_id, text FROM documents
           |         UNION ALL SELECT (SELECT min(doc_id) FROM documents) - 1, ''))))
           | GROUP BY shard, pack""".stripMargin.replace("\n", " "),
      "q84_domain_filter" ->
        s"""SELECT doc_id,
           | array_to_string(list_transform(regexp_extract_all(raw, 'https?://([^/\\s]+)', 1),
           |   h -> lower(h)), ',') AS hosts,
           | CAST(len(regexp_extract_all(raw, 'https?://([^/\\s]+)', 1)) AS INT) AS n_urls,
           | (doc_id % 3 = 0) AS blocked
           | FROM (SELECT doc_id, text || ' see https://Site' || (doc_id % 5) ||
           |   '.Example.com/p and http://blocked' || (doc_id % 3) || '.org/x' AS raw
           |   FROM documents)""".stripMargin.replace("\n", " "),
      "q85_paragraph_dedup" ->
        s"""SELECT doc_id, CAST(2 AS BIGINT) AS n_paras_kept,
           | 'h' || doc_id || ' ' || substr(trim(text), 1, 10) || chr(10) || 'u' || doc_id AS cleaned
           | FROM documents""".stripMargin.replace("\n", " "),
      "q86_ngram_repetition" ->
        s"""SELECT doc_id, CAST(3 * (2 + doc_id % 3) AS INT) AS n_tokens,
           | round(CAST(1 AS DOUBLE) - CAST(3 AS DOUBLE) / (3 * (2 + doc_id % 3) - 1), 6) AS dup_bigram_frac
           | FROM documents""".stripMargin.replace("\n", " "),
      "q61_intersection_all" ->
        s"""SELECT l_returnflag,
           | round(greatest(CAST(0 AS DOUBLE), min(ax1) - max(ax0)) * greatest(CAST(0 AS DOUBLE), min(ay1) - max(ay0)), 6) AS iarea
           | FROM $boxes GROUP BY l_returnflag""".stripMargin.replace("\n", " "),
      "q57_estimate_utm" ->
        s"""SELECT c_custkey, CAST(CASE WHEN py * CAST(1.6 AS DOUBLE) - CAST(80 AS DOUBLE) >= 0 THEN 32600 ELSE 32700 END
           | + least(60, greatest(1, CAST(floor((px * CAST(3.6 AS DOUBLE) - CAST(180 AS DOUBLE) + 180) / CAST(6 AS DOUBLE)) AS INT) + 1)) AS INT) AS epsg
           | FROM $pts""".stripMargin.replace("\n", " "),
      "q58_sessionize" ->
        s"""WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS sec FROM events),
           | g AS (SELECT user_id, sec, lag(sec) OVER (PARTITION BY user_id ORDER BY sec) AS prev FROM e)
           | SELECT user_id, CAST(sum(CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           | count(*) AS n_events FROM g GROUP BY user_id""".stripMargin.replace("\n", " "),
      "q59_ngram_jaccard" -> minhashOracle(k = 2, numHashes = 16, bands = 4, threshold = 0.4),
      "q62_sjoin_left_attr" ->
        s"""SELECT c_custkey, n_nationkey FROM $pts p LEFT JOIN $cells c
           | ON p.px >= c.x0 AND p.px <= c.x1 AND p.py >= c.y0 AND p.py <= c.y1
           | AND p.c_nationkey = c.n_nationkey""".stripMargin.replace("\n", " "),
      // full reproduction of the Rademacher-plane LSH bucket spec (see
      // Similarity.scala): plane sign from md5, bucket bits from plane-dot
      // signs, probe set = buckets within hamming 2, cosine rescore
      "q63_ann_indexed" ->
        s"""WITH pls AS (
           |  SELECT list(pl ORDER BY p) AS pls FROM (
           |    SELECT p, list_transform(range(0, 64), i ->
           |      CASE WHEN substr(md5('42:' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) >= '8'
           |           THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS pl
           |    FROM range(0, 8) t(p))),
           | b AS (SELECT vec_id, embedding,
           |   CAST(list_sum(list_transform(range(0, 8), p ->
           |     CASE WHEN list_sum(list_transform(range(1, 65), i -> pls.pls[CAST(p AS INT)+1][CAST(i AS INT)] * CAST(embedding[i] AS DOUBLE))) >= 0
           |          THEN CAST(pow(2, 7 - p) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
           |   FROM embeddings CROSS JOIN pls),
           | q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
           | f AS (SELECT vec_id, embedding, qe FROM b CROSS JOIN q WHERE bit_count(xor(bucket, qb)) <= 2),
           | scored AS (SELECT vec_id,
           |   list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
           |   / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
           |      * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))) AS cosine
           |   FROM f)
           | SELECT vec_id, round(cosine, 6) AS cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin.replace("\n", " "),
      "q64_minhash_fast" -> minhashOracle(k = 3, numHashes = 16, bands = 4, threshold = 0.95),
      "q66_dissolve_coverage" ->
        s"SELECT n_regionkey, CAST(400 * count(*) AS DOUBLE) AS area, count(*) AS n_cells FROM $cells GROUP BY n_regionkey",
      "q67_pipeline" -> {
        val qualityExpr =
          """round((least(CAST(length(text) AS DOUBLE) / CAST(500 AS DOUBLE), CAST(1 AS DOUBLE))
            | + least(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS DOUBLE) / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))
            | + greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - (CASE WHEN length(text) = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) / length(text) END) * CAST(5 AS DOUBLE)))
            | / CAST(3 AS DOUBLE), 6)""".stripMargin.replace("\n", " ")
        val langExpr =
          """(list_max([
            |  {'s': len(list_filter(toks0, x -> x IN ('der','die','das','und','ist'))), 'l': 'de'},
            |  {'s': len(list_filter(toks0, x -> x IN ('the','and','of','to','is'))), 'l': 'en'},
            |  {'s': len(list_filter(toks0, x -> x IN ('el','los','las','es','y'))), 'l': 'es'},
            |  {'s': len(list_filter(toks0, x -> x IN ('le','la','les','et','est'))), 'l': 'fr'},
            |  {'s': len(list_filter(toks0, x -> x IN ('de5','shi4','le5','zai4','he2'))), 'l': 'zh'}])).l""".stripMargin.replace("\n", " ")
        s"""WITH f AS (
           |  SELECT doc_id, text FROM (SELECT doc_id, text, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks0 FROM documents)
           |  WHERE $qualityExpr >= CAST(0.5 AS DOUBLE) AND $langExpr = 'en'),
           | ex AS (SELECT min(doc_id) AS doc_id, min(text) AS text, count(*) AS dup_count FROM f GROUP BY md5(text)),
           | nd AS (SELECT DISTINCT id_b AS doc_id FROM (${minhashOracle(k = 3, numHashes = 16, bands = 4, threshold = 0.5, src = "ex")})),
           | kept AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM nd))
           | SELECT count(*) AS n_docs,
           |   round(avg(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))), 4) AS avg_tokens,
           |   CAST(sum(dup_count) AS BIGINT) AS n_represented
           | FROM kept""".stripMargin.replace("\n", " ")
      },
      // brute-force pair oracle: the LSH path must achieve 100% recall at
      // threshold 0.45 (non-empty on the driver data — 14 pairs at sf0.01)
      // for the hash to match
      "q65_embedding_lsh" ->
        s"""WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |   list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           |   / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
           |    * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cosine
           |   FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
           | SELECT id_a, id_b, round(cosine, 6) AS cosine FROM p WHERE cosine >= CAST(0.45 AS DOUBLE)""".stripMargin.replace("\n", " "),
      // full reproduction of the IVF spec (Similarity.ivfCentroids/
      // withIvfCell/ivfTopK): md5-ordered seed sample, seed assignment,
      // rounded Lloyd means (empty cells keep their seed), refined-cell
      // assignment, nprobe probe set, cosine rescore
      "q68_ivf_topk" ->
        s"""WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
           | seeds AS (SELECT * FROM (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS INT) AS c,
           |   embedding AS sv FROM v) WHERE c < 16),
           | a0 AS (SELECT vec_id, embedding, c,
           |   list_sum(list_transform(range(1, 65), i -> (CAST(embedding[i] AS DOUBLE) - CAST(sv[i] AS DOUBLE)) * (CAST(embedding[i] AS DOUBLE) - CAST(sv[i] AS DOUBLE)))) AS d
           |   FROM v CROSS JOIN seeds),
           | asg AS (SELECT vec_id, embedding, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk FROM a0) WHERE rk = 1),
           | m AS (SELECT c, i, CAST(floor(sum(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) / count(*) * 1000000 + CAST(0.5 AS DOUBLE)) / 1000000 AS FLOAT) AS mval
           |   FROM asg CROSS JOIN range(1, 65) t(i) GROUP BY c, i),
           | cents AS (SELECT s.c, list(COALESCE(m.mval, s.sv[CAST(t.i AS INT)]) ORDER BY t.i) AS cv
           |   FROM seeds s CROSS JOIN range(1, 65) t(i) LEFT JOIN m ON m.c = s.c AND m.i = t.i GROUP BY s.c),
           | f0 AS (SELECT v.vec_id, v.embedding, cents.c,
           |   list_sum(list_transform(range(1, 65), i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)) * (CAST(v.embedding[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))) AS d
           |   FROM v CROSS JOIN cents),
           | fcell AS (SELECT vec_id, embedding, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk FROM f0) WHERE rk = 1),
           | q AS (SELECT embedding AS qe FROM v WHERE vec_id = 0),
           | pd AS (SELECT cents.c,
           |   list_sum(list_transform(range(1, 65), i -> (CAST(qe[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)) * (CAST(qe[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))) AS d
           |   FROM cents CROSS JOIN q),
           | probes AS (SELECT c FROM pd ORDER BY d, c LIMIT 4),
           | scored AS (SELECT vec_id,
           |   list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
           |   / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
           |      * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))) AS cosine
           |   FROM fcell CROSS JOIN q WHERE c IN (SELECT c FROM probes))
           | SELECT vec_id, round(cosine, 6) AS cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin.replace("\n", " "),
      "q60_embedding_pairs" ->
        s"""WITH e AS (SELECT * FROM embeddings WHERE vec_id < 2000),
           | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |   list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           |   / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
           |    * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cosine
           |   FROM e a JOIN e b ON a.vec_id < b.vec_id)
           | SELECT id_a, id_b, round(cosine, 6) AS cosine FROM p WHERE cosine >= CAST(0.45 AS DOUBLE)""".stripMargin.replace("\n", " "),

      // -- round 10: closed-form mirrors for the constructive/coordinate-exact
      // tail. Every expected value below is derived from the fixture
      // construction (grid combinatorics, rectangle symmetry, exact integer
      // coordinates), never copied from engine output.
      "q88_polygonize" ->
        s"""SELECT n_nationkey, CAST(k * k AS INT) AS n_faces,
           | round(CAST(k * k AS DOUBLE), 6) AS total_area
           | FROM (SELECT n_nationkey, n_nationkey % 3 + 2 AS k FROM nation)""".stripMargin.replace("\n", " "),
      "q89_polygonize_full" ->
        s"""SELECT n_nationkey, CAST(k * k AS INT) AS n_polys, CAST(0 AS INT) AS n_cuts,
           | CAST(1 AS INT) AS n_dangles, 'LINESTRING (0 0, -1 -1)' AS dangles_wkt
           | FROM (SELECT n_nationkey, n_nationkey % 3 + 2 AS k FROM nation)""".stripMargin.replace("\n", " "),
      "q90_delaunay" ->
        s"""SELECT n_nationkey, CAST(2 * (k - 1) * (k - 1) AS INT) AS n_tri,
           | round(CAST((k - 1) * (k - 1) AS DOUBLE), 6) AS area
           | FROM (SELECT n_nationkey, n_nationkey % 3 + 2 AS k FROM nation)""".stripMargin.replace("\n", " "),
      "q91_constrained_delaunay" ->
        s"""SELECT n_nationkey, CAST(4 AS INT) AS n_tri,
           | round(CAST(12 * sc * sc AS DOUBLE), 6) AS area
           | FROM (SELECT n_nationkey, n_nationkey % 3 + 1 AS sc FROM nation)""".stripMargin.replace("\n", " "),
      "q92_voronoi" ->
        s"""SELECT n_nationkey, CAST(m * m AS BIGINT) AS n_cells,
           | round(CAST(4 AS DOUBLE), 6) AS min_area, round(CAST(4 AS DOUBLE), 6) AS max_area,
           | round(CAST(4 * m * m AS DOUBLE), 6) AS sum_area
           | FROM (SELECT n_nationkey, n_nationkey % 2 + 2 AS m FROM nation)""".stripMargin.replace("\n", " "),
      "q93_inscribed_circle" ->
        s"""SELECT n_nationkey,
           | round(CAST(n_nationkey % 5 + 1 AS DOUBLE) / 2, 6) AS cx,
           | round(CAST(n_nationkey % 5 + 1 AS DOUBLE) / 2, 6) AS cy,
           | round(CAST(n_nationkey % 5 + 1 AS DOUBLE) / 2, 6) AS r
           | FROM nation""".stripMargin.replace("\n", " "),
      "q94_min_clearance" ->
        s"""SELECT n_nationkey,
           | round(CAST(least(n_nationkey % 4 + 2, n_nationkey % 2 + 1) AS DOUBLE), 6) AS clearance,
           | round(CAST(least(n_nationkey % 4 + 2, n_nationkey % 2 + 1) AS DOUBLE), 6) AS line_len
           | FROM nation""".stripMargin.replace("\n", " "),
      "q95_build_area" ->
        s"""SELECT n_nationkey, round(CAST(15 * sc * sc AS DOUBLE), 6) AS area, CAST(1 AS INT) AS n_holes
           | FROM (SELECT n_nationkey, n_nationkey % 3 + 1 AS sc FROM nation)""".stripMargin.replace("\n", " "),
      "q96_hausdorff_frechet" ->
        s"""SELECT n_nationkey,
           | round(sqrt(CAST((l2 - 10) * (l2 - 10) + dd * dd AS DOUBLE)), 6) AS hd,
           | round(sqrt(CAST((l2 - 10) * (l2 - 10) + dd * dd AS DOUBLE)), 6) AS fd
           | FROM (SELECT n_nationkey, n_nationkey % 5 + 10 AS l2, n_nationkey % 4 + 1 AS dd FROM nation)""".stripMargin.replace("\n", " "),
      "q97_shortest_project" ->
        s"""SELECT n_nationkey,
           | concat('LINESTRING (', CAST(px AS VARCHAR), ' ', CAST(py AS VARCHAR), ', ',
           |   CAST(least(px, 10) AS VARCHAR), ' 2)') AS short_wkt,
           | round(CAST(least(px, 10) AS DOUBLE), 6) AS proj,
           | round(CAST(least(px, 10) AS DOUBLE) / 10, 6) AS proj_n
           | FROM (SELECT n_nationkey, n_nationkey % 15 AS px, n_nationkey % 4 + 3 AS py FROM nation)""".stripMargin.replace("\n", " "),
      "q98_normalize_orient" ->
        s"""SELECT n_nationkey,
           | concat('POLYGON ((', x0, ' ', y0, ', ', x0, ' ', y1, ', ', x1, ' ', y1, ', ', x1, ' ', y0, ', ', x0, ' ', y0, '))') AS norm_poly,
           | concat('LINESTRING (', x0, ' ', y0, ', ', x1, ' ', y1, ')') AS norm_line,
           | concat('POLYGON ((', x0, ' ', y0, ', ', x1, ' ', y0, ', ', x1, ' ', y1, ', ', x0, ' ', y1, ', ', x0, ' ', y0, '))') AS ccw_wkt,
           | concat('POLYGON ((', x0, ' ', y0, ', ', x0, ' ', y1, ', ', x1, ' ', y1, ', ', x1, ' ', y0, ', ', x0, ' ', y0, '))') AS cw_wkt
           | FROM (SELECT n_nationkey,
           |   CAST(n_nationkey % 5 AS VARCHAR) AS x0, CAST(n_nationkey % 3 AS VARCHAR) AS y0,
           |   CAST(n_nationkey % 5 + 1 + n_nationkey % 4 AS VARCHAR) AS x1,
           |   CAST(n_nationkey % 3 + 1 + n_nationkey % 2 AS VARCHAR) AS y1 FROM nation)""".stripMargin.replace("\n", " "),
      "q99_exterior_points" ->
        s"""SELECT n_nationkey,
           | concat('LINESTRING (', a, ' ', b, ', ', a, ' ', e, ', ', c, ' ', e, ', ', c, ' ', b, ', ', a, ' ', b, ')') AS exterior_wkt,
           | concat('MULTIPOINT ((', a, ' ', b, '), (', c, ' ', b, '), (', c, ' ', e, '))') AS unique_wkt,
           | concat('LINESTRING (', a, ' ', b, ', ', c, ' ', b, ', ', c, ' ', e, ')') AS dedup_wkt,
           | concat('POINT (', a, ' ', b, ')') AS flat_wkt
           | FROM (SELECT n_nationkey,
           |   CAST(n_nationkey % 4 AS VARCHAR) AS a, CAST(n_nationkey % 3 AS VARCHAR) AS b,
           |   CAST(n_nationkey % 4 + 1 + n_nationkey % 2 AS VARCHAR) AS c,
           |   CAST(n_nationkey % 3 + 2 AS VARCHAR) AS e FROM nation)""".stripMargin.replace("\n", " "),
      "q100_linemerge_geomn" ->
        s"""SELECT n_nationkey,
           | concat('LINESTRING (', a, ' ', b, ', ', c, ' ', b, ', ', c, ' ', e, ')') AS merged_wkt,
           | CAST(1 AS INT) AS n_merged, CAST(2 AS INT) AS n_directed,
           | concat('POINT (', c, ' ', b, ')') AS geomn_wkt
           | FROM (SELECT n_nationkey,
           |   CAST(n_nationkey % 4 AS VARCHAR) AS a, CAST(n_nationkey % 3 AS VARCHAR) AS b,
           |   CAST(n_nationkey % 4 + 1 + n_nationkey % 2 AS VARCHAR) AS c,
           |   CAST(n_nationkey % 3 + 2 AS VARCHAR) AS e FROM nation)""".stripMargin.replace("\n", " "),
      "q101_offset_precision" ->
        s"""SELECT n_nationkey,
           | concat('LINESTRING (', a, ' ', b + dd, ', ', a + l, ' ', b + dd, ')') AS off_pos_wkt,
           | concat('LINESTRING (', a, ' ', b - dd, ', ', a + l, ' ', b - dd, ')') AS off_neg_wkt,
           | concat('POINT (', n_nationkey, '.5 ', n_nationkey + 1, ')') AS prec_wkt
           | FROM (SELECT n_nationkey, n_nationkey % 3 AS a, n_nationkey % 4 + 1 AS b,
           |   n_nationkey % 5 + 5 AS l, n_nationkey % 3 + 1 AS dd FROM nation)""".stripMargin.replace("\n", " "),
      "q102_mbc_concave_repr" ->
        s"""SELECT n_nationkey,
           | round(CAST(w AS DOUBLE) / 2 - sqrt(CAST(w * w + h * h AS DOUBLE)) / 2, 6) AS bx0,
           | round(CAST(h AS DOUBLE) / 2 - sqrt(CAST(w * w + h * h AS DOUBLE)) / 2, 6) AS by0,
           | round(CAST(w AS DOUBLE) / 2 + sqrt(CAST(w * w + h * h AS DOUBLE)) / 2, 6) AS bx1,
           | round(CAST(h AS DOUBLE) / 2 + sqrt(CAST(w * w + h * h AS DOUBLE)) / 2, 6) AS by1,
           | round(CAST(w * h AS DOUBLE), 6) AS ch_area, CAST(5 AS INT) AS ch_npts,
           | round(CAST(w AS DOUBLE) / 2, 6) AS rx, round(CAST(h AS DOUBLE) / 2, 6) AS ry
           | FROM (SELECT n_nationkey, n_nationkey % 4 + 1 AS w, n_nationkey % 3 + 1 AS h FROM nation)""".stripMargin.replace("\n", " "),
      "q103_shared_valid" ->
        s"""SELECT n_nationkey,
           | concat('GEOMETRYCOLLECTION (MULTILINESTRING ((', aa, ' 0, ', bb, ' 0)), MULTILINESTRING EMPTY)') AS fwd_wkt,
           | concat('GEOMETRYCOLLECTION (MULTILINESTRING EMPTY, MULTILINESTRING ((', aa, ' 0, ', bb, ' 0)))') AS rev_wkt,
           | round(CAST(8 * sc * sc AS DOUBLE), 6) AS mv_area, CAST(2 AS INT) AS mv_n
           | FROM (SELECT n_nationkey, n_nationkey % 3 + 1 AS aa,
           |   n_nationkey % 3 + 2 + n_nationkey % 4 AS bb, n_nationkey % 3 + 1 AS sc FROM nation)""".stripMargin.replace("\n", " "),
      "q104_sample_points" ->
        s"""SELECT n_nationkey, CAST(n_nationkey % 5 + 10 AS INT) AS n_pts,
           | TRUE AS in_box, TRUE AS deterministic FROM nation""".stripMargin.replace("\n", " "),
      "q105_simplify_coverage" ->
        s"""SELECT n_nationkey, CAST(2 AS BIGINT) AS n_parts,
           | round(CAST(4 AS DOUBLE), 6) AS min_area, round(CAST(4 AS DOUBLE), 6) AS max_area,
           | round(CAST(8 AS DOUBLE), 6) AS sum_area FROM nation""".stripMargin.replace("\n", " "),
      "q106_transform_coords" ->
        s"""SELECT n_nationkey,
           | concat('LINESTRING (', a + 1, ' ', 2 * b, ', ', c + 1, ' ', 2 * e, ')') AS tx_wkt
           | FROM (SELECT n_nationkey, n_nationkey % 4 AS a, n_nationkey % 3 AS b,
           |   n_nationkey % 4 + 1 + n_nationkey % 2 AS c, n_nationkey % 3 + 2 AS e FROM nation)""".stripMargin.replace("\n", " "),
      "q107_knn_graph" ->
        s"""WITH e AS (SELECT * FROM embeddings WHERE vec_id < 500),
           | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |   list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           |   / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
           |    * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cosine
           |   FROM e a JOIN e b ON a.vec_id <> b.vec_id),
           | r AS (SELECT id_a, id_b, cosine,
           |   row_number() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b ASC) AS rk FROM p)
           | SELECT id_a, id_b, round(cosine, 6) AS cosine FROM r WHERE rk <= 3""".stripMargin.replace("\n", " "),
      "q108_densify_distances" ->
        s"""SELECT n_nationkey,
           | round(CAST(h AS DOUBLE), 6) AS hd,
           | round(CAST(w AS DOUBLE) / 2, 6) AS hd_d05,
           | round(CAST(w AS DOUBLE) / 3, 6) AS hd_d034,
           | round(sqrt(CAST(l2 * l2 + e * e AS DOUBLE)), 6) AS fr,
           | round(sqrt(CAST((l2 // 2) * (l2 // 2) + (e // 2) * (e // 2) AS DOUBLE)), 6) AS fr_d05,
           | round(greatest(CAST(e AS DOUBLE),
           |   sqrt(CAST((l2 // 4) * (l2 // 4) AS DOUBLE) + (0.75 * e) * (0.75 * e))), 6) AS fr_d025
           | FROM (SELECT n_nationkey, n_nationkey % 3 + 1 AS h, (n_nationkey % 3 + 2) * 6 AS w,
           |   (n_nationkey % 3 + 2) * 4 AS l2, (n_nationkey % 2 + 1) * 2 AS e FROM nation)""".stripMargin.replace("\n", " "),
      "q109_interiors_zm" ->
        s"""WITH base AS (SELECT n_nationkey, n_nationkey % 3 + 1 AS a, n_nationkey % 4 + 1 AS b FROM nation)
           | SELECT n_nationkey, 0 AS ring_idx,
           |  concat('LINESTRING (', a, ' ', a, ', ', a + 1, ' ', a, ', ', a + 1, ' ', a + 1, ', ', a, ' ', a + 1, ', ', a, ' ', a, ')') AS ring_wkt,
           |  CAST(7 AS DOUBLE) AS m_val, true AS has_m, false AS ident_rot, true AS eq_rot FROM base
           | UNION ALL
           | SELECT n_nationkey, 1 AS ring_idx,
           |  concat('LINESTRING (', a + 4, ' ', a, ', ', a + 5, ' ', a, ', ', a + 5, ' ', a + 1, ', ', a + 4, ' ', a + 1, ', ', a + 4, ' ', a, ')') AS ring_wkt,
           |  CAST(7 AS DOUBLE) AS m_val, true AS has_m, false AS ident_rot, true AS eq_rot FROM base""".stripMargin.replace("\n", " "),
      "q110_gopher_rules" ->
        s"""WITH raw AS (SELECT doc_id,
           |  concat(substr(trim(text), 1, 40), ' and that have with...', chr(10),
           |    '• bullet item one', chr(10),
           |    CASE WHEN doc_id % 3 = 0 THEN '- second bullet' ELSE 'plain line of words' END, chr(10),
           |    '## 42 100') AS r FROM documents),
           | tok AS (SELECT doc_id, r,
           |  list_filter(regexp_split_to_array(trim(r), '\\s+'), x -> x <> '') AS toks,
           |  list_filter(list_transform(string_split(r, chr(10)), l -> trim(l)), l -> l <> '') AS ls FROM raw),
           | m AS (SELECT doc_id,
           |  len(toks) AS n_words,
           |  round(CASE WHEN len(toks) = 0 THEN 0 ELSE CAST(len(regexp_extract_all(r, '#')) + len(regexp_extract_all(r, '\\.\\.\\.|…')) AS DOUBLE) / len(toks) END, 6) AS symbol_ratio,
           |  round(CASE WHEN len(ls) = 0 THEN 0 ELSE CAST(len(list_filter(ls, l -> regexp_matches(l, '^[•\\-\\*]'))) AS DOUBLE) / len(ls) END, 6) AS bullet_frac,
           |  round(CASE WHEN len(ls) = 0 THEN 0 ELSE CAST(len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)$$'))) AS DOUBLE) / len(ls) END, 6) AS ellipsis_frac,
           |  round(CASE WHEN len(toks) = 0 THEN 0 ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(toks) END, 6) AS alpha_frac,
           |  len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))), ['the','be','to','of','and','that','have','with'])) AS stop_hits,
           |  round(CASE WHEN len(toks) = 0 THEN 0 ELSE CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / len(toks) END, 6) AS mean_wlen
           |  FROM tok)
           | SELECT doc_id, n_words, symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac, stop_hits,
           |  (n_words BETWEEN 5 AND 100000 AND mean_wlen BETWEEN 3.0 AND 10.0
           |   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
           |   AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep FROM m""".stripMargin.replace("\n", " "),
      "q111_c4_filters" ->
        s"""WITH raw AS (SELECT doc_id,
           |  concat(substr(trim(text), 1, 30), ' so this sentence runs long enough.', chr(10),
           |    'too short.', chr(10),
           |    'this line has no terminal punctuation at all', chr(10),
           |    CASE WHEN doc_id % 7 = 0 THEN 'enable javascript to view this page.' ELSE 'a perfectly normal closing sentence here.' END, chr(10),
           |    CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet consectetur.' ELSE 'final words stay where they are.' END) AS r FROM documents),
           | cl AS (SELECT doc_id, r,
           |  array_to_string(list_filter(
           |    list_filter(list_transform(string_split(r, chr(10)), l -> trim(l)), l -> l <> ''),
           |    l -> regexp_matches(l, '[.!?"]$$')
           |     AND len(list_filter(regexp_split_to_array(l, '\\s+'), x -> x <> '')) >= 5
           |     AND NOT contains(lower(l), 'javascript')), chr(10)) AS clean FROM raw)
           | SELECT doc_id, md5(clean) AS clean_md5,
           |  len(regexp_extract_all(clean, '[.!?]')) AS n_sentences,
           |  contains(lower(r), 'lorem ipsum') AS has_lorem,
           |  contains(r, '{') AS has_brace,
           |  (len(regexp_extract_all(clean, '[.!?]')) >= 3
           |   AND NOT contains(lower(r), 'lorem ipsum') AND NOT contains(r, '{')) AS keep
           | FROM cl""".stripMargin.replace("\n", " "),
      "q112_connected_components" ->
        // recursive min-label closure over the same constructed pair graph;
        // components are bounded (≤5 nodes) by construction so the closure
        // CTE stays linear in the node count
        (ccClosureCte +
          s""" , sz AS (SELECT component, count(*) AS csize FROM comp GROUP BY component)
             | SELECT comp.doc_id, comp.component, sz.csize FROM comp JOIN sz USING (component)""".stripMargin.replace("\n", " ")),
      "q149_cluster_keep_best" ->
        // same recursive closure; then every doc gets a cluster (graph
        // label or its own id), and the per-cluster winner is the max
        // token-count row with the smallest id breaking ties
        (ccClosureCte +
          s""" , lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
             |   CAST(len(list_filter(regexp_split_to_array(trim(d.text), '\\s+'), x -> x <> '')) AS BIGINT) AS score
             |   FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
             | csz AS (SELECT component, count(*) AS csize FROM lab GROUP BY component),
             | rk AS (SELECT doc_id, component, score,
             |   row_number() OVER (PARTITION BY component ORDER BY score DESC, doc_id) AS rn FROM lab)
             | SELECT rk.doc_id, rk.component, csz.csize, rk.score
             | FROM rk JOIN csz USING (component) WHERE rn = 1""".stripMargin.replace("\n", " ")),
      "q150_cluster_split" ->
        // same recursive closure; split = the md5("s:<component>") draw
        // against floor(0.25·2^24) = 0x400000, replayed on the cluster label
        (ccClosureCte +
          s""" SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
             |   CASE WHEN substr(md5('s:' || coalesce(c.component, d.doc_id)), 1, 6) < '400000'
             |        THEN 'val' ELSE 'train' END AS split
             | FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id""".stripMargin.replace("\n", " ")),
      "q151_kcenter_coreset" ->
        // greedy k-center unrolled: each round recomputes the accumulated
        // min of PER-PAIR-ROUNDED cosine distances and picks the argmax
        // (ties to smallest vec_id) among not-yet-chosen vectors — the
        // exact selection rule of Similarity.kCenterGreedy (k = 6, seed =
        // smallest vec_id, dist NULL for the seed)
        kCenterOracle(6),
      "q156_quantized_topk" ->
        // same HALF_UP/clamp quantizer; quantized components are exact
        // small integers, so dot/norm sums are exact in both engines
        s"""WITH qz AS (SELECT vec_id, list_transform(embedding,
           |   x -> CAST(greatest(-127, least(127, CAST(round(CAST(x AS DOUBLE) / 0.015625) AS INT))) AS DOUBLE)) AS qv
           |   FROM embeddings),
           | q AS (SELECT qv AS qe FROM qz WHERE vec_id = 0),
           | scored AS (SELECT vec_id,
           |   sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) AS na,
           |   sqrt(list_sum(list_transform(range(1, 65), i -> qe[i] * qe[i]))) AS nb,
           |   list_sum(list_transform(range(1, 65), i -> qv[i] * qe[i])) AS dp
           |   FROM qz CROSS JOIN q),
           | c AS (SELECT vec_id,
           |   round(CASE WHEN na = 0 OR nb = 0 THEN CAST(0 AS DOUBLE) ELSE dp / (na * nb) END, 6) AS cosine_q
           |   FROM scored)
           | SELECT vec_id, cosine_q FROM c ORDER BY cosine_q DESC, vec_id ASC LIMIT 10""".stripMargin.replace("\n", " "),
      "q154_tfidf_terms" ->
        // identical token model, idf = ln(N/df), round-6 before the
        // per-doc row_number rank
        s"""WITH toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS term FROM documents),
           | tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY doc_id, term),
           | dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
           | nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
           | sc AS (SELECT tf.doc_id, tf.term, tf.tf, round(tf.tf * ln(nn.n / dfq.df), 6) AS tfidf
           |   FROM tf JOIN dfq USING (term) CROSS JOIN nn),
           | rk AS (SELECT doc_id, term, tf, tfidf,
           |   row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank FROM sc)
           | SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rank AS INT) AS rank
           | FROM rk WHERE rank <= 3""".stripMargin.replace("\n", " "),
      "q155_ngram_novelty" ->
        // distinct bigrams per doc (q80's gram model + list_distinct),
        // owner-doc counts, novel = owned by exactly one doc
        s"""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t FROM documents),
           | gr AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS g FROM toks),
           | own AS (SELECT g, count(*) AS nd FROM gr GROUP BY g),
           | per AS (SELECT gr.doc_id, count(*) AS tot, CAST(sum(CASE WHEN own.nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nov
           |   FROM gr JOIN own USING (g) GROUP BY gr.doc_id)
           | SELECT d.doc_id, coalesce(per.tot, 0) AS n_grams, coalesce(per.nov, 0) AS novel_grams,
           |   round(coalesce(per.nov, 0) / greatest(coalesce(per.tot, 0), 1), 6) AS novel_frac
           | FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN per USING (doc_id)""".stripMargin.replace("\n", " "),
      "q153_decontaminate_spans" ->
        // identical construction, full 8-token-window equi-join on the
        // benchmark window strings, then the gaps-and-islands merge
        (s"""WITH built AS (SELECT doc_id,
            |  CASE WHEN doc_id % 20 = 13 THEN 'u' || doc_id || 'a u' || doc_id || 'b ' || lk || ' ' || lk || ' u' || doc_id || 'c'
            |       WHEN doc_id % 10 = 3 THEN 'u' || doc_id || 'a u' || doc_id || 'b ' || lk || ' u' || doc_id || 'c'
            |       ELSE 'u' || doc_id || 'a u' || doc_id || 'b u' || doc_id || 'c u' || doc_id || 'd' END AS text
            |  FROM (SELECT doc_id, 'leakmark ' || (CAST(floor(doc_id / 10.0) AS BIGINT) % 7) || ' aa bb cc dd ee ff' AS lk FROM documents)),
            | bw AS (SELECT DISTINCT 'leakmark ' || (doc_id % 7) || ' aa bb cc dd ee ff' AS w FROM documents WHERE doc_id < 7),
            | toks AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t FROM built),
            | win AS (SELECT doc_id, unnest(generate_series(1, len(t) - 7)) AS pos, t FROM toks WHERE len(t) >= 8),
            | w2 AS (SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS w FROM win),
            | hits AS (SELECT w2.doc_id, w2.pos FROM w2 JOIN bw USING (w))""".stripMargin.replace("\n", " ") +
          spanMergeTail(8) +
          s""" SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
             | CAST(max(pos) - min(pos) + 8 AS INT) AS span_tokens
             | FROM grp GROUP BY doc_id, g""".stripMargin.replace("\n", " ")),
      "q152_cc_incremental" ->
        // FULL recursive closure over old ∪ new edges — the incremental
        // two-phase Spark path must land on identical labels
        s"""WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
           | raw AS (
           |  SELECT a.id AS u, b.id AS v FROM ids a JOIN ids b ON b.id = a.id + 2 WHERE a.id % 24 IN (0, 2)
           |  UNION ALL SELECT a.id, b.id FROM ids a JOIN ids b ON b.id = a.id + 4 WHERE a.id % 24 = 12
           |  UNION ALL SELECT a.id, b.id FROM ids a JOIN ids b ON b.id = a.id - 1 WHERE a.id % 24 = 1
           |  UNION ALL SELECT a.id, b.id FROM ids a JOIN ids b ON b.id = a.id - 9 WHERE a.id % 24 = 13
           |  UNION ALL SELECT a.id, b.id FROM ids a JOIN ids b ON b.id = a.id + 3 WHERE a.id % 24 = 13
           |  UNION ALL SELECT a.id, b.id FROM ids a JOIN ids b ON b.id = a.id + 2 WHERE a.id % 24 = 7),
           | nodes AS (SELECT DISTINCT u AS id FROM raw UNION SELECT v FROM raw),
           | edges AS (SELECT u, v FROM raw WHERE u <> v UNION SELECT v, u FROM raw WHERE u <> v),
           | reach AS (
           |  SELECT id AS src, id AS dst FROM nodes
           |  UNION
           |  SELECT r.src, e.v AS dst FROM reach r JOIN edges e ON e.u = r.dst),
           | comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)
           | SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
           | FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id""".stripMargin.replace("\n", " "),
      "q157_edit_distance_pairs" ->
        // the brute force the blocking must equal: all pairs, thresholded
        // levenshtein on the same 16-char prefixes
        s"""WITH s AS (SELECT doc_id, substr(text, 1, 16) AS p FROM documents)
           | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |   CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_distance
           | FROM s a JOIN s b ON a.doc_id < b.doc_id
           | WHERE levenshtein(a.p, b.p) <= 3""".stripMargin.replace("\n", " "),
      "q158_chunk_documents" ->
        // same token model, starts = generate_series(0, n-1, 32), 1-based
        // inclusive list slice, short tail kept
        s"""WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
           | n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
           | st AS (SELECT doc_id, toks, n, unnest(generate_series(0, n - 1, 32)) AS s0 FROM n)
           | SELECT doc_id, CAST(s0 / 32 AS BIGINT) AS chunk_idx,
           |   array_to_string(toks[s0 + 1 : s0 + 40], ' ') AS chunk_text,
           |   CAST(least(40, n - s0) AS BIGINT) AS n_tokens
           | FROM st""".stripMargin.replace("\n", " "),
      "q159_normalize_text" ->
        // strip_accents ≡ the NFD/drop-marks/NFC fold on Latin input;
        // regexp_replace needs the 'g' flag (Spark's is global by default)
        s"""SELECT doc_id,
           | trim(regexp_replace(lower(strip_accents(
           |   '  Ünïted  ' || translate(text, 'aeio', 'áéîö') || '  CAFÉ' || chr(9))),
           |   '\\s+', ' ', 'g')) AS norm
           | FROM documents""".stripMargin.replace("\n", " "),
      "q178_asof_skewed" ->
        s"""WITH l AS (SELECT event_id AS click_id, user_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'click'),
           | r AS (SELECT event_id AS purch_id, user_id, value, epoch_ns(ts) AS t FROM events WHERE event_type = 'purchase')
           | SELECT click_id, purch_id, value AS purch_value, l.t - r.t AS lag_ns
           | FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.t >= r.t""".stripMargin.replace("\n", " "),
      "q180_asof_lookup" ->
        s"""WITH l AS (SELECT event_id AS click_id, user_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'click'),
           | r AS (SELECT user_id, epoch_ns(ts) AS t, max(event_id) AS purch_id FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
           | SELECT click_id, purch_id, l.t - r.t AS lag_ns
           | FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.t >= r.t""".stripMargin.replace("\n", " "),
      "q179_interval_overlap_keyed" ->
        s"""WITH a AS (SELECT event_id AS sig_id, user_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'signup'),
           | b AS (SELECT event_id AS purch_id, user_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'purchase')
           | SELECT sig_id, purch_id FROM a JOIN b
           | ON a.user_id = b.user_id AND a.t <= b.t + 900000000000 AND b.t <= a.t + 1800000000000""".stripMargin.replace("\n", " "),
      "q177_json_roundtrip" ->
        s"SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 4 = 1",
      "q176_random_project" ->
        s"""WITH pls AS (
           |  SELECT list(pl ORDER BY p) AS pls FROM (
           |    SELECT p, list_transform(range(0, 64), i ->
           |      CASE WHEN substr(md5('42:' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) >= '8'
           |           THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS pl
           |    FROM range(0, 8) t(p)) q),
           | proj AS (SELECT vec_id, j,
           |   list_sum(list_transform(range(0, len(embedding)), i ->
           |     pls.pls[CAST(j AS INT) + 1][CAST(i AS INT) + 1] * embedding[CAST(i AS INT) + 1]))
           |     / sqrt(CAST(8 AS DOUBLE)) AS v
           |   FROM embeddings CROSS JOIN pls CROSS JOIN range(0, 8) t(j))
           | SELECT vec_id, j, round(v, 6) AS val FROM proj""".stripMargin.replace("\n", " "),
      "q174_pagerank" -> {
        val iterCtes = (1 to 3).map { k =>
          s"""d$k AS (SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dang FROM r${k - 1}
             |   WHERE id NOT IN (SELECT id FROM od)),
             | c$k AS (SELECT e.dst AS id, sum(r.rank / od.od) AS cin
             |   FROM e JOIN r${k - 1} r ON e.src = r.id JOIN od ON od.id = e.src GROUP BY e.dst),
             | r$k AS (SELECT nd.id, round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
             |   + CAST(0.85 AS DOUBLE) * (coalesce(c$k.cin, CAST(0 AS DOUBLE)) + d$k.dang / n.n), 9) AS rank
             |   FROM nodes nd CROSS JOIN n CROSS JOIN d$k LEFT JOIN c$k ON c$k.id = nd.id)""".stripMargin
        }.mkString(",\n ", ",\n ", "")
        s"""WITH ids AS (SELECT doc_id AS id FROM documents),
           | p AS (SELECT count(*) AS maxn FROM ids),
           | e0 AS (SELECT id AS src, (id * 7 + 1) % maxn AS dst FROM ids, p WHERE id % 11 <> 0
           |   UNION ALL SELECT id, (id * 3 + 2) % maxn FROM ids, p WHERE id % 11 <> 0),
           | e AS (SELECT DISTINCT src, dst FROM e0),
           | nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
           | n AS (SELECT count(*) AS n FROM nodes),
           | od AS (SELECT src AS id, count(*) AS od FROM e GROUP BY src),
           | r0 AS (SELECT id, round(CAST(1.0 AS DOUBLE) / n.n, 9) AS rank FROM nodes, n)$iterCtes
           | SELECT id, rank FROM r3""".stripMargin.replace("\n", " ")
      },
      "q175_pmi_collocations" ->
        s"""WITH toks AS (SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t FROM documents),
           | uni AS (SELECT unnest(t) AS w FROM toks),
           | cu AS (SELECT w, count(*) AS cw FROM uni GROUP BY w),
           | tu AS (SELECT count(*) AS tu FROM uni),
           | bi AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS b FROM toks WHERE len(t) >= 2),
           | cb AS (SELECT b, count(*) AS cb FROM bi GROUP BY b HAVING count(*) >= 5),
           | tb AS (SELECT count(*) AS tb FROM bi),
           | scored AS (SELECT b AS bigram, cb.cb AS cnt,
           |   round(ln((cb.cb / CAST(tb.tb AS DOUBLE)) /
           |     ((ca.cw / CAST(tu.tu AS DOUBLE)) * (cw2.cw / CAST(tu.tu AS DOUBLE)))), 6) AS pmi
           |   FROM cb CROSS JOIN tb CROSS JOIN tu
           |   JOIN cu ca ON ca.w = split_part(cb.b, ' ', 1)
           |   JOIN cu cw2 ON cw2.w = split_part(cb.b, ' ', 2))
           | SELECT bigram, cnt, pmi FROM scored ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin.replace("\n", " "),
      "q173_asof_nearest" ->
        s"""WITH l AS (SELECT event_id AS click_id, user_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'click'),
           | r AS (SELECT event_id AS purch_id, user_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'purchase'),
           | cand AS (SELECT l.click_id, r.purch_id, abs(l.t - r.t) AS gap_ns,
           |   CASE WHEN r.t <= l.t THEN 0 ELSE 1 END AS fwd
           |   FROM l JOIN r ON l.user_id = r.user_id),
           | ranked AS (SELECT *, row_number() OVER (PARTITION BY click_id ORDER BY gap_ns, fwd) AS rn FROM cand)
           | SELECT click_id, purch_id, gap_ns FROM ranked WHERE rn = 1 AND gap_ns <= 3600000000000""".stripMargin.replace("\n", " "),
      "q172_hamming_join" ->
        s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
           | lt AS (SELECT doc_id AS id, list_transform(toks, tok -> md5(tok)) AS hs FROM tok WHERE len(toks) >= 1),
           | rt AS (SELECT doc_id + 2000000 AS id, list_transform(toks[1:greatest(len(toks) - 5, 3)], tok -> md5(tok)) AS hs FROM tok WHERE doc_id % 9 = 0 AND len(toks) >= 1),
           | lb AS (SELECT id, list_transform(range(0, 64), j -> CASE WHEN
           |   list_sum(list_transform(hs, h -> CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1) >> CAST(3 - (j % 4) AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           |   THEN 1 ELSE 0 END) AS b FROM lt),
           | rb AS (SELECT id, list_transform(range(0, 64), j -> CASE WHEN
           |   list_sum(list_transform(hs, h -> CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1) >> CAST(3 - (j % 4) AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           |   THEN 1 ELSE 0 END) AS b FROM rt),
           | lsig AS (SELECT id, list_aggregate(list_transform(range(0, 16),
           |   g -> substr('0123456789abcdef', CAST(b[g*4+1]*8 + b[g*4+2]*4 + b[g*4+3]*2 + b[g*4+4] AS INT) + 1, 1)), 'string_agg', '') AS sig FROM lb),
           | rsig AS (SELECT id, list_aggregate(list_transform(range(0, 16),
           |   g -> substr('0123456789abcdef', CAST(b[g*4+1]*8 + b[g*4+2]*4 + b[g*4+3]*2 + b[g*4+4] AS INT) + 1, 1)), 'string_agg', '') AS sig FROM rb),
           | scored AS (SELECT l.id AS id_l, r.id AS id_r,
           |   CAST(list_sum(list_transform(range(1, 17), i -> bit_count(xor(
           |     strpos('0123456789abcdef', substr(l.sig, CAST(i AS INT), 1)) - 1,
           |     strpos('0123456789abcdef', substr(r.sig, CAST(i AS INT), 1)) - 1)))) AS INT) AS hamming
           |   FROM lsig l CROSS JOIN rsig r)
           | SELECT id_l, id_r, hamming FROM scored WHERE hamming <= 8""".stripMargin.replace("\n", " "),
      "q169_heavy_hitters" ->
        s"""WITH t AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS term FROM documents),
           | tot AS (SELECT count(*) AS n FROM t)
           | SELECT term, count(*) AS cnt FROM t, tot GROUP BY term, n
           | HAVING count(*) * 200 > n""".stripMargin.replace("\n", " "),
      "q170_orc_roundtrip" ->
        s"SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 3 = 0",
      "q171_zorder_layout" ->
        s"""WITH z AS (SELECT c_custkey, CAST(list_sum(list_transform(range(0, 10), i ->
           |   (((c_custkey % 1024) >> i) & 1) << (2 * i))) +
           |   list_sum(list_transform(range(0, 10), i ->
           |   (((c_nationkey * 41 % 1024) >> i) & 1) << (2 * i + 1))) AS BIGINT) AS zkey
           | FROM customer)
           | SELECT c_custkey, zkey FROM z ORDER BY zkey, c_custkey LIMIT 200""".stripMargin.replace("\n", " "),
      "q168_minhash_join" ->
        s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
           | l AS (SELECT doc_id AS id, list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh FROM tok WHERE len(toks) >= 3),
           | rtok AS (SELECT doc_id + 2000000 AS id, toks[1:greatest(len(toks) - 5, 3)] AS toks FROM tok WHERE doc_id % 9 = 0),
           | r AS (SELECT id, list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh FROM rtok WHERE len(toks) >= 3),
           | lsig AS (SELECT id, sh, list_transform(range(0, 16), j -> list_min(list_transform(sh, s -> md5(CAST(j AS VARCHAR) || ':' || s)))) AS sig FROM l),
           | rsig AS (SELECT id, sh, list_transform(range(0, 16), j -> list_min(list_transform(sh, s -> md5(CAST(j AS VARCHAR) || ':' || s)))) AS sig FROM r),
           | lband AS (SELECT id, t.b AS band, md5(array_to_string(list_slice(sig, t.b * 4 + 1, t.b * 4 + 4), '|')) AS bkey FROM lsig CROSS JOIN range(0, 4) t(b)),
           | rband AS (SELECT id, t.b AS band, md5(array_to_string(list_slice(sig, t.b * 4 + 1, t.b * 4 + 4), '|')) AS bkey FROM rsig CROSS JOIN range(0, 4) t(b)),
           | pairs AS (SELECT DISTINCT lband.id AS id_l, rband.id AS id_r FROM lband JOIN rband ON lband.band = rband.band AND lband.bkey = rband.bkey),
           | scored AS (SELECT id_l, id_r,
           |   CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN CAST(0 AS DOUBLE)
           |        ELSE CAST(len(list_distinct(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS DOUBLE)
           |             / len(list_distinct(list_concat(a.sh, b.sh))) END AS jaccard
           |   FROM pairs JOIN lsig a ON pairs.id_l = a.id JOIN rsig b ON pairs.id_r = b.id)
           | SELECT id_l, id_r, round(jaccard, 6) AS jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin.replace("\n", " "),
      "q164_asof_join" ->
        s"""WITH l AS (SELECT event_id AS click_id, user_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'click'),
           | r AS (SELECT event_id AS purch_id, user_id, value, epoch_ns(ts) AS t FROM events WHERE event_type = 'purchase')
           | SELECT click_id, purch_id, value AS purch_value, l.t - r.t AS lag_ns
           | FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.t >= r.t""".stripMargin.replace("\n", " "),
      "q165_asof_nokey" ->
        s"""WITH l AS (SELECT event_id AS err_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'error'),
           | r AS (SELECT event_id AS sig_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'signup'),
           | a AS (SELECT err_id, sig_id, r.t - l.t AS lead_ns FROM l ASOF LEFT JOIN r ON l.t <= r.t)
           | SELECT err_id, CASE WHEN lead_ns <= 600000000000 THEN sig_id END AS sig_id,
           | CASE WHEN lead_ns <= 600000000000 THEN lead_ns END AS lead_ns FROM a""".stripMargin.replace("\n", " "),
      "q166_range_join" ->
        s"""WITH e AS (SELECT event_id AS err_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'error'),
           | s AS (SELECT event_id AS sig_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'signup')
           | SELECT err_id, sig_id FROM e JOIN s
           | ON e.t >= s.t AND e.t <= s.t + 1800000000000""".stripMargin.replace("\n", " "),
      "q167_interval_overlap" ->
        s"""WITH a AS (SELECT event_id AS sig_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'signup'),
           | b AS (SELECT event_id AS purch_id, epoch_ns(ts) AS t FROM events WHERE event_type = 'purchase')
           | SELECT sig_id, purch_id FROM a JOIN b
           | ON a.t <= b.t + 900000000000 AND b.t <= a.t + 1800000000000""".stripMargin.replace("\n", " "),
      "q163_jaccard_join" ->
        s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
           | l AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM tok WHERE len(toks) >= 3),
           | rt AS (SELECT doc_id + 2000000 AS rid, toks[1:greatest(len(toks) - 5, 3)] AS toks FROM tok WHERE doc_id % 9 = 0),
           | r AS (SELECT rid, list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM rt WHERE len(toks) >= 3),
           | exl AS (SELECT doc_id, unnest(s) AS g FROM l),
           | exr AS (SELECT rid, unnest(s) AS g FROM r),
           | szl AS (SELECT doc_id, len(s) AS n FROM l),
           | szr AS (SELECT rid, len(s) AS n FROM r),
           | inter AS (SELECT exl.doc_id AS id_l, exr.rid AS id_r, count(*) AS c
           |   FROM exl JOIN exr ON exl.g = exr.g GROUP BY 1, 2),
           | scored AS (SELECT id_l, id_r, CAST(c AS DOUBLE) / (szl.n + szr.n - c) AS jaccard
           |   FROM inter JOIN szl ON szl.doc_id = id_l JOIN szr ON szr.rid = id_r)
           | SELECT id_l, id_r, round(jaccard, 6) AS jaccard FROM scored
           | WHERE jaccard >= 0.5""".stripMargin.replace("\n", " "),
      "q162_embedding_join" ->
        s"""WITH r AS (SELECT vec_id + 1000000 AS rid, embedding FROM embeddings WHERE vec_id % 7 = 0),
           | p AS (SELECT a.vec_id AS id_l, r.rid AS id_r,
           |   list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)))
           |   / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
           |    * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(r.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE))))) AS cosine
           |   FROM embeddings a CROSS JOIN r)
           | SELECT id_l, id_r, round(cosine, 6) AS cosine FROM p
           | WHERE cosine >= CAST(0.45 AS DOUBLE)""".stripMargin.replace("\n", " "),
      "q161_edit_distance_join" ->
        s"""WITH l AS (SELECT doc_id, substr(text, 1, 16) AS p FROM documents),
           | r AS (SELECT doc_id + 1000000 AS rid, substr(text, 2, 16) AS q
           |   FROM documents WHERE doc_id % 5 = 0)
           | SELECT l.doc_id AS id_l, r.rid AS id_r,
           |   CAST(levenshtein(l.p, r.q) AS BIGINT) AS edit_distance
           | FROM l JOIN r ON levenshtein(l.p, r.q) <= 3""".stripMargin.replace("\n", " "),
      "q160_jaccard_exact" ->
        // exact brute force in relational form: pairs sharing >= 1 shingle
        // meet on the shingle equi-join (zero-overlap pairs have j = 0 <
        // threshold, so the join IS complete), intersect = match count,
        // union = na + nb - c
        s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
           | sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM tok WHERE len(toks) >= 3),
           | ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
           | sizes AS (SELECT doc_id, len(s) AS n FROM sh),
           | inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           |   FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
           | scored AS (SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
           |   FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)
           | SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM scored
           | WHERE jaccard >= 0.5""".stripMargin.replace("\n", " "),
      "q113_unigram_lm" ->
        // unigram-LM mean NLL mirrored exactly: p(tok) = corpus_count/total
        // (no smoothing — every scored token is in the vocabulary), score =
        // ln(total) − mean(ln(count))
        s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
           | t AS (SELECT doc_id, unnest(toks) AS tok FROM tok),
           | tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
           | vocab AS (SELECT tok, sum(tf) AS cnt FROM tf GROUP BY tok),
           | tot AS (SELECT sum(cnt) AS total FROM vocab),
           | per AS (SELECT doc_id, sum(tf) AS n_tokens, sum(tf * ln(CAST(cnt AS DOUBLE))) AS s
           |   FROM tf JOIN vocab USING (tok) GROUP BY doc_id)
           | SELECT d.doc_id, CAST(coalesce(per.n_tokens, 0) AS BIGINT) AS n_tokens,
           |  round(CASE WHEN per.n_tokens IS NULL OR per.n_tokens = 0 THEN CAST(0 AS DOUBLE)
           |    ELSE ln(CAST(total AS DOUBLE)) - s / per.n_tokens END, 4) + CAST(0 AS DOUBLE) AS avg_nll
           | FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN per USING (doc_id) CROSS JOIN tot""".stripMargin.replace("\n", " "),
      "q114_dsir_weights" ->
        // DSIR hashed bag-of-n-grams mirrored exactly: features = unigrams
        // + space-joined bigrams, bucket = first two hex chars of md5 read
        // base-16 (strpos arithmetic) mod 64, add-one smoothing over the
        // dense bucket domain, weight = Σ_b count_b · ln(p_en(b)/p_raw(b))
        s"""$dsirWeightsCte
           | SELECT d.doc_id, CAST(coalesce(w.n_grams, 0) AS BIGINT) AS n_grams,
           |  round(coalesce(w.lw, 0), 4) + CAST(0 AS DOUBLE) AS log_weight
           | FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN w USING (doc_id)""".stripMargin.replace("\n", " "),
      "q116_gumbel_resample" ->
        // the DSIR resample step: same weights CTE, Gumbel perturbation from
        // the 24-bit md5 draw ((v + 0.5)/2²⁴ ∈ (0,1)), top-k by perturbed
        // log-weight. hex24 is the 6-char strpos expansion of the engine's
        // hashHex spec — every selected id and its score replayed exactly
        s"""$dsirWeightsCte,
           | lw AS (SELECT d.doc_id, coalesce(w.lw, 0) AS lw
           |   FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN w USING (doc_id)),
           | sc AS (SELECT doc_id, lw + -ln(-ln((${hex24Sql("md5('w1:' || CAST(doc_id AS VARCHAR))")} + 0.5)
           |   / CAST(16777216 AS DOUBLE))) AS score FROM lw)
           | SELECT doc_id, round(score, 4) + CAST(0 AS DOUBLE) AS score
           | FROM sc ORDER BY score DESC, doc_id LIMIT 100""".stripMargin.replace("\n", " "),
      "q115_url_canonicalize" ->
        // closed-form by construction: the oracle writes the EXPECTED
        // canonical string for each fixture variant directly — scheme/host
        // lowercased, www. and default ports dropped, trailing slash and
        // fragment gone, tracking params removed, survivors sorted
        s"""SELECT doc_id,
           | CASE doc_id % 4
           |  WHEN 0 THEN 'http://' || source || '.example.com/Data/' || doc_id || '?a=1&b=2'
           |  WHEN 1 THEN 'http://' || source || '.example.com/Data/' || doc_id
           |  WHEN 2 THEN 'https://' || source || '.example.com/Data/' || doc_id || '?a=1&b=2'
           |  ELSE 'https://' || source || '.example.com:8443/Data/' || doc_id END AS canon_url,
           | CASE WHEN doc_id % 4 = 3 THEN source || '.example.com:8443'
           |  ELSE source || '.example.com' END AS host
           | FROM documents""".stripMargin.replace("\n", " "),
      "q117_semdedup" ->
        // the q68 centroid chain (md5-sampled seeds, one Lloyd step with
        // 1e-6-rounded means, tie-break ORDER BY d, c) over the
        // sentinel-augmented input, then within-cell pairs >= tau and the
        // smaller-id keep rule
        s"""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
           | v AS (SELECT vec_id, embedding FROM base
           |   UNION ALL SELECT (SELECT max(vec_id) FROM base) + 1, embedding FROM base WHERE vec_id = 1
           |   UNION ALL SELECT (SELECT max(vec_id) FROM base) + 2, embedding FROM base WHERE vec_id = 7),
           | seeds AS (SELECT * FROM (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS INT) AS c,
           |   embedding AS sv FROM v) WHERE c < 16),
           | a0 AS (SELECT vec_id, embedding, c,
           |   list_sum(list_transform(range(1, 65), i -> (CAST(embedding[i] AS DOUBLE) - CAST(sv[i] AS DOUBLE)) * (CAST(embedding[i] AS DOUBLE) - CAST(sv[i] AS DOUBLE)))) AS d
           |   FROM v CROSS JOIN seeds),
           | asg AS (SELECT vec_id, embedding, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk FROM a0) WHERE rk = 1),
           | m AS (SELECT c, i, CAST(floor(sum(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) / count(*) * 1000000 + CAST(0.5 AS DOUBLE)) / 1000000 AS FLOAT) AS mval
           |   FROM asg CROSS JOIN range(1, 65) t(i) GROUP BY c, i),
           | cents AS (SELECT s.c, list(COALESCE(m.mval, s.sv[CAST(t.i AS INT)]) ORDER BY t.i) AS cv
           |   FROM seeds s CROSS JOIN range(1, 65) t(i) LEFT JOIN m ON m.c = s.c AND m.i = t.i GROUP BY s.c),
           | f0 AS (SELECT v.vec_id, v.embedding, cents.c,
           |   list_sum(list_transform(range(1, 65), i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)) * (CAST(v.embedding[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))) AS d
           |   FROM v CROSS JOIN cents),
           | fcell AS (SELECT vec_id, embedding, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk FROM f0) WHERE rk = 1),
           | pr AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM fcell a JOIN fcell b ON a.c = b.c AND a.vec_id < b.vec_id
           |   WHERE list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           |   / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
           |    * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) >= CAST(0.9 AS DOUBLE)),
           | dup AS (SELECT DISTINCT ib FROM pr)
           | SELECT f.vec_id, f.c AS cluster, (d.ib IS NULL) AS keep
           | FROM fcell f LEFT JOIN dup d ON f.vec_id = d.ib""".stripMargin.replace("\n", " "),
      "q118_token_budget_mix" ->
        // one global window per domain ordered by (hash, id) — the exact
        // total the engine's shard-prefix decomposition must reconstruct
        s"""WITH t AS (SELECT doc_id, source,
           |   CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
           |   substr(md5('mix:' || doc_id), 1, 6) AS h FROM documents),
           | c AS (SELECT doc_id, source, n_tokens,
           |   CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM t)
           | SELECT doc_id, source, n_tokens, cum_before,
           |   cum_before < (CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 20000 ELSE 800 END) AS keep
           | FROM c""".stripMargin.replace("\n", " "),
      "q119_cdc_dedup" ->
        // the CDC chain re-derived in list SQL: boundary positions i where
        // md5 of the trailing 8-char window ends in '0', cut list [0]+bn
        // (+len unless already a boundary), chunk hashes between cuts,
        // dup = hash owned by >= 2 distinct docs
        s"""WITH docs2 AS ${docsWithSentinelSql("")},
           | d AS (SELECT doc_id, text, len(text) AS l FROM docs2),
           | b AS (SELECT doc_id, text, l,
           |   CASE WHEN l >= 8 THEN list_filter(range(8, l + 1), i -> substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 32, 1) = '0')
           |        ELSE [] END AS bn FROM d),
           | c AS (SELECT doc_id, text, l,
           |   CASE WHEN len(bn) > 0 AND bn[-1] = l THEN list_concat([0], bn)
           |        ELSE list_append(list_concat([0], bn), l) END AS cuts FROM b WHERE l > 0),
           | ch AS (SELECT doc_id, unnest(list_transform(range(1, len(cuts)),
           |   j -> md5(substr(text, CAST(cuts[j] + 1 AS INT), CAST(cuts[j + 1] - cuts[j] AS INT))))) AS hsh FROM c),
           | dup AS (SELECT hsh FROM ch GROUP BY hsh HAVING count(DISTINCT doc_id) >= 2),
           | agg AS (SELECT ch.doc_id, count(*) AS n_chunks, count(dup.hsh) AS n_dup
           |   FROM ch LEFT JOIN dup ON ch.hsh = dup.hsh GROUP BY ch.doc_id)
           | SELECT dd.doc_id, CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
           |   CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup_chunks
           | FROM (SELECT DISTINCT doc_id FROM docs2) dd LEFT JOIN agg a ON dd.doc_id = a.doc_id""".stripMargin.replace("\n", " "),
      "q120_bpe_pair_counts" ->
        // adjacent symbol pairs of each distinct word (chars + '</w>'),
        // weighted by corpus word frequency; top 20 under the engine's
        // deterministic (freq desc, left, right) order
        s"""WITH w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM
           |   (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS word
           |    FROM documents) GROUP BY word),
           | pos AS (SELECT word, freq, unnest(range(1, len(word) + 1)) AS i FROM w),
           | p AS (SELECT substr(word, CAST(i AS INT), 1) AS pair_left,
           |   CASE WHEN i < len(word) THEN substr(word, CAST(i + 1 AS INT), 1) ELSE '</w>' END AS pair_right,
           |   freq FROM pos)
           | SELECT pair_left, pair_right, CAST(sum(freq) AS BIGINT) AS freq
           | FROM p GROUP BY pair_left, pair_right
           | ORDER BY freq DESC, pair_left, pair_right LIMIT 20""".stripMargin.replace("\n", " "),
      "q121_html_to_text" ->
        // the same pattern chain through DuckDB's RE2 ('g' = global, block
        // tags -> chr(10), plain replace() for the literal entities)
        s"""WITH h AS (SELECT doc_id,
           |   '<html><head><script type="text/javascript">var x = 1 < 2;</script><style>.c { color: red }</style></head><body><h1>Doc '
           |   || doc_id || '</h1><p>' || text ||
           |   '</p><!-- hidden --><div>A &amp;B &lt;tag&gt;&nbsp;C &quot;q&#39; <b>bold</b></div></body></html>' AS html
           |   FROM documents),
           | s1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
           | s2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
           | s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
           | s4 AS (SELECT doc_id, regexp_replace(t, '(?i)</?(p|br|div|h[1-6]|li|tr|ul|ol|table|blockquote)(\\s[^>]*)?/?>', chr(10), 'g') AS t FROM s3),
           | s5 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s4),
           | s6 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
           |   '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t FROM s5),
           | s7 AS (SELECT doc_id, regexp_replace(t, '[ \\t]+', ' ', 'g') AS t FROM s6),
           | s8 AS (SELECT doc_id, regexp_replace(t, ' ?\\n ?', chr(10), 'g') AS t FROM s7),
           | s9 AS (SELECT doc_id, regexp_replace(t, '\\n+', chr(10), 'g') AS t FROM s8)
           | SELECT doc_id, trim(regexp_replace(t, '^\\n+|\\n+$$', '', 'g')) AS clean FROM s9""".stripMargin.replace("\n", " "),
      "q122_warc_roundtrip" ->
        // closed-form: the WARC writer/parser round-trip must reproduce the
        // source table exactly
        "SELECT doc_id, text FROM documents",
      "q123_bm25_scores" ->
        // BM25 mirrored exactly: Lucene idf ln(1+(N−df+0.5)/(df+0.5)), tf
        // saturation and length normalization in the engine's operation
        // order; constants CAST AS DOUBLE so DuckDB's decimal literals
        // don't fold differently from the engine's double literals
        s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
           | dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
           | st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl FROM dl),
           | t AS (SELECT doc_id, unnest(toks) AS term FROM tok),
           | tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM t
           |   WHERE term IN ('spark', 'hash', 'window') GROUP BY doc_id, term),
           | df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
           | sc AS (SELECT tf.doc_id,
           |   sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * (CAST(1.2 AS DOUBLE) + 1)
           |     / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / (sumdl / n)))) AS s
           |   FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st GROUP BY tf.doc_id)
           | SELECT d.doc_id, round(coalesce(sc.s, 0), 4) + CAST(0 AS DOUBLE) AS bm25
           | FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN sc USING (doc_id)""".stripMargin.replace("\n", " "),
      "q124_bloom_novel" ->
        // relational Bloom filter mirrored exactly: bucket i = first 5 hex
        // chars of md5('i:' || md5(text)) mod 4096 (strpos expansion of the
        // engine's conv), sketch = distinct buckets of the doc_id%3!=0
        // slice, possibly_seen = every bucket present
        s"""WITH h AS (SELECT doc_id, md5(text) AS hk FROM documents),
           | bkt AS (SELECT doc_id, list_distinct([
           |   ${hexValSql("md5('0:' || hk)", 5)} % 4096,
           |   ${hexValSql("md5('1:' || hk)", 5)} % 4096,
           |   ${hexValSql("md5('2:' || hk)", 5)} % 4096]) AS bks FROM h),
           | sk AS (SELECT DISTINCT unnest(bks) AS bucket FROM bkt WHERE doc_id % 3 <> 0),
           | bb AS (SELECT doc_id, unnest(bks) AS bucket FROM bkt),
           | j AS (SELECT bb.doc_id, CASE WHEN sk.bucket IS NULL THEN 0 ELSE 1 END AS hit
           |   FROM bb LEFT JOIN sk ON bb.bucket = sk.bucket)
           | SELECT doc_id, min(hit) = 1 AS possibly_seen FROM j GROUP BY doc_id""".stripMargin.replace("\n", " "),
      "q125_readability" ->
        // Flesch / FK mirrored exactly over the same sentence rewrite,
        // whitespace tokens, [.!?]+ sentence split and [aeiouy]+ vowel-group
        // syllable heuristic (floored at 1 per word / 1 sentence per doc).
        // Formulas carried as exact BIGINT numerators (flesch·1000·s·w,
        // fk·100·s·w) — float-boundary-free (see the query comment)
        s"""WITH x AS (SELECT doc_id, replace(text, ' table ', '. ') AS tx FROM documents),
           | tok AS (SELECT doc_id,
           |   list_filter(regexp_split_to_array(trim(tx), '\\s+'), s -> s <> '') AS toks,
           |   greatest(1, len(list_filter(regexp_split_to_array(tx, '[.!?]+'), s -> trim(s) <> ''))) AS sents FROM x),
           | syl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS words, CAST(sents AS BIGINT) AS sentences,
           |   CAST(coalesce(list_sum(list_transform(toks,
           |     w -> greatest(1, len(regexp_extract_all(lower(w), '[aeiouy]+'))))), 0) AS BIGINT) AS syllables FROM tok)
           | SELECT doc_id, words, sentences, syllables,
           |  CASE WHEN words = 0 THEN 0 ELSE
           |    206835 * sentences * words - 1015 * words * words - 84600 * syllables * sentences END AS flesch_num,
           |  CASE WHEN words = 0 THEN 0 ELSE
           |    39 * words * words + 1180 * syllables * sentences - 1559 * sentences * words END AS fk_num
           | FROM syl""".stripMargin.replace("\n", " "),
      "q126_kmeans_cells" ->
        // full k-means mirrored exactly: md5-sample seeds, then every
        // rounded Lloyd iteration as a chained (assign, mean, centroid)
        // CTE triple — same distance spec, tie-break, 1e-6 mean rounding
        // and empty-cell carry-forward as the q68 single step
        kmeansCellsOracle(k = 8, iters = 3, dim = 64, subset = "vec_id < 500"),
      "q127_corpus_report" ->
        // ROLLUP margins mirrored; '(all)' tags grouped-out levels (lang /
        // source are never NULL in the data, so coalesce is unambiguous)
        s"""SELECT coalesce(lang, '(all)') AS lang, coalesce(source, '(all)') AS source,
           | CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens,
           | CAST(sum(length(text)) AS BIGINT) AS n_chars,
           | CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
           | FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin.replace("\n", " "),
      "q128_length_quantiles" ->
        // linear-interpolation quantiles: DuckDB quantile_cont and the
        // engine's percentile share the p*(n-1) definition
        s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           | round(quantile_cont(tc, 0.25), 4) + CAST(0 AS DOUBLE) AS p25,
           | round(quantile_cont(tc, 0.5), 4) + CAST(0 AS DOUBLE) AS p50,
           | round(quantile_cont(tc, 0.75), 4) + CAST(0 AS DOUBLE) AS p75,
           | round(quantile_cont(tc, 0.9), 4) + CAST(0 AS DOUBLE) AS p90
           | FROM (SELECT source, len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS tc FROM documents)
           | GROUP BY source""".stripMargin.replace("\n", " "),
      "q129_quality_classifier" ->
        // every gradient-descent epoch replayed as (logit, sigmoid,
        // gradient, weight-update) CTEs over the same hashed features —
        // same 1e-9 logit / 1e-6 weight rounding as the engine
        logRegOracle(buckets = 64, epochs = 3, lr = 0.5),
      "q130_image_phash_dedup" ->
        // structural oracle: identical per-class renders collapse to one
        // pHash, classes sit > τ bits apart (spec-pinned), so the pair set
        // is exactly the same-class closure at hamming 0
        s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
           | FROM documents a JOIN documents b
           |  ON a.doc_id % 7 = b.doc_id % 7 AND a.doc_id < b.doc_id
           | WHERE a.doc_id < 300 AND b.doc_id < 300""".stripMargin.replace("\n", " "),
      "q131_bm25_batch" ->
        // the q123 BM25 mirror generalized per query: binarized query
        // terms, shared tf/df CTEs, per-query rounded-score ranking
        s"""WITH q AS (SELECT CAST(qid AS BIGINT) AS qid, qtext FROM (VALUES (0, 'spark table'),
           |   (1, 'hash join window'), (2, 'zzzq qqz')) v(qid, qtext)),
           | qt AS (SELECT qid, unnest(list_distinct(list_filter(regexp_split_to_array(trim(qtext), '\\s+'), x -> x <> ''))) AS term FROM q),
           | tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
           | dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
           | st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl FROM dl),
           | t AS (SELECT doc_id, unnest(toks) AS term FROM tok),
           | tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM t
           |   WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, term),
           | df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
           | sterm AS (SELECT tf.doc_id, tf.term,
           |   ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * (CAST(1.2 AS DOUBLE) + 1)
           |     / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / (sumdl / n))) AS s
           |   FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
           | pq AS (SELECT qt.qid, sterm.doc_id, round(sum(sterm.s), 4) AS bm25
           |   FROM sterm JOIN qt USING (term) GROUP BY qt.qid, sterm.doc_id),
           | r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rk FROM pq)
           | SELECT qid, doc_id, bm25 FROM r WHERE rk <= 5""".stripMargin.replace("\n", " "),
      "q132_audio_fingerprint_dedup" ->
        // structural oracle (q130 shape, audio modality): identical
        // per-class envelopes collapse to one fingerprint, classes sit > τ
        // bits apart (spec-pinned), pair set = same-class closure
        s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
           | FROM documents a JOIN documents b
           |  ON a.doc_id % 5 = b.doc_id % 5 AND a.doc_id < b.doc_id
           | WHERE a.doc_id < 300 AND b.doc_id < 300""".stripMargin.replace("\n", " "),
      "q133_lsh_recall" -> {
        // the whole report replayed: md5 sample keep decisions (q81 spec,
        // fraction 0.5 → hex threshold 800000), exact all-pairs Jaccard
        // truth, the full banded-minhash mirror for found, recall division
        val baseSql = "(SELECT doc_id, text FROM documents WHERE doc_id < 600" +
          " AND substr(md5('r:' || CAST(doc_id AS VARCHAR)), 1, 6) < '800000')"
        s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM $baseSql base),
           | sh AS (SELECT doc_id, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS sh FROM tok WHERE len(toks) >= 2),
           | p AS (SELECT CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN CAST(0 AS DOUBLE)
           |    ELSE CAST(len(list_distinct(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) END AS j
           |   FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
           | truth AS (SELECT CAST(count(*) AS BIGINT) AS truth_pairs FROM p WHERE j >= 0.1),
           | found AS (SELECT CAST(count(*) AS BIGINT) AS found_pairs FROM (${minhashOracle(2, 16, 8, 0.1, baseSql)}) q),
           | ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sample FROM $baseSql base2)
           | SELECT n_sample, truth_pairs, found_pairs,
           |  round(CASE WHEN truth_pairs = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(found_pairs AS DOUBLE) / truth_pairs END, 6) AS recall
           | FROM ns CROSS JOIN truth CROSS JOIN found""".stripMargin.replace("\n", " ")
      },
      "q134_snapshot_diff" ->
        // full-outer content-key diff mirrored; the % 7 edit plants the
        // 'changed' class, slice complements plant added/removed
        s"""WITH o AS (SELECT doc_id, md5(text) AS ho FROM documents WHERE doc_id % 3 <> 1),
           | n AS (SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS hn
           |   FROM documents WHERE doc_id % 3 <> 2),
           | j AS (SELECT CASE WHEN ho IS NULL THEN 'added' WHEN hn IS NULL THEN 'removed'
           |   WHEN ho = hn THEN 'unchanged' ELSE 'changed' END AS status
           |   FROM o FULL OUTER JOIN n USING (doc_id))
           | SELECT status, CAST(count(*) AS BIGINT) AS n_docs FROM j GROUP BY status""".stripMargin.replace("\n", " "),
      "q135_minhash_incremental" -> incrementalMinhashOracle,
      // identical semantics (and therefore oracle) to q135 — the engine
      // path differs: q140 reads the stored side's band keys from the
      // bucketed banded snapshot instead of recomputing them per probe
      "q140_minhash_banded_snapshot" -> incrementalMinhashOracle,
      "q138_aligned_distance" ->
        s"""SELECT c.c_custkey,
           | CASE WHEN c.c_custkey % 3 = 0 THEN round(sqrt(
           |   (px - CAST(c.c_custkey * 11 % 1000 AS DOUBLE) / CAST(10 AS DOUBLE))
           |     * (px - CAST(c.c_custkey * 11 % 1000 AS DOUBLE) / CAST(10 AS DOUBLE))
           |   + (py - CAST(c.c_custkey * 17 % 1000 AS DOUBLE) / CAST(10 AS DOUBLE))
           |     * (py - CAST(c.c_custkey * 17 % 1000 AS DOUBLE) / CAST(10 AS DOUBLE))), 4)
           | ELSE NULL END AS dist
           | FROM $pts c""".stripMargin.replace("\n", " "),
      "q139_cosine_lsh_recall" ->
        // full replay: md5 sample keep decisions (fraction 0.5 -> hex
        // threshold 800000), the 40-plane Rademacher matrix from the
        // md5('42:p:i') spec, per-band 5-bit bucket keys (first plane of a
        // band = high bit), distinct banded candidates, double-precision
        // cosine for truth and verification, recall division, and the
        // 1-(1-p^rpb)^bands analytic prediction (bit-identical across
        // JVM/DuckDB libm at these inputs; round(6) has 1e-10 margin)
        s"""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400
           |   AND substr(md5('cr:' || CAST(vec_id AS VARCHAR)), 1, 6) < '800000' AND embedding IS NOT NULL),
           | pls AS (SELECT list(pl ORDER BY p) AS pls FROM (
           |   SELECT p, list_transform(range(0, 64), i ->
           |     CASE WHEN substr(md5('42:' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) >= '8'
           |          THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS pl
           |   FROM range(0, 40) t(p))),
           | bk AS (SELECT vec_id, t.b AS band,
           |   CAST(list_sum(list_transform(range(0, 5), q ->
           |     CASE WHEN list_sum(list_transform(range(1, 65), i -> pls.pls[CAST(t.b * 5 + q AS INT) + 1][CAST(i AS INT)] * CAST(embedding[i] AS DOUBLE))) >= 0
           |          THEN CAST(pow(2, 4 - q) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS key
           |   FROM base CROSS JOIN pls CROSS JOIN range(0, 8) t(b)),
           | cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
           |   FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
           | cos AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
           |   list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           |   / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
           |    * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS c
           |   FROM base a JOIN base b ON a.vec_id < b.vec_id),
           | truth AS (SELECT CAST(count(*) AS BIGINT) AS truth_pairs FROM cos WHERE c >= CAST(0.45 AS DOUBLE)),
           | found AS (SELECT CAST(count(*) AS BIGINT) AS found_pairs FROM cand JOIN cos USING (ia, ib) WHERE c >= CAST(0.45 AS DOUBLE)),
           | ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sample FROM base)
           | SELECT n_sample, CAST(40 AS INT) AS planes, CAST(8 AS INT) AS bands, truth_pairs, found_pairs,
           |   round(CASE WHEN truth_pairs = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(found_pairs AS DOUBLE) / truth_pairs END, 6) AS recall,
           |   round(1 - pow(1 - pow(1 - acos(CAST(0.45 AS DOUBLE)) / pi(), 5), 8), 6) AS predicted_recall
           | FROM ns CROSS JOIN truth CROSS JOIN found""".stripMargin.replace("\n", " "),
      "q137_corpus_report_nulls" ->
        s"""WITH d AS (SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
           |   CASE WHEN doc_id % 11 = 0 THEN NULL ELSE source END AS source, text FROM documents)
           | SELECT CASE WHEN GROUPING(lang) = 1 THEN '(all)' ELSE lang END AS lang,
           | CASE WHEN GROUPING(source) = 1 THEN '(all)' ELSE source END AS source,
           | CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens,
           | CAST(sum(length(text)) AS BIGINT) AS n_chars,
           | CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
           | FROM d GROUP BY ROLLUP(lang, source)""".stripMargin.replace("\n", " "),
      "q136_nearest_exclusive_grid" ->
        // exclusive nearest under a distance cap, replayed exhaustively:
        // all 25 anchors per point, drop the exact-location anchor
        // (exclusive), cap at 25, rank() keeps equidistant ties. Distances
        // here are sums of exact deci-grid squares, so sqrt vs the
        // engine's Math.hypot agree bit-for-bit at the cap boundary
        // (Pythagorean boundary pairs are integer-exact in both).
        s"""WITH p AS (SELECT c_custkey, px, py FROM $pts),
           | a AS (SELECT n_nationkey, CAST(n_nationkey % 5 * 20 AS DOUBLE) AS ax,
           |   CAST(floor(n_nationkey / CAST(5 AS DOUBLE)) * 20 AS DOUBLE) AS ay FROM nation),
           | c AS (SELECT c_custkey, n_nationkey,
           |   sqrt((px - ax) * (px - ax) + (py - ay) * (py - ay)) AS d
           |   FROM p CROSS JOIN a
           |   WHERE NOT (px = ax AND py = ay)
           |     AND sqrt((px - ax) * (px - ax) + (py - ay) * (py - ay)) <= CAST(25 AS DOUBLE)),
           | r AS (SELECT c_custkey, n_nationkey, d,
           |   rank() OVER (PARTITION BY c_custkey ORDER BY d) AS rk FROM c)
           | SELECT c_custkey, n_nationkey, round(d, 4) AS dist FROM r WHERE rk = 1""".stripMargin.replace("\n", " ")
    )
  }

  /** Chained-CTE SQL mirror of [[graft.ops.QualityClassifier]]: hashed
    * unigram-bucket features, then per epoch t the (z_t logits, p_t
    * sigmoid, gr_t gradient, w_t rounded update) chain from w_0 = 0, and a
    * final scoring pass under w_epochs. */
  private def logRegOracle(buckets: Int, epochs: Int, lr: Double): String = {
    val bk = s"((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16" +
      s" + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % $buckets"
    val sb = new StringBuilder
    sb ++= "WITH tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS tok FROM documents), "
    sb ++= s"f AS (SELECT doc_id, $bk AS bk, CAST(count(*) AS DOUBLE) AS x FROM tok GROUP BY doc_id, bk), "
    sb ++= "y AS (SELECT doc_id, CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y FROM documents), "
    sb ++= "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents), "
    sb ++= s"w0 AS (SELECT CAST(unnest(range(0, $buckets)) AS INT) AS bk, CAST(0 AS DOUBLE) AS w)"
    def zp(t: Int, wTable: String, zName: String, pName: String): Unit = {
      sb ++= s", $zName AS (SELECT f.doc_id, round(sum(w.w * f.x), 9) AS z FROM f JOIN $wTable w USING (bk) GROUP BY f.doc_id)"
      sb ++= s", $pName AS (SELECT y.doc_id, y.y, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-coalesce(z.z, 0))) AS p " +
        s"FROM y LEFT JOIN $zName z USING (doc_id))"
    }
    for (t <- 1 to epochs) {
      zp(t, s"w${t - 1}", s"z$t", s"p$t")
      sb ++= s", gr$t AS (SELECT f.bk, sum((p.p - p.y) * f.x) AS g FROM f JOIN p$t p USING (doc_id) GROUP BY f.bk)"
      sb ++= s", w$t AS (SELECT w.bk, floor((w.w - $lr * coalesce(gr.g, 0) / n.n) * 1000000 + 0.5) / 1000000 AS w " +
        s"FROM w${t - 1} w LEFT JOIN gr$t gr USING (bk) CROSS JOIN n)"
    }
    zp(epochs + 1, s"w$epochs", "zf", "pf")
    sb ++= " SELECT doc_id, y AS label, round(p, 4) + CAST(0 AS DOUBLE) AS score, p >= 0.5 AS keep FROM pf"
    sb.toString
  }

  /** Chained-CTE SQL mirror of [[graft.ops.Similarity.kmeansCentroids]] +
    * final cell assignment: seeds (md5-order sample), then per iteration t
    * the (a_t assign, g_t argmin, m_t rounded means, c_t carry-forward
    * centroids) chain — the q68 one-step oracle generalized to any
    * iteration count. */
  private def kmeansCellsOracle(k: Int, iters: Int, dim: Int, subset: String): String = {
    val d1 = dim + 1
    def sqdist(vec: String, cent: String): String =
      s"list_sum(list_transform(range(1, $d1), i -> (CAST($vec[i] AS DOUBLE) - CAST($cent[i] AS DOUBLE)) * (CAST($vec[i] AS DOUBLE) - CAST($cent[i] AS DOUBLE))))"
    val sb = new StringBuilder
    sb ++= s"WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE $subset AND embedding IS NOT NULL), "
    sb ++= s"seeds AS (SELECT * FROM (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS INT) AS c, embedding AS sv FROM v) WHERE c < $k), "
    sb ++= "c0 AS (SELECT c, sv AS cv FROM seeds)"
    for (t <- 1 to iters) {
      sb ++= s", a$t AS (SELECT vec_id, embedding, c, ${sqdist("embedding", "cv")} AS d FROM v CROSS JOIN c${t - 1})"
      sb ++= s", g$t AS (SELECT vec_id, embedding, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk FROM a$t) WHERE rk = 1)"
      sb ++= s", m$t AS (SELECT c, i, CAST(floor(sum(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) / count(*) * 1000000 + CAST(0.5 AS DOUBLE)) / 1000000 AS FLOAT) AS mval " +
        s"FROM g$t CROSS JOIN range(1, $d1) t(i) GROUP BY c, i)"
      sb ++= s", c$t AS (SELECT p.c, list(COALESCE(m.mval, p.cv[CAST(t.i AS INT)]) ORDER BY t.i) AS cv " +
        s"FROM c${t - 1} p CROSS JOIN range(1, $d1) t(i) LEFT JOIN m$t m ON m.c = p.c AND m.i = t.i GROUP BY p.c)"
    }
    sb ++= s", af AS (SELECT vec_id, c, ${sqdist("embedding", "cv")} AS d FROM v CROSS JOIN c$iters)"
    sb ++= ", gf AS (SELECT vec_id, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rk FROM af) WHERE rk = 1)"
    sb ++= " SELECT vec_id, c AS cell FROM gf"
    sb.toString
  }

  /** Full SQL reproduction of the Hilbert curve index: the xy2d
    * bit-twiddling loop (geom/Hilbert.scala) unrolled as `order` chained
    * CTEs of plain CASE arithmetic. (A DuckDB list_reduce fold would be
    * more compact, but DuckDB 1.0 mis-vectorizes lambdas whose initial
    * accumulator depends on the row — results varied with surrounding
    * rows — so the unrolled form is the safe one.) */
  private def hilbertOracle(order: Int): String = {
    val side = (1 << order) - 1
    val steps = new StringBuilder
    var prev = "c0"
    var i = 0
    for (k <- (order - 1) to 0 by -1) {
      val s = 1 << k
      val cur = s"c${i + 1}"
      steps ++=
        s""", $cur AS (SELECT c_custkey,
           | CASE WHEN (y & $s) = 0 THEN (CASE WHEN (x & $s) > 0 THEN $s - 1 - y ELSE y END) ELSE x END AS x,
           | CASE WHEN (y & $s) = 0 THEN (CASE WHEN (x & $s) > 0 THEN $s - 1 - x ELSE x END) ELSE y END AS y,
           | d + CAST($s AS BIGINT) * $s * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
           |   (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)) AS d
           | FROM $prev)""".stripMargin.replace("\n", " ")
      prev = cur
      i += 1
    }
    s"""WITH p AS ($PtsSql),
       | tb AS (SELECT min(px) AS x0, min(py) AS y0, max(px) AS x1, max(py) AS y1 FROM p),
       | c0 AS (SELECT c_custkey,
       |   least(CAST($side AS BIGINT), greatest(CAST(0 AS BIGINT), CAST(floor(((px - x0) / (x1 - x0)) * $side) AS BIGINT))) AS x,
       |   least(CAST($side AS BIGINT), greatest(CAST(0 AS BIGINT), CAST(floor(((py - y0) / (y1 - y0)) * $side) AS BIGINT))) AS y,
       |   CAST(0 AS BIGINT) AS d
       |   FROM p CROSS JOIN tb)${steps.toString}
       | SELECT c_custkey, d AS hilbert_distance FROM $prev""".stripMargin.replace("\n", " ")
  }

  /** Integral doubles print bare in JTS WKT/GeoJSON ("18" not "18.0"). */
  private def fmtSql(x: String): String =
    s"(CASE WHEN $x = floor($x) THEN CAST(CAST($x AS BIGINT) AS VARCHAR) ELSE CAST($x AS VARCHAR) END)"

  /** Shared MinHash-LSH oracle (mirrors Dedup.minhashPairs spec exactly).
    * `src` = the relation to read (doc_id, text) from. */
  /** Numeric value of the first `n` lowercase-hex chars of `expr` (a string
    * SQL expression), as nested strpos arithmetic — DuckDB-portable hex
    * decode without a hex-literal cast. */
  private def hexValSql(expr: String, n: Int): String =
    (0 until n).map { i =>
      s"(strpos('0123456789abcdef', substr($expr, ${i + 1}, 1)) - 1) * ${math.pow(16, n - 1 - i).toLong}"
    }.mkString("(", " + ", ")")

  /** 24-bit value of an md5 hex expression — the [[graft.ops.Sampling]]
    * hashHex draw, oracle-side. */
  private def hex24Sql(md5Expr: String): String = hexValSql(md5Expr, 6)

  /** Shared CTE chain computing the q114 DSIR per-doc log-weights (table
    * `w`: doc_id, n_grams, lw) — q116 reuses it for the resample step. */
  private val dsirWeightsCte: String =
    s"""WITH tok AS (SELECT doc_id, lang, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
       | g AS (SELECT doc_id, lang, unnest(list_concat(toks,
       |   list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS gr FROM tok),
       | b AS (SELECT doc_id, lang,
       |   ((strpos('0123456789abcdef', substr(md5(gr), 1, 1)) - 1) * 16
       |    + (strpos('0123456789abcdef', substr(md5(gr), 2, 1)) - 1)) % 64 AS bk FROM g),
       | dom AS (SELECT unnest(range(0, 64)) AS bk),
       | tgt AS (SELECT dom.bk, count(b.bk) AS n FROM dom LEFT JOIN b ON b.bk = dom.bk AND b.lang = 'en' GROUP BY dom.bk),
       | raw AS (SELECT dom.bk, count(b.bk) AS n FROM dom LEFT JOIN b ON b.bk = dom.bk GROUP BY dom.bk),
       | ratio AS (SELECT tgt.bk,
       |   ln((tgt.n + 1) / (CAST((SELECT sum(n) FROM tgt) AS DOUBLE) + 64))
       |   - ln((raw.n + 1) / (CAST((SELECT sum(n) FROM raw) AS DOUBLE) + 64)) AS lr
       |   FROM tgt JOIN raw USING (bk)),
       | perdoc AS (SELECT doc_id, bk, count(*) AS c FROM b GROUP BY 1, 2),
       | w AS (SELECT doc_id, sum(c) AS n_grams, sum(c * lr) AS lw FROM perdoc JOIN ratio USING (bk) GROUP BY doc_id)""".stripMargin

  private def minhashOracle(k: Int, numHashes: Int, bands: Int, threshold: Double,
                            src: String = "documents"): String = {
    val rpb = numHashes / bands
    val shingleExpr = k match {
      case 2 => "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])"
      case 3 => "list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
      case _ => throw new IllegalArgumentException("oracle supports k=2,3")
    }
    s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM $src),
       | sh AS (SELECT doc_id, $shingleExpr AS sh FROM tok WHERE len(toks) >= $k),
       | sigs AS (SELECT doc_id, sh, list_transform(range(0, $numHashes),
       |   j -> list_min(list_transform(sh, s -> md5(CAST(j AS VARCHAR) || ':' || s)))) AS sig FROM sh),
       | banded AS (SELECT doc_id, t.b AS band, md5(array_to_string(list_slice(sig, t.b * $rpb + 1, t.b * $rpb + $rpb), '|')) AS bkey
       |   FROM sigs CROSS JOIN range(0, $bands) t(b)),
       | pairs AS (SELECT DISTINCT s1.doc_id AS id_a, s2.doc_id AS id_b FROM banded s1
       |   JOIN banded s2 ON s1.band = s2.band AND s1.bkey = s2.bkey AND s1.doc_id < s2.doc_id),
       | scored AS (SELECT id_a, id_b,
       |   CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN CAST(0 AS DOUBLE)
       |        ELSE CAST(len(list_distinct(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS DOUBLE)
       |             / len(list_distinct(list_concat(a.sh, b.sh))) END AS jaccard
       |   FROM pairs JOIN sh a ON pairs.id_a = a.doc_id JOIN sh b ON pairs.id_b = b.doc_id)
       | SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM scored WHERE jaccard >= $threshold""".stripMargin.replace("\n", " ")
  }

  private def sjoinOracle(pts: String, cells: String): String =
    s"""SELECT n_nationkey, count(*) AS n, round(sum(c_acctbal), 4) AS bal FROM $pts p JOIN $cells c
       | ON p.px >= c.x0 AND p.px <= c.x1 AND p.py >= c.y0 AND p.py <= c.y1
       | GROUP BY n_nationkey""".stripMargin.replace("\n", " ")

  /** Token-window base CTEs for the exact-substring oracles: `toks`
    * (filtered token lists), `win` (1-based positions), `w2`
    * (doc_id, pos, window string `w`). */
  private def spanWindowBase(l: Int): String =
    s"""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t FROM documents),
       | win AS (SELECT doc_id, unnest(generate_series(1, len(t) - ${l - 1})) AS pos, t FROM toks WHERE len(t) >= $l),
       | w2 AS (SELECT doc_id, pos, array_to_string(t[pos:pos+${l - 1}], ' ') AS w FROM win)""".stripMargin.replace("\n", " ")

  /** Gaps-and-islands merge tail over a CTE named `hits` (doc_id, pos):
    * terminal CTE `grp` exposes (doc_id, pos, g). */
  private def spanMergeTail(l: Int): String =
    s""" , flagged AS (SELECT doc_id, pos,
       |   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $l THEN 0 ELSE 1 END AS flag
       |   FROM hits),
       | grp AS (SELECT doc_id, pos, sum(flag) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
       |   FROM flagged)""".stripMargin.replace("\n", " ")

  /** Recursive min-label closure over the constructed [[ccTestEdges]] pair
    * graph (shared by the q112/q149 oracles): terminal CTE `comp` exposes
    * (doc_id, component) for every GRAPH node — docs outside the graph are
    * absent and must be defaulted by the caller. */
  private val ccClosureCte: String =
    s"""WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
       | raw AS (
       |  SELECT a.id AS u, b.id AS v FROM ids a JOIN ids b ON b.id = a.id + 1 WHERE a.id % 12 IN (0, 1, 2)
       |  UNION ALL SELECT a.id, b.id FROM ids a JOIN ids b ON b.id = a.id + 2 WHERE a.id % 12 = 3
       |  UNION ALL SELECT b.id, a.id FROM ids a JOIN ids b ON b.id = a.id + 4 WHERE a.id % 12 = 6
       |  UNION ALL SELECT id, id FROM ids WHERE id % 12 = 8
       |  UNION ALL SELECT a.id, b.id FROM ids a JOIN ids b ON b.id = a.id + 1 WHERE a.id % 12 = 1),
       | nodes AS (SELECT DISTINCT u AS id FROM raw UNION SELECT v FROM raw),
       | edges AS (SELECT u, v FROM raw WHERE u <> v UNION SELECT v, u FROM raw WHERE u <> v),
       | reach AS (
       |  SELECT id AS src, id AS dst FROM nodes
       |  UNION
       |  SELECT r.src, e.v AS dst FROM reach r JOIN edges e ON e.u = r.dst),
       | comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)""".stripMargin.replace("\n", " ")

  /** Unrolled greedy k-center chain for the q151 oracle: round j picks the
    * argmax of the accumulated min of per-pair-rounded cosine distances
    * (ORDER BY d DESC, vec_id LIMIT 1) among not-yet-chosen vectors —
    * selection-rule-identical to [[graft.ops.Similarity.kCenterGreedy]]
    * (per-pair dot/norm in left-to-right double, round 6 BEFORE the min). */
  private def kCenterOracle(k: Int): String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))"
    def dist(a: String, b: String) = s"round(CAST(1 AS DOUBLE) - ${dot(a, b)} / ($a.nm * $b.nm), 6)"
    val head =
      s"""WITH n AS (SELECT vec_id, embedding,
         | sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nm
         | FROM embeddings),
         | c1 AS (SELECT vec_id, embedding, nm FROM n ORDER BY vec_id LIMIT 1),
         | r1 AS (SELECT m.vec_id, m.embedding, m.nm, ${dist("m", "c")} AS d
         |   FROM n m, c1 c WHERE m.vec_id <> c.vec_id)""".stripMargin
    val rounds = (2 to k).map { j =>
      val pick = s" , c$j AS (SELECT vec_id, embedding, nm, d FROM r${j - 1} ORDER BY d DESC, vec_id LIMIT 1)"
      val relax = if (j == k) "" else
        s""" , r$j AS (SELECT p.vec_id, p.embedding, p.nm, least(p.d, ${dist("p", "c")}) AS d
           |   FROM r${j - 1} p, c$j c WHERE p.vec_id <> c.vec_id)""".stripMargin
      pick + relax
    }.mkString
    val out = (1 to k).map { j =>
      val d = if (j == 1) "CAST(NULL AS DOUBLE)" else "d"
      s"SELECT CAST($j AS INT) AS rank, vec_id, $d AS dist FROM c$j"
    }.mkString(" UNION ALL ")
    (head + rounds + " " + out).replace("\n", " ")
  }

  /** Shared CTE chain for the exact-substring (repeated-span) oracles
    * (q144/q145/q146): corpus-wide repeated windows merged to maximal
    * spans. */
  private def repeatedSpanCte(l: Int): String =
    spanWindowBase(l) +
      s""" , rep AS (SELECT w FROM w2 GROUP BY w HAVING count(*) >= 2),
         | hits AS (SELECT w2.doc_id, w2.pos FROM w2 JOIN rep USING (w))""".stripMargin.replace("\n", " ") +
      spanMergeTail(l)
}

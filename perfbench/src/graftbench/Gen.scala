package graftbench

import graft.api.GeoDataFrame
import graft.geom.Wkb
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, Geometry}

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, row index), so the same seed gives the same rows whatever
  * the partitioning, and the program only ever sees the GeoParquet files
  * written from them. */
object Gen {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) for draw `k` of row `i` in `stream`. */
  def u(seed: Long, stream: Long, i: Long, k: Int): Double =
    (mix(mix(mix(seed) ^ (stream * 0x632BE59BD9B4E019L)) ^ (i * 31 + k)) >>> 11) * (1.0 / (1L << 53))

  def gauss(seed: Long, stream: Long, i: Long, k: Int): Double = {
    val a = math.max(u(seed, stream, i, k), 1e-12)
    val b = u(seed, stream, i, k + 1)
    math.sqrt(-2 * math.log(a)) * math.cos(2 * math.Pi * b)
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"
  def word(seed: Long, stream: Long, i: Long, k: Int, len: Int): String = {
    val sb = new StringBuilder(len)
    var j = 0
    while (j < len) { sb += Letters((u(seed, stream, i, k + j) * 26).toInt); j += 1 }
    sb.toString
  }

  val Extent = 1000.0
  private def clamp(v: Double): Double = math.min(Extent, math.max(0.0, v))

  /** Position of item `i` of `n` on a jittered grid over `[0, side]²`:
    * one item per cell, placed uniformly inside it. Stratifying keeps the
    * amount of overlap, and so the work, nearly the same for every seed. */
  def strat(seed: Long, stream: Long, i: Long, n: Long, side: Double = Extent): (Double, Double) = {
    val k = math.ceil(math.sqrt(n.toDouble)).toLong
    val cell = side / k
    ((i % k + u(seed, stream, i, 0)) * cell, (i / k + u(seed, stream, i, 1)) * cell)
  }

  /** Low-discrepancy fraction for item `i`: the seed only shifts the
    * sequence, so sizes drawn from it have the same spread for every seed. */
  def frac(seed: Long, stream: Long, i: Long): Double = {
    val v = i * 0.6180339887498949 + u(seed, stream, -1, 0)
    v - math.floor(v)
  }

  /** Star-shaped simple polygon: vertex k sits at an angle inside its own
    * 1/n sector, so the ring never self-intersects. */
  def star(cx: Double, cy: Double, r0: Double, n: Int, seed: Long, stream: Long, i: Long): Geometry = {
    val cs = new Array[Coordinate](n + 1)
    var k = 0
    while (k < n) {
      val a = 2 * math.Pi * (k + 0.8 * u(seed, stream, i, 10 + 2 * k)) / n
      val r = r0 * (0.55 + 0.45 * u(seed, stream, i, 11 + 2 * k))
      cs(k) = new Coordinate(cx + r * math.cos(a), cy + r * math.sin(a))
      k += 1
    }
    cs(n) = cs(0)
    Wkb.factory.createPolygon(cs)
  }

  /** Sizes of one generated workload; `scale` shrinks every row count
    * (the self-test runs at a small scale). */
  final case class Sizes(points: Int, clusters: Int, polys: Int, left: Int, coverage: Int, probes: Int)
  def sizes(scale: Double): Sizes = {
    def s(n: Int) = math.max(16, (n * scale).toInt)
    Sizes(points = s(27000), clusters = s(1550), polys = s(1500),
      left = s(3200), coverage = math.max(4, (20 * math.sqrt(scale)).toInt), probes = s(10000))
  }

  // ---- sjoin_grid: clustered points with a wide payload, irregular polygons

  val PointSchema: StructType = StructType(Seq(
    StructField("pid", LongType), StructField("cat", StringType), StructField("name", StringType),
    StructField("tag", StringType), StructField("v1", DoubleType), StructField("v2", DoubleType),
    StructField("v3", DoubleType), StructField("n1", IntegerType), StructField("n2", IntegerType),
    StructField("ts", LongType), StructField("geometry", BinaryType)))

  private val Tags = Array("alpha", "beta", "gamma", "delta", "epsilon")

  /** 3 of every 5 points fall in one of `clusters` gaussian clusters, whose
    * centres are stratified; the rest are uniform. */
  def pointRow(seed: Long, clusters: Int, i: Long): Row = {
    val clustered = i % 5 < 3
    val c = i % clusters
    val (x, y) =
      if (clustered) {
        val (cx, cy) = strat(seed, 1, c, clusters)
        (clamp(cx + 8 * gauss(seed, 2, i, 2)), clamp(cy + 8 * gauss(seed, 2, i, 4)))
      } else (u(seed, 2, i, 6) * Extent, u(seed, 2, i, 7) * Extent)
    Row(i, f"c${c % 64}%02d", word(seed, 3, i, 0, 16), Tags((u(seed, 2, i, 8) * Tags.length).toInt),
      u(seed, 2, i, 9) * 100, u(seed, 2, i, 10), gauss(seed, 2, i, 11),
      (u(seed, 2, i, 13) * 1000).toInt, (u(seed, 2, i, 14) * 7).toInt,
      1700000000000L + (u(seed, 2, i, 15) * 8.64e8).toLong,
      Wkb.write(Wkb.factory.createPoint(new Coordinate(x, y))))
  }

  val PolySchema: StructType = StructType(Seq(
    StructField("poly_id", LongType), StructField("zone", StringType),
    StructField("weight", IntegerType), StructField("geometry", BinaryType)))

  def polyRow(seed: Long, n: Long, i: Long): Row = {
    val (x, y) = strat(seed, 4, i, n)
    val g = star(x, y, 8 + 12 * frac(seed, 4, i), 30, seed, 4, i)
    Row(i, f"z${i % 97}%02d", (u(seed, 4, i, 3) * 100).toInt, Wkb.write(g))
  }

  // ---- overlay_dissolve: irregular left polygons, an edge-matched coverage,
  // an irregular clip mask and probe points

  val LeftSchema: StructType = StructType(Seq(
    StructField("a_id", LongType), StructField("a_cat", StringType), StructField("a_val", IntegerType),
    StructField("geometry", BinaryType)))

  def leftRow(seed: Long, n: Long, i: Long): Row = {
    val (x, y) = strat(seed, 5, i, n)
    val g = star(x, y, 5 + 9 * frac(seed, 5, i), 30, seed, 5, i)
    Row(i, f"k${i % 13}%02d", (u(seed, 5, i, 3) * 1000).toInt, Wkb.write(g))
  }

  val CoverSchema: StructType = StructType(Seq(
    StructField("b_id", LongType), StructField("zone", StringType), StructField("geometry", BinaryType)))

  /** Cell (i, j) of a g×g coverage of [0, 750]²: every corner and every
    * interior edge vertex is jittered by a function of the corner or edge
    * alone, so neighbouring cells share their boundary exactly. */
  def coverRow(seed: Long, g: Int, id: Long): Row = {
    val i = (id / g).toInt; val j = (id % g).toInt
    val side = 750.0 / g
    val per = 7
    def corner(ci: Int, cj: Int): Coordinate = {
      val k = ci.toLong * (g + 1) + cj
      val jx = if (ci == 0 || ci == g) 0.0 else (u(seed, 6, k, 0) - 0.5) * 0.2 * side
      val jy = if (cj == 0 || cj == g) 0.0 else (u(seed, 6, k, 1) - 0.5) * 0.2 * side
      new Coordinate(ci * side + jx, cj * side + jy)
    }
    // points strictly inside the edge from corner a to corner b, jittered
    // perpendicular to it; `key` identifies the edge independent of direction
    def edge(a: Coordinate, b: Coordinate, key: Long, outer: Boolean): Seq[Coordinate] = {
      val dx = b.x - a.x; val dy = b.y - a.y
      val len = math.hypot(dx, dy)
      (1 to per).map { s =>
        val t = s.toDouble / (per + 1)
        val off = if (outer) 0.0 else (u(seed, 7, key, s) - 0.5) * 0.1 * side
        new Coordinate(a.x + t * dx - off * dy / len, a.y + t * dy + off * dx / len)
      }
    }
    val c00 = corner(i, j); val c10 = corner(i + 1, j); val c11 = corner(i + 1, j + 1); val c01 = corner(i, j + 1)
    def hKey(ci: Int, cj: Int) = 2L * (ci.toLong * (g + 1) + cj)      // edge (ci,cj)-(ci+1,cj)
    def vKey(ci: Int, cj: Int) = 2L * (ci.toLong * (g + 1) + cj) + 1  // edge (ci,cj)-(ci,cj+1)
    // each shared edge is generated in one canonical direction and reversed
    // by the cell that walks it the other way
    val bottom = edge(c00, c10, hKey(i, j), j == 0)
    val right = edge(c10, c11, vKey(i + 1, j), i + 1 == g)
    val top = edge(c01, c11, hKey(i, j + 1), j + 1 == g).reverse
    val left = edge(c00, c01, vKey(i, j), i == 0).reverse
    val ring = (Seq(c00) ++ bottom ++ Seq(c10) ++ right ++ Seq(c11) ++ top ++ Seq(c01) ++ left ++ Seq(c00)).toArray
    // zones are blocks of 2×2 cells
    Row(id, f"z${(i / 2) * g + j / 2}%03d", Wkb.write(Wkb.factory.createPolygon(ring)))
  }

  def mask(seed: Long): Geometry = star(500, 480, 330, 64, seed, 8, 0)

  val ProbeSchema: StructType = StructType(Seq(
    StructField("qid", LongType), StructField("q_kind", StringType), StructField("q_val", DoubleType),
    StructField("geometry", BinaryType)))

  def probeRow(seed: Long, n: Long, i: Long): Row = {
    val (x, y) = strat(seed, 9, i, n)
    Row(i, Tags((u(seed, 9, i, 2) * Tags.length).toInt), u(seed, 9, i, 3),
      Wkb.write(Wkb.factory.createPoint(new Coordinate(x, y))))
  }

  /** A generated table: schema plus a row function of the row index. */
  final case class Table(name: String, schema: StructType, rows: Long, row: Long => Row)

  def tables(workload: String, seed: Long, scale: Double): Seq[Table] = {
    val z = sizes(scale)
    workload match {
      case "sjoin_grid" => Seq(
        Table("points", PointSchema, z.points, i => pointRow(seed, z.clusters, i)),
        Table("polygons", PolySchema, z.polys, i => polyRow(seed, z.polys, i)))
      case "overlay_dissolve" => Seq(
        Table("left", LeftSchema, z.left, i => leftRow(seed, z.left, i)),
        Table("coverage", CoverSchema, z.coverage.toLong * z.coverage, i => coverRow(seed, z.coverage, i)),
        Table("mask", StructType(Seq(StructField("geometry", BinaryType))), 1, _ => Row(Wkb.write(mask(seed)))),
        Table("probes", ProbeSchema, z.probes, i => probeRow(seed, z.probes, i)))
      case other => throw new IllegalArgumentException(s"no generator for workload $other")
    }
  }

  /** Rows are computed on the executors from the index alone. */
  def frame(spark: SparkSession, t: Table): DataFrame = {
    val f = t.row
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism, (t.rows / 1000).toInt))
    spark.createDataFrame(spark.sparkContext.range(0L, t.rows, 1L, parts).map(f), t.schema)
  }

  /** Write every table as GeoParquet under `dir`. */
  def write(spark: SparkSession, tabs: Seq[Table], dir: String): Unit =
    tabs.foreach(t => graft.io.GeoParquet.write(GeoDataFrame(frame(spark, t)), s"$dir/${t.name}"))

  def read(spark: SparkSession, tabs: Seq[Table], dir: String): Map[String, GeoDataFrame] =
    tabs.map(t => t.name -> graft.io.GeoParquet.read(spark, s"$dir/${t.name}")).toMap
}

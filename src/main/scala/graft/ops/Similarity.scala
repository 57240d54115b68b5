package graft.ops

import graft.functions.expr.{VecDot, VecNorm}
import graft.plans.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column => exprCol, expression => colExpr}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * The cosine kernel is a native codegen expression pair ([[VecDot]] /
  * [[VecNorm]]) — a tight primitive loop inside whole-stage codegen, ~50×
  * cheaper than the boxed higher-order-function composition it replaced,
  * with identical semantics (double products, LEFT-TO-RIGHT IEEE summation
  * from 0.0) so external oracles still reproduce results bit-for-bit.
  *
  * Brute-force top-k is the correctness baseline (full scan, one pass,
  * `orderBy limit k` → Spark TakeOrderedAndProject, no shuffle of the full
  * data). The scale path stores an LSH bucket column at INGEST
  * ([[withAnnBucket]]): an ANN query then filters on the *stored* int column
  * (`IN (probe buckets)` — pushed to the Parquet scan, so row-group stats
  * and dictionary filters prune data that was written sorted by bucket)
  * and rescores only the survivors.
  *
  * The bucket spec is deliberately engine-independent (Rademacher ±1
  * hyperplanes derived from md5, not seeded Gaussians) so a plain-SQL
  * oracle can reproduce bucket assignment, probe set, and scores exactly.
  */
object Similarity {

  /** Dot product of two float-array columns, double precision,
    * left-to-right summation (native codegen kernel). */
  def dot(a: Column, b: Column): Column = exprCol(VecDot(colExpr(a), colExpr(b)))

  /** L2 norm of a float-array column (native codegen kernel). */
  def norm(a: Column): Column = exprCol(VecNorm(colExpr(a)))

  /** Cosine similarity between two float-array columns. */
  def cosine(a: Column, b: Column): Column = {
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot(a, b) / (na * nb))
  }

  /** [[cosine]] with the two norms PRECOMPUTED and carried as columns —
    * the identical arithmetic (same VecDot kernel, same `na * nb` product
    * and zero guards, so results are bit-for-bit equal), for pair-verify
    * joins: attaching each row's norm alongside its vector once per SIDE
    * replaces two VecNorm kernel passes per CANDIDATE PAIR, cutting the
    * verify's per-pair FLOPs to ~1/3 (guide §1.2 per-task work). Callers
    * must pass `na`/`nb` computed by [[norm]] over exactly `a`/`b`. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot(a, b) / (na * nb))

  /** Brute-force cosine top-k against a literal query vector. */
  def bruteForceTopK(df: DataFrame, vecCol: String, query: Seq[Float], k: Int,
                     idCol: String = "vec_id"): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    df.withColumn("cosine", cosine(col(vecCol), q))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  // --------------------------------------------------------------------------
  // LSH bucket (ANN index) — deterministic, oracle-reproducible spec:
  //   plane(p, i) = +1 if the first hex char of md5("<seed>:<p>:<i>") is in
  //                 [8-f], else -1           (a Rademacher hyperplane)
  //   s_p   = Σ_i plane(p, i) * v[i]         (left-to-right, double)
  //   bit_p = 1 if s_p >= 0 else 0
  //   bucket = Σ_p bit_p << (planes - 1 - p)
  // --------------------------------------------------------------------------

  private[ops] def radPlane(planes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dim) { (p, i) =>
      md.reset()
      val d = md.digest(s"$seed:$p:$i".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
    }
  }

  private[ops] def bucketOf(v: Seq[Float], planeVals: Array[Array[Double]]): Int = {
    var bucket = 0
    var p = 0
    while (p < planeVals.length) {
      val plane = planeVals(p)
      var s = 0.0
      var i = 0
      while (i < math.min(v.length, plane.length)) { s += plane(i) * v(i); i += 1 }
      bucket = (bucket << 1) | (if (s >= 0) 1 else 0)
      p += 1
    }
    bucket
  }

  /** Johnson–Lindenstrauss random projection onto `outDim` dimensions via
    * the SAME deterministic md5 Rademacher planes the ANN bucket uses:
    * `proj_j = Σ_i plane(j,i)·v_i / sqrt(outDim)` (left-to-right double
    * accumulation — the spec an external engine replays exactly).
    * Pairwise inner products are preserved in expectation with variance
    * ~‖x‖²‖y‖²/outDim — the standard pre-ANN dimensionality reduction at
    * corpus scale: project once at ingest, store the short vectors, run
    * every distance pass at outDim/dim the cost. Map-side only. */
  def randomProject(df: DataFrame, vecCol: String, outCol: String = "proj",
                    outDim: Int = 16, dim: Int = 64, seed: Long = 42L): DataFrame = {
    require(outDim >= 1 && dim >= 1, s"dims must be positive; got $outDim/$dim")
    val planes = radPlane(outDim, dim, seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val u = udf { (v: Seq[Float]) =>
      if (v == null) null
      else Array.tabulate(outDim) { j =>
        val plane = planes(j)
        var s = 0.0
        var i = 0
        while (i < math.min(v.length, plane.length)) { s += plane(i) * v(i); i += 1 }
        s * scale
      }
    }
    // fenced: a filter over the projection (explode's inferred size filter
    // included) reads the column instead of projecting again
    Fence(df.withColumn(outCol, u(col(vecCol))))
  }

  /** Ingest-time column: the LSH bucket of each vector. Persist this (and
    * sort the files by it) so ANN queries prune at the Parquet scan. */
  // UDF instances memoized by their defining parameters: plan
  // canonicalization compares ScalaUDF functions by REFERENCE, so a fresh
  // closure per call makes otherwise-identical plans unequal and every
  // cache lookup over them (scratch caches, bench rep reuse) miss. The
  // closures are pure functions of the key, so sharing is safe.
  private val annBucketUCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Long), org.apache.spark.sql.expressions.UserDefinedFunction]()

  def annBucket(vecCol: Column, planes: Int = 8, dim: Int = 64, seed: Long = 42L): Column = {
    val u = annBucketUCache.computeIfAbsent((planes, dim, seed), _ => {
      val planeVals = radPlane(planes, dim, seed)
      udf((v: Seq[Float]) => if (v == null) null else Integer.valueOf(bucketOf(v, planeVals)))
    })
    u(vecCol)
  }

  def withAnnBucket(df: DataFrame, vecCol: String, bucketCol: String = "ann_bucket",
                    planes: Int = 8, dim: Int = 64, seed: Long = 42L): DataFrame =
    df.withColumn(bucketCol, annBucket(col(vecCol), planes, dim, seed))

  /** All buckets within `probeHamming` bit-flips of the query's bucket.
    * `dim` MUST be the ingest dim of [[withAnnBucket]]: the stored buckets
    * truncate planes to `dim` components, and the query bucket has to use
    * the identical truncation or the hamming-probe guarantee is void. */
  def probeBuckets(query: Seq[Float], planes: Int = 8, probeHamming: Int = 2,
                   seed: Long = 42L, dim: Int = 64): Seq[Int] = {
    val qb = bucketOf(query, radPlane(planes, dim, seed))
    (0 until (1 << planes)).filter(b => Integer.bitCount(b ^ qb) <= probeHamming)
  }

  /** ANN top-k over a STORED bucket column: `IN (probes)` on the int column
    * reaches the Parquet scan (PushedFilters), so row-groups written sorted
    * by bucket are pruned; only survivors pay the cosine rescore. This is
    * the 100 TB path — the corpus is NOT rescanned per query. */
  def annTopKIndexed(df: DataFrame, vecCol: String, query: Seq[Float], k: Int,
                     idCol: String = "vec_id", bucketCol: String = "ann_bucket",
                     planes: Int = 8, probeHamming: Int = 2, seed: Long = 42L,
                     dim: Int = 64): DataFrame = {
    val probes = probeBuckets(query, planes, probeHamming, seed, dim)
    val q = array(query.map(v => lit(v)): _*)
    val filtered =
      if (probes.size >= (1 << planes)) df // probing everything = exact scan
      else df.filter(col(bucketCol).isin(probes: _*))
    filtered.withColumn("cosine", cosine(col(vecCol), q))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** ANN top-k when no bucket column was persisted: compute it on the fly.
    * Correctness-equivalent to [[annTopKIndexed]] but pays a full scan —
    * prefer persisting the bucket at ingest. probeHamming >= planes is an
    * exact (full) scan. */
  def annTopK(df: DataFrame, vecCol: String, query: Seq[Float], k: Int,
              idCol: String = "vec_id", planes: Int = 8, probeHamming: Int = 2,
              seed: Long = 42L): DataFrame = {
    val dim = query.length
    val withBucket = withAnnBucket(df, vecCol, "__graft_bucket", planes, dim, seed)
    annTopKIndexed(withBucket, vecCol, query, k, idCol, "__graft_bucket", planes, probeHamming, seed, dim)
      .drop("__graft_bucket")
  }

  // --------------------------------------------------------------------------
  // IVF (inverted-file) ANN — the second scale path besides LSH buckets:
  // partition vectors by nearest centroid at INGEST, store the cell id,
  // probe only the nprobe closest cells at query time. Centroids are a
  // deterministic hash-sample of the corpus refined by one k-means step,
  // so the index is reproducible without RNG state.
  // --------------------------------------------------------------------------

  /** Deterministic centroids: the `k` vectors with smallest
    * md5(id-as-string) — an order-independent uniform sample whose spec a
    * plain-SQL oracle reproduces exactly, like the minhash/LSH specs —
    * refined by one Lloyd iteration. The per-cell mean is
    * floor(sum/n · 10^6 + 0.5)/10^6 cast to float: rounding makes the value
    * independent of double-summation order, so engine and oracle agree
    * bit-for-bit. Cells that attract no rows keep their seed vector. */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int): Array[Array[Float]] =
    kmeansCentroids(df, idCol, vecCol, k, iters = 1)

  /** Full deterministic k-means: the [[ivfCentroids]] md5-sample seeding
    * refined by `iters` rounded Lloyd iterations — the real clustering
    * path for IVF index builds and [[graft.ops.Dedup.semDedup]] cells when
    * one step isn't converged enough. Every iteration keeps the
    * oracle-reproducible spec (double accumulation, 10⁻⁶-rounded means,
    * empty cells keep their previous centroid), so any iteration count is
    * replayable as chained plain-SQL CTEs.
    *
    * Scale posture: each iteration is one map-side assignment pass
    * (broadcast centroids, no shuffle of the vectors) plus one
    * partial-aggregated groupBy on the cell id that reduces to k·dim
    * doubles on the driver — per-iteration cost is a single corpus scan,
    * and k·dim stays tiny by design (centroids must broadcast). This is
    * an index-BUILD cost, paid once per snapshot and amortized over every
    * probe. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
                      iters: Int): Array[Array[Float]] = {
    require(iters >= 1, s"iters must be >= 1; got $iters")
    val seedRows = df.select(col(idCol).cast("string").as("__id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__h", md5(col("__id")))
      .orderBy("__h").limit(k)
      .select("__v").collect().map(_.getSeq[Float](0).toArray)
    if (seedRows.isEmpty) return Array.empty
    var cents = seedRows
    var it = 0
    while (it < iters) { cents = lloydStep(df, vecCol, cents); it += 1 }
    cents
  }

  /** One rounded Lloyd step: assign every vector to its nearest centroid
    * (map-side, broadcast), take per-cell means via native array aggs,
    * round to 10⁻⁶ (summation-order independence), keep the previous
    * centroid for empty cells. */
  private def lloydStep(df: DataFrame, vecCol: String,
                        cents: Array[Array[Float]]): Array[Array[Float]] = {
    val bc = df.sparkSession.sparkContext.broadcast(cents)
    val assignU = udf((v: Seq[Float]) => if (v == null) -1 else nearestCentroid(v, bc.value))
    val dim = cents(0).length
    val assigned = df.select(col(vecCol).as("__v")).filter(col("__v").isNotNull)
      .withColumn("__c", assignU(col("__v")))
    val sums = assigned.groupBy("__c")
      .agg(count(lit(1)).as("__n"),
        array((0 until dim).map(i => sum(element_at(col("__v"), i + 1).cast("double"))): _*).as("__s"))
      .collect()
    val out = cents.map(_.clone())
    sums.foreach { r =>
      val c = r.getInt(0)
      if (c >= 0) {
        val n = r.getLong(1).toDouble
        val s = r.getSeq[Any](2)
        var i = 0
        while (i < dim) {
          val mean = (s(i) match { case d: Double => d; case f: Float => f.toDouble; case l: Long => l.toDouble; case null => 0.0 }) / n
          out(c)(i) = (math.floor(mean * 1e6 + 0.5) / 1e6).toFloat
          i += 1
        }
      }
    }
    out
  }

  private[ops] def nearestCentroid(v: Seq[Float], cents: Array[Array[Float]]): Int = {
    var best = -1
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0
      var i = 0
      // double subtraction/product (not float) — the oracle-reproducible
      // spec, same as the VecDot cosine kernel
      while (i < math.min(v.length, cent.length)) {
        val x = v(i).toDouble - cent(i).toDouble; d += x * x; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Ingest-time IVF cell column; persist (and sort files by it) so probes
    * prune at the Parquet scan exactly like the LSH bucket column. */
  // memoized by centroid CONTENT (annBucketUCache note): repeated calls
  // with identical centroids — a re-built plan over the same snapshot —
  // must yield reference-equal UDFs or downstream cache lookups miss
  // bounded LRU under the map's own lock: the old clear()-at-64 wiped all
  // memoized UDFs at once — including ones referenced by live plans, so the
  // reference stability the cache exists for broke exactly when it crossed
  // the bound (and the size/clear check-then-act raced). removeEldestEntry
  // evicts exactly one access-ordered-coldest entry instead (r21 advisor).
  private val ivfCellUCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        Seq[Seq[Float]], org.apache.spark.sql.expressions.UserDefinedFunction](
        16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[Seq[Float]],
            org.apache.spark.sql.expressions.UserDefinedFunction]): Boolean =
        size() > 64
    })

  def withIvfCell(df: DataFrame, vecCol: String, centroids: Array[Array[Float]],
                  cellCol: String = "ivf_cell"): DataFrame = {
    val key: Seq[Seq[Float]] = centroids.map(_.toSeq).toSeq
    // computeIfAbsent on a Collections.synchronizedMap runs atomically
    // under the wrapper's monitor (including the removeEldestEntry hook)
    val u = ivfCellUCache.computeIfAbsent(key, k => {
      val cents = k.map(_.toArray).toArray
      udf((v: Seq[Float]) => if (v == null) null else Integer.valueOf(nearestCentroid(v, cents)))
    })
    df.withColumn(cellCol, u(col(vecCol)))
  }

  /** IVF ANN top-k: rescore only rows in the `nprobe` cells whose centroids
    * are closest to the query. */
  def ivfTopK(df: DataFrame, vecCol: String, centroids: Array[Array[Float]],
              query: Seq[Float], k: Int, nprobe: Int,
              idCol: String = "vec_id", cellCol: String = "ivf_cell"): DataFrame = {
    val byDist = centroids.zipWithIndex.sortBy { case (c, _) =>
      var d = 0.0
      var i = 0
      // double subtraction like nearestCentroid/the q68 oracle — float math
      // could order near-equidistant probe cells differently than the gate
      while (i < math.min(query.length, c.length)) {
        val x = query(i).toDouble - c(i).toDouble; d += x * x; i += 1
      }
      d
    }
    val probes = byDist.take(math.max(1, nprobe)).map(_._2)
    val q = array(query.map(v => lit(v)): _*)
    val filtered =
      if (probes.length >= centroids.length) df
      else df.filter(col(cellCol).isin(probes.map(Integer.valueOf): _*))
    filtered.withColumn("cosine", cosine(col(vecCol), q))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Pick a multi-table LSH banding for [[knnJoin]]: band keys are fixed at
    * `KnnRpb` = 20 bits (≥ 2^20 buckets per table — random pairs collide at
    * ~1e-6 per table, so bucket candidate volume stays ~linear in DISTINCT
    * vectors instead of degrading toward all-pairs), and the table count is
    * solved from the recall target at the tuning threshold:
    * bands = ceil(ln(1−recall) / ln(1−p^rpb)), p = 1 − arccos(t)/π.
    * At the 0.9/0.9 defaults that is 50 tables × 20 planes = 1000
    * hyperplanes — 20-bit keys make each table sparse, the 50 tables buy
    * the recall back. Low tuning thresholds (< ~0.7) are unattainable at
    * 20-bit keys within the table cap; the cap logs the effective recall
    * and callers who genuinely want low-threshold graphs should pass
    * explicit coarse banding (as the q107 exhaustive-recall gate does). */
  private[graft] val KnnRpb = 20
  private[graft] val KnnMaxBands = 128
  private[graft] def knnBanding(threshold: Double, recall: Double): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"tuning threshold must be in (0,1), got $threshold")
    require(recall > 0 && recall < 1, s"recall target must be in (0,1), got $recall")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val perBand = math.pow(p, KnnRpb)
    val want = math.ceil(math.log1p(-recall) / math.log1p(-perBand)).toLong
    val bands = math.max(4L, math.min(KnnMaxBands.toLong, want)).toInt
    if (want > bands)
      System.err.println(f"[graft] knnJoin banding: recall target $recall%.2f at threshold " +
        f"$threshold%.2f needs $want tables of $KnnRpb-bit keys; capped at $bands " +
        f"(effective recall ${1 - math.pow(1 - perBand, bands.toDouble)}%.3f) — pass explicit " +
        "planes/bands for low-threshold graphs")
    (KnnRpb * bands, bands)
  }

  /** All-pairs top-k neighbour join via multi-table LSH buckets (for
    * building kNN graphs at scale): returns (id_a, id_b, cosine), the k
    * best per id_a among bucket-mates across all hash tables.
    *
    * Defaults are threshold-adaptive ([[knnBanding]]): 20-bit band keys
    * (selective at corpus scale — a 4-bit default here used to mean 16
    * buckets per table, O(n²/16) candidate work per band at 100 TB) with
    * the table count solved from the 0.9-recall target at the 0.9-cosine
    * tuning point. `threshold` tunes banding selectivity, it is NOT a hard
    * filter — candidates below it are kept when found, just with reduced
    * recall. Pass explicit `planes`/`bands` (> 0) to override, e.g. the
    * q107 gate's 32×1-bit exhaustive-recall configuration. */
  def knnJoin(df: DataFrame, idCol: String, vecCol: String, k: Int,
              planes: Int = -1, bands: Int = -1, seed: Long = 42L,
              threshold: Double = 0.9, recall: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (pl, bd) =
      if (planes > 0 && bands > 0) (planes, bands)
      else {
        require(planes <= 0 && bands <= 0, "pass both planes and bands, or neither")
        knnBanding(threshold, recall)
      }
    // cached: the symmetrization consumes the pair table TWICE (plain +
    // swapped) — uncached, the whole banding + cosine-verify pipeline ran
    // once per orientation (q107 profile: two identical ~12 task-second
    // verify stages). The pair table is output-bound, so the cache is too.
    val pairs = ScratchCache(Dedup.embeddingPairs(df, idCol, vecCol,
      dim = 0, planes = pl, bands = bd, seed = seed, threshold = -1.0))
    val sym = pairs.select(col("id_a"), col("id_b"), col("cosine"))
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"), col("cosine")))
    val w = Window.partitionBy("id_a").orderBy(col("cosine").desc, col("id_b").asc)
    sym.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k).drop("__rk")
  }

  /** Scalar int8 quantization of an embedding column: q_i = clamp(
    * round(v_i / scale), -127, 127) as `array<tinyint>` — 4× smaller than
    * float32 at rest and in shuffle, the standard storage posture for
    * corpus-scale embedding tables (store quantized + the one shared
    * `scale`; keep float32 only for the final rescore tier if at all).
    * `scale` is an explicit parameter (typically maxAbs/127 measured once
    * per corpus snapshot) so encoding is deterministic and replayable —
    * no hidden per-batch statistics. Cosine over quantized vectors needs
    * no dequantization at all: the shared scale cancels, so
    * [[cosine]] over the int8 arrays (cast back to float) approximates
    * the float32 cosine to ~1/255 per-component resolution. */
  def quantizeI8(vec: Column, scale: Double): Column = {
    require(scale > 0, s"scale must be > 0; got $scale")
    transform(vec, v =>
      greatest(lit(-127), least(lit(127),
        round(v.cast("double") / scale, 0).cast("int"))).cast("byte"))
  }

  /** The quantized column cast back to `array<float>` for the [[cosine]] /
    * [[dot]] kernels (the values are exact small integers — no information
    * is added or lost by the widening). */
  def dequantizeToFloat(qvec: Column): Column =
    transform(qvec, v => v.cast("float"))

  /** Brute-force cosine top-k over an int8-quantized embedding column
    * against a float query (quantized with the same `scale` on entry).
    * The scan reads 1/4 of the bytes of the float32 variant — the
    * cheap first tier of a quantize→shortlist→(optional float rescore)
    * pipeline. Deterministic ties toward the smaller id. */
  def quantizedTopK(df: DataFrame, qvecCol: String, query: Seq[Float], k: Int,
                    scale: Double, idCol: String = "vec_id"): DataFrame = {
    // HALF_UP to match the column quantizer's Spark round() exactly
    val qq = query.map(v => math.max(-127, math.min(127,
      BigDecimal(v.toDouble / scale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt))).map(_.toFloat)
    val qlit = array(qq.map(v => lit(v)): _*)
    df.withColumn("cosine_q",
        round(cosine(dequantizeToFloat(col(qvecCol)), qlit), 6))
      .orderBy(col("cosine_q").desc, col(idCol).asc)
      .limit(k)
  }

  /** Greedy k-center (farthest-point) diversity coreset over an embedding
    * column — the classic 2-approximation to the k-center objective
    * (Gonzalez 1985), the selection rule behind diversity-aware data
    * curation (pick the k most mutually-dissimilar documents as a seed
    * set / eval panel / labeling budget). Deterministic: the seed is the
    * smallest id, each following pick maximizes the min cosine DISTANCE
    * (1 − cosine, rounded to 10⁻⁶ per pair before the min — summation-
    * order independence, same convention as [[kmeansCentroids]]) to the
    * centers chosen so far, ties toward the smallest id. Returns one row
    * per selected center: (rank 1..k, id, dist = its min distance to the
    * earlier centers at selection time; NULL for the seed).
    *
    * Scale posture: k driver-side rows total. Each pick is ONE corpus
    * scan — distances to the ≤k already-chosen centers are literal
    * vectors fused into the scan (no join, no shuffle), and the argmax is
    * `orderBy.limit(1)` = TakeOrderedAndProject (only each partition's
    * best row reaches the driver). Total work O(N·k²·dim); for the small
    * k this op is for (panels, seeds — not clustering, that's
    * [[kmeansCentroids]]) recomputing ≤k literal distances per row beats
    * materializing a running-min column of the whole corpus per step. */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    val spark = df.sparkSession
    val base = df.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
    val seed = base.orderBy(col("__id").asc).limit(1).collect()
    // (id, vector, min-dist at selection — None for the seed)
    var centers = seed.toVector.map(r =>
      (r.getLong(0), r.getSeq[Float](1).toIndexedSeq, Option.empty[Double]))
    while (centers.nonEmpty && centers.length < k) {
      val rest = base.filter(!col("__id").isin(centers.map(_._1): _*))
      val mind = centers.map { case (_, v, _) =>
        round(lit(1.0) - cosine(col("__v"), array(v.map(x => lit(x)): _*)), 6)
      }.reduce(least(_, _))
      val next = rest.withColumn("__d", mind)
        .orderBy(col("__d").desc, col("__id").asc).limit(1).collect()
      if (next.isEmpty) return kCenterResult(spark, idCol, centers) // corpus exhausted below k
      val r = next(0)
      centers :+= ((r.getLong(0), r.getSeq[Float](1).toIndexedSeq, Some(r.getDouble(2))))
    }
    kCenterResult(spark, idCol, centers)
  }

  private def kCenterResult(spark: org.apache.spark.sql.SparkSession, idCol: String,
                            centers: Vector[(Long, IndexedSeq[Float], Option[Double])]): DataFrame = {
    import spark.implicits._
    centers.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1, id, d) }
      .toDF("rank", idCol, "dist")
  }
}

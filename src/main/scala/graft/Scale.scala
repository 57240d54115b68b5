package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale rehearsal: replicates the sf0.1 tables N× (ids shifted so keys stay
  * unique) and measures headline operators at 1×/4×/16×, writing SCALE.md.
  * The point is measured evidence for the 100 TB design claims: the key
  * operators should scale ~linearly in rows (bounded shuffles, no quadratic
  * blowup), and the LSH/dedup plans should stay bucket-bounded. */
object Scale {

  /** N×-replicate a table with ids shifted so keys stay unique. Shared by
    * the per-operator harness below and the full-suite `ScaleSuite` soak —
    * both must use the same layout or their ratios stop being comparable. */
  private[graft] def replicate(df: DataFrame, n: Int, idCols: Seq[String]): DataFrame = {
    val step = 10000000L
    (0 until n).map { k =>
      idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * step)))
    }.reduce(_.unionByName(_))
  }

  /** Hand-maintained prose sections preserved across regeneration. */
  private val StaticSections: String = "\n" + """## Core-count scaling (CoreScale harness, r22)

`runMain graft.CoreScale <mult>` times the four heavy operator shapes
(minhashPairs, jaccardPairsExact, repeatedSpans, embeddingPairs at the
q65 low-threshold banding) at a replication multiple under
`local[$SPARK_GRAFT_CPUS]` — best of 2 reps after a warmup, with a
per-op stage/task/taskTime listener. Measured on the 32-core bench host
(1 thread/core, fixed 24 GB heap at both core counts):

| op | mult | 8c s | 32c s | 32c/8c speedup |
|---|---|---|---|---|
| minhash_pairs | 64 | 17.91 | 9.75 | 1.8x |
| jaccard_exact | 64 | 12.88 | 9.96 | 1.3x |
| repeated_spans | 64 | 10.05 | 5.16 | 1.9x |
| embedding_pairs | 64 | 12.08 | 12.11 | 1.0x |
| minhash_pairs | 256 | 38.32 | 21.06 | 1.8x |
| jaccard_exact | 256 | 33.99 | 18.33 | 1.9x |
| repeated_spans | 256 | 32.05 | 16.21 | 2.0x |
| embedding_pairs | 256 | 40.88 | 29.24 | 1.4x |

These ratios are AFTER fixing the dominant scaling bug (the 100-entry
codegen class cache, below — before the fix the 64x ratios were
1.0–1.5x and summed task time inflated 2–4.5x at 32 threads from tasks
blocking on the compile-cache KeyLock). What still caps one-JVM scaling,
from thread dumps: serial driver planning between AQE stages (all task
threads park while one thread runs Analyzer/RuleExecutor), 32 finishing
map tasks serializing on the per-JVM IndexShuffleBlockResolver commit
lock, and allocator contention from 32 concurrent explode-heavy tasks
sharing one heap. All three are single-JVM local-mode artifacts; a
cluster runs many 4-8-core executor JVMs, which is the deployment shape
the conf recipe below assumes. embedding_pairs is driver-planning-bound
end to end at these sizes (its 33 AQE stages re-plan between every
stage; task occupancy is <40% even at 8 cores), so its wall is nearly
constant in core count by construction.

## 100 TB cluster conf recipe

The engine's mains take their session from `graft.GraftSession`; a
cluster deployment should carry these over and scale the sizes. The
three AQE lines are Spark 4.1 defaults, listed because the skew handling
below depends on them:

```
spark.sql.adaptive.enabled=true                  # Spark default; runtime re-planning
spark.sql.adaptive.skewJoin.enabled=true         # Spark default; split hot partitions
spark.sql.adaptive.advisoryPartitionSizeInBytes=64m  # Spark default
spark.sql.shuffle.partitions=<2-3x total executor cores>
spark.sql.files.maxPartitionBytes=128m           # scan-side task sizing
spark.sql.codegen.cache.maxEntries=5000          # see below
```

The engine's optimizer rules, planner strategies and SQL functions are
not a conf line: call `graft.GraftSession.install(spark)` on the live
session (`GraftSession(...)` does it for the engine's own sessions). It
adds the rules through `spark.experimental`, so they run in Spark's
"User Provided Optimizers" batch, after every other operator
optimization, as in every oracle run, bench and test; a rule given to
`spark.sql.extensions` would run in the earlier operator-optimization
batches instead.

`codegen.cache.maxEntries`: the default 100-entry generated-class cache
thrashes on a many-operator pipeline (one heavy pair-join query alone
generates ~100+ codegen'd classes), so classes recompile on every
execution — and each Janino compile serializes every concurrent task of
its stage on the compile-cache KeyLock (32-thread dumps on the r22 bench
host read ~19/32 task threads BLOCKED there; raising the bound cut the
repeated-spans operator 9.3→5.2 s at 64x replication). The cache is
per-executor-JVM and class objects are small; 5000 entries is a few
hundred MB of metaspace at worst and right-sizes it for a pipeline that
runs hundreds of distinct operators per session.

Why it matters here specifically: the grid spatial join shuffles on a
spatial CELL key, and real-world geometry is never uniform — one urban
cell can carry orders of magnitude more rows than the median
(`SpatialJoinSpec`'s "AQE splits a skewed grid-join cell" demonstrates a
98%-hot cell being split by AQE while results stay exact). Grid sizing
already bounds the duplication factor (`SpatialJoin.computeGrid` keeps
cells ≥ 2× the average bbox edge), AQE then handles the residual skew at
runtime — no salting pass needed on the spatial path. The LSH band joins
shuffle on (band, minhash-key) where hot keys mean genuinely-duplicated
content; AQE splits those buckets the same way while the verify step
keeps precision exact.

At 100 TB the advisory size is the knob that matters: 64 MB post-shuffle
partitions keep the per-task geometry refine (JTS decode + prepared-
geometry probe) inside executor memory next to the RefineCache, while
`maxPartitionBytes` keeps scan tasks small enough that bbox row-group
pruning (PushedFilters via BboxFastPath / GeoParquet covering stats)
actually skips IO rather than reading 1 GB splits for a 1% selection.

## Interchange formats at scale

The XML-family drivers (KML/GML/GPX) and the other single-file formats
(Shapefile/GPKG/FlatGeobuf) are INTERCHANGE formats: parallelism is per
FILE (one streaming parser per task), and attribute-schema inference
costs one extra pass over the parsed property strings. That is the right
cost model for their real use — ingesting a corpus of many modest files —
but none of them is a 100 TB analytics substrate: the engine's posture is
convert once to GeoParquet (`GeoIO.readFile(...)` →
`GeoParquet.write(...)`, which adds the covering bbox column + row-group
stats) and run every repeated query against that. The per-partition
writers (`writePartitioned`) exist so the conversion in BOTH directions
stays distributed.

## Hamming banding posture (the row above, and its 1e9-sig regime)

The hamming join/pairs rows measure the round-18 multi-index plan
(maxHamming/2 + 1 chunks, probe side expanded with every single-bit
flip): the probe shuffle is a bounded 64+c rows per DISTINCT signature
regardless of maxHamming, band keys are 64/c >= ~13 bits, and the
candidate join is pinned shuffle-hash building on the (~65x smaller)
index side. At this suite's scales that keeps candidates output-bound
(11.2 -> 2.2 ratio at 16x). The honest asymptote: with ~1e9 DISTINCT
random signatures even 21-bit buckets hold ~500 sigs and candidate
volume turns quadratic again; the known continuation (same Norouzi et
al. construction) is radius-2 expansion over 2 x 32-bit chunks —
C(32,<=2) = 529 probe rows per sig buys 2^32 buckets. That regime is a
parameter flip on the same equi-join shape, not a redesign; it is not
wired because every measured workload (and any duplicate-HEAVY corpus,
where distinct sigs << rows) sits far below it.
"""

  private implicit class FullCountOps(df: DataFrame) {
    /** measured action: full-plan execution (see Bench.fullCount — a plain
      * count() lets Catalyst prune the unique-key left joins many ops end in) */
    def fullCount: Long = Bench.fullCount(df)
  }

  def main(args: Array[String]): Unit = {
    val sf = "/root/testdata/sf0.1"
    val spark = GraftSession(32)
    import graft.functions.GeoFunctions._

    def pts(mult: Int): DataFrame = {
      val c = replicate(spark.read.parquet(s"$sf/customer.parquet"), mult, Seq("c_custkey"))
      c.withColumn("px", (col("c_custkey") * 7 % 1000).cast("double") / 10.0)
        .withColumn("py", (col("c_custkey") * 13 % 1000).cast("double") / 10.0)
        .withColumn("geometry", st_point(col("px"), col("py")))
    }
    val cells = spark.read.parquet(s"$sf/nation.parquet")
      .withColumn("geometry", st_makebox(
        (col("n_nationkey") % 5 * 20).cast("double"), (floor(col("n_nationkey") / 5.0) * 20).cast("double"),
        (col("n_nationkey") % 5 * 20 + 20).cast("double"), (floor(col("n_nationkey") / 5.0) * 20 + 20).cast("double")))
    def docs(mult: Int): DataFrame =
      replicate(spark.read.parquet(s"$sf/documents.parquet"), mult, Seq("doc_id"))
    def embs(mult: Int): DataFrame =
      replicate(spark.read.parquet(s"$sf/embeddings.parquet"), mult, Seq("vec_id"))
    def eventsNs(mult: Int): DataFrame =
      graft.ops.TemporalJoin.withNanos(
        replicate(spark.read.parquet(s"$sf/events.parquet"), mult, Seq("event_id")), "ts", "t")

    /** Zipf-clustered points: u³ over 100 cells concentrates ~20% of the
      * corpus in cell 0 and a long sparse tail — cluster centers 100 apart,
      * 1×1 jitter. The worst realistic shape for the unbounded nearest
      * join's radius expansion (hot clusters resolve in round 1; points in
      * clusters with no nearby build geometry force extra rounds). */
    def clusteredPts(mult: Int): DataFrame = {
      val c = replicate(spark.read.parquet(s"$sf/customer.parquet"), mult, Seq("c_custkey"))
      val u = (col("c_custkey") % 997).cast("double") / 997.0
      c.withColumn("cl", floor(pow(u, 3.0) * 100).cast("long"))
        .withColumn("geometry", st_point(
          (col("cl") % 10).cast("double") * 100.0 + (col("c_custkey") % 89).cast("double") / 89.0,
          floor(col("cl") / 10).cast("double") * 100.0 + (col("c_custkey") % 83).cast("double") / 83.0))
        .select(col("c_custkey"), col("geometry"))
    }
    // build side: same Zipf layout but EVEN cells only — every odd-cell
    // probe's nearest neighbour is >=99 units away, past the first ring
    val clusteredRefs: DataFrame = {
      val s = spark.read.parquet(s"$sf/supplier.parquet")
      val u = (col("s_suppkey") % 997).cast("double") / 997.0
      s.withColumn("cl", (floor(pow(u, 3.0) * 50) * 2).cast("long"))
        .withColumn("geometry", st_point(
          (col("cl") % 10).cast("double") * 100.0 + (col("s_suppkey") % 89).cast("double") / 89.0,
          floor(col("cl") / 10).cast("double") * 100.0 + (col("s_suppkey") % 83).cast("double") / 83.0))
        .select(col("s_suppkey"), col("geometry"))
    }

    case class M(op: String, rows: Long, secs: Double)
    val out = scala.collection.mutable.ArrayBuffer[M]()
    val nnRounds = scala.collection.mutable.LinkedHashMap[Int, Int]()
    // diagnostic filter: SPARK_GRAFT_SCALE_ONLY="substring" runs matching
    // workloads only (and skips the SCALE.md rewrite — partial tables lie)
    val onlyOp = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
    /** Run `f` with the CC local-fast-path guard disabled, so a scale row
      * measures the DISTRIBUTED star loop at every multiple. */
    def ccLoopOnly[T](f: => T): T = {
      spark.conf.set("spark.graft.cc.localEdgeLimit", "0")
      try f finally spark.conf.unset("spark.graft.cc.localEdgeLimit")
    }
    def bench(op: String, mult: Int, warm: Boolean = true)(f: => (Long, Long)): Unit = {
      if (!onlyOp.forall(op.contains(_))) return
      if (warm) { try f catch { case scala.util.control.NonFatal(_) => () } }
      val t0 = System.nanoTime()
      val (rows, _) = f
      out += M(s"$op @${mult}x", rows, (System.nanoTime() - t0) / 1e9)
      println(f"[scale] $op @${mult}x rows=$rows ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      // drop state the workload left behind (cached plans, localCheckpoint
      // blocks from the multi-round joins): without this, later workloads
      // measure eviction churn from earlier ones' storage, not their own
      // plan — the @16x embedding row read 4x worse from exactly that
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // ContextCleaner reclaims shuffle files/broadcasts only when their
      // weak refs are collected — without a GC nudge a long run's tail
      // measures the accumulated spill of every earlier workload
      System.gc()
    }

    for (mult <- Seq(1, 4, 16)) {
      bench("sjoin broadcast pts-in-cells", mult) {
        val j = graft.join.SpatialJoin.sjoin(pts(mult), cells, "intersects", "inner")
        (j.fullCount, 0L)
      }
      bench("sjoin grid pts-in-cells", mult) {
        val j = graft.join.SpatialJoin.sjoin(pts(mult), cells, "intersects", "inner", broadcastThreshold = -1)
        (j.fullCount, 0L)
      }
      bench("dissolve by nation", mult) {
        val d = pts(mult).groupBy("c_nationkey").agg(graft.agg.GeoAggregates.st_union_agg(col("geometry")))
        (d.fullCount, 0L)
      }
      bench("minhash fast pairs", mult) {
        (graft.ops.Dedup.minhashPairsFast(docs(mult), "doc_id", "text", 3, 16, 4, 0.95).fullCount, 0L)
      }
      bench("edit distance pairs prefix16", mult) {
        // replication turns every 16-char prefix into an N-member exact-dup
        // group, so output grows ~N² by construction (cross pairs ×N² +
        // C(N,2) within pairs per distinct prefix); the distinct-string
        // collapse must keep blocking+refine work CONSTANT across
        // multiples — time should track the output expansion joins only
        (graft.ops.Dedup.editDistancePairs(
          docs(mult).select(col("doc_id"), substring(col("text"), 1, 16).as("p")),
          "doc_id", "p", maxEdits = 3).fullCount, 0L)
      }
      bench("exact dedup", mult) {
        (graft.ops.Dedup.exact(docs(mult), "doc_id", "text").fullCount, 0L)
      }
      bench("jaccard exact pairs", mult) {
        // exact prefix-filter set-similarity join: replication multiplies
        // members per distinct shingle set, so blocking+verify must stay
        // constant (rep-level) while only the member expansion grows
        (graft.ops.Dedup.jaccardPairsExact(docs(mult), "doc_id", "text", 3, 0.5).fullCount, 0L)
      }
      bench("contamination overlap", mult) {
        val all = docs(mult)
        (graft.ops.Dedup.contaminationOverlap(
          all.filter(col("doc_id") % 97 =!= 0), all.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 2, minOverlap = 20).fullCount, 0L)
      }
      bench("paragraph span dedup", mult) {
        // replication makes every paragraph corpus-hot at 4x/16x — worst-case
        // hot-set size for the anti-join; output = every doc (left join back)
        (graft.ops.Dedup.dropRepeatedParagraphs(docs(mult), "doc_id", "text",
          maxOccurrences = 2).fullCount, 0L)
      }
      bench("pii redaction", mult) {
        // map-side scalar chain; the filter on the computed columns keeps
        // Catalyst from pruning the regexp work under count()
        val raw = concat(lit("u"), col("doc_id").cast("string"), lit("@mail-x.com "),
          col("text"), lit(" see https://ex.org/p?q="), col("doc_id").cast("string"),
          lit(" or call 555-123-4567 now"))
        val r = docs(mult).select(
          graft.functions.TextFunctions.piiEmailCount(raw).as("ne"),
          length(graft.functions.TextFunctions.redactPii(raw)).as("lr"))
        (r.filter(col("ne") + col("lr") >= 0).fullCount, 0L)
      }
      bench("domain blocklist filter", mult) {
        val raw = concat(col("text"), lit(" see https://Site"),
          (col("doc_id") % 5).cast("string"), lit(".Example.com/p and http://blocked"),
          (col("doc_id") % 3).cast("string"), lit(".org/x"))
        val r = docs(mult).select(
          size(graft.functions.TextFunctions.urlHosts(raw)).as("n_urls"),
          graft.functions.TextFunctions.hasBlockedDomain(raw, Seq("blocked0.org")).as("blocked"))
        (r.filter(col("n_urls") + when(col("blocked"), 1).otherwise(0) >= 0).fullCount, 0L)
      }
      bench("unigram LM score", mult) {
        // two aggregation shuffles + one vocab equi-join; replication keeps
        // the vocabulary CONSTANT while occurrences grow N× — time must
        // track occurrences (the tf reduction), not vocab join fanout
        (graft.ops.LmQuality.unigramNllScore(docs(mult), "doc_id", "text").fullCount, 0L)
      }
      bench("dsir importance weights", mult) {
        // model fit = ≤64-row aggregations; scoring joins a broadcast ratio
        // table — the corpus is traversed twice and never shuffled wide
        val all = docs(mult)
        (graft.ops.LmQuality.importanceWeights(all, all.filter(col("lang") === "en"),
          "doc_id", "text", buckets = 64).fullCount, 0L)
      }
      bench("semdedup embedding cells", mult) {
        // replication clones every vector N times -> each clone set shares a
        // cell and pairs at cosine 1, so the within-cell join's work grows
        // ~N^2 per clique BY DESIGN (the dups to find are themselves N^2);
        // output stays one row per input
        (graft.ops.Dedup.semDedup(embs(mult), "vec_id", "embedding",
          clusters = 16, tau = 0.9).fullCount, 0L)
      }
      bench("cdc chunk dedup", mult) {
        // map-side chunking + two hash aggs on the uniform chunk key — must
        // track rows ~linearly; replication multiplies every chunk's owner
        // count, not the distinct-chunk domain
        (graft.ops.Dedup.cdcDedupStats(docs(mult), "doc_id", "text", k = 8).fullCount, 0L)
      }
      bench("token budget mixing", mult) {
        // sharded per-domain prefix sums: window partitions stay at
        // domain/16 rows, offsets broadcast back
        (graft.ops.Sampling.tokenBudgetMix(docs(mult), "doc_id", "text", "source",
          budgets = Map("src0" -> 500L), defaultBudget = 800L).fullCount, 0L)
      }
      bench("bpe train 5 merges", mult) {
        // corpus-scale word-freq shuffle + vocab-bounded merge loop;
        // replication repeats text so the vocabulary is CONSTANT — time must
        // track the counting pass, not the loop
        (graft.ops.Bpe.train(docs(mult), "text", numMerges = 5).length.toLong, 0L)
      }
      bench("bpe train 256 merges distributed", mult) {
        // the >1M-vocab path FORCED (threshold 0): one full pair-count
        // aggregation, then exact driver-side counts + one small delta job
        // per merge batch — per-merge cost must NOT carry a full
        // aggregate+sort job (the round-17 scheduler-DoS finding)
        (graft.ops.Bpe.train(docs(mult), "text", numMerges = 256,
          localVocabThreshold = 0L).length.toLong, 0L)
      }
      bench("sjoin_nearest unbounded clustered", mult) {
        // the one §2.4 operator that had no measured scaling row: forced
        // down the distributed radius-doubling path (broadcastThreshold=-1,
        // no max_distance) on the Zipf-clustered worst case
        val j = graft.join.SJoinNearest.sjoinNearest(clusteredPts(mult), clusteredRefs,
          how = "inner", distanceCol = Some("d"), broadcastThreshold = -1)
        val n = j.fullCount
        nnRounds(mult) = graft.join.SJoinNearest.lastAutoRounds.get()
        (n, 0L)
      }
      bench("bm25 scoring", mult) {
        // literal term filter in the exploded projection: only matching
        // (doc, term) rows shuffle; df + corpus stats broadcast back —
        // time must track the scan, near-linearly
        (graft.ops.Retrieval.bm25Scores(docs(mult), "doc_id", "text",
          Seq("spark", "hash", "window")).fullCount, 0L)
      }
      bench("bloom sketch + probe", mult) {
        // sketch cardinality is bounded by bits REGARDLESS of corpus size
        // (replication repeats text → identical buckets), probe is a
        // broadcast join after a ≤hashes-row explode — linear in rows
        val all = docs(mult)
        val sk = graft.ops.Dedup.bloomSketch(all.filter(col("doc_id") % 3 =!= 0),
          "text", bits = 1 << 18, hashes = 3)
        (graft.ops.Dedup.bloomNovel(all, sk, "doc_id", "text",
          bits = 1 << 18, hashes = 3).fullCount, 0L)
      }
      bench("kmeans 3-iter build + assign", mult) {
        // per iteration: one map-side broadcast assignment scan + a
        // partial-agg groupBy reducing to k·dim doubles — 3 iterations =
        // 3 scans + the final assignment pass, linear in rows
        val e = embs(mult)
        val cents = graft.ops.Similarity.kmeansCentroids(e, "vec_id", "embedding",
          k = 16, iters = 3)
        (graft.ops.Similarity.withIvfCell(e, "embedding", cents, "cell").fullCount, 0L)
      }
      bench("incremental minhash probe", mult) {
        // the stored-signature shape: only signatures band and join; time
        // must track row count (signature computation + band join), with
        // output growing as replication plants cross-slice clone pairs
        val all = docs(mult)
        val oldSigs = graft.ops.Dedup.minhashSignatureTable(
          all.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", k = 2)
        val newSigs = graft.ops.Dedup.minhashSignatureTable(
          all.filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 2)
        (graft.ops.Dedup.minhashPairsIncremental(newSigs, oldSigs, "doc_id",
          threshold = 0.9).fullCount, 0L)
      }
      bench("box predicates fused scan", mult) {
        // constructed-box intersects/contains over the full lineitem scan,
        // fused by GeomSimplify to interval kernels (PLANS.md dump) — the
        // telemetry-bbox shape at 100 TB. Compare with the "wkb path" row:
        // same predicates over boxes fenced from the rule, so every row
        // pays WKB write+parse+JTS.
        val l = replicate(spark.read.parquet(s"$sf/lineitem.parquet"), mult, Seq("l_orderkey"))
        val withBoxes = l
          .withColumn("box_a", st_makebox((col("l_partkey") % 50).cast("double"),
            (col("l_suppkey") % 50).cast("double"),
            (col("l_partkey") % 50 + 2).cast("double"), (col("l_suppkey") % 50 + 3).cast("double")))
          .withColumn("box_b", st_makebox((col("l_partkey") * 3 % 50).cast("double"),
            (col("l_suppkey") * 5 % 50).cast("double"),
            (col("l_partkey") * 3 % 50 + 1).cast("double"), (col("l_suppkey") * 5 % 50 + 4).cast("double")))
        val r = withBoxes.select(
          st_intersects(col("box_a"), col("box_b")).as("i"),
          st_contains(col("box_a"), col("box_b")).as("c"))
        (r.filter(col("i") || col("c") || lit(true)).fullCount, 0L)
      }
      bench("box predicates wkb path", mult) {
        val l = replicate(spark.read.parquet(s"$sf/lineitem.parquet"), mult, Seq("l_orderkey"))
        // fenced, so GeomSimplify cannot fuse the predicates over the
        // constructed boxes: every row pays WKB write + parse
        val withBoxes = graft.plans.Fence(l
          .withColumn("box_a", st_makebox((col("l_partkey") % 50).cast("double"),
            (col("l_suppkey") % 50).cast("double"),
            (col("l_partkey") % 50 + 2).cast("double"), (col("l_suppkey") % 50 + 3).cast("double")))
          .withColumn("box_b", st_makebox((col("l_partkey") * 3 % 50).cast("double"),
            (col("l_suppkey") * 5 % 50).cast("double"),
            (col("l_partkey") * 3 % 50 + 1).cast("double"), (col("l_suppkey") * 5 % 50 + 4).cast("double"))))
        val r = withBoxes.select(
          st_intersects(col("box_a"), col("box_b")).as("i"),
          st_contains(col("box_a"), col("box_b")).as("c"))
        (r.filter(col("i") || col("c") || lit(true)).fullCount, 0L)
      }
      bench("total bounds fused agg", mult) {
        // st_total_bounds_agg over a CONSTRUCTED point column: GeomSimplify
        // rewrites the UDAF to four columnar min/max aggregates (+ sign-of-
        // zero flags) — the whole scan stays in whole-stage codegen, no
        // WKB object is ever built. Compare with the "wkb agg" row below.
        // On lineitem (the big table) so the per-row kernel cost dominates
        // the measurement rather than the scan of a small table.
        val l = replicate(spark.read.parquet(s"$sf/lineitem.parquet"), mult, Seq("l_orderkey"))
        val g = l.withColumn("geometry", st_point(
          (col("l_partkey") * 7 % 1000).cast("double") / 10.0,
          (col("l_suppkey") * 13 % 1000).cast("double") / 10.0))
        (g.agg(graft.agg.GeoAggregates
          .st_total_bounds_agg(col("geometry"))).fullCount, 0L)
      }
      bench("total bounds wkb agg", mult) {
        // same aggregate over points fenced from the rule: every row pays
        // WKB write + parse + envelope fold
        val l = replicate(spark.read.parquet(s"$sf/lineitem.parquet"), mult, Seq("l_orderkey"))
        val g = graft.plans.Fence(l.withColumn("geometry", st_point(
          (col("l_partkey") * 7 % 1000).cast("double") / 10.0,
          (col("l_suppkey") * 13 % 1000).cast("double") / 10.0)))
        (g.agg(graft.agg.GeoAggregates
          .st_total_bounds_agg(col("geometry"))).fullCount, 0L)
      }
      bench("knn graph selective banding", mult) {
        // the adaptive knnJoin defaults (20-bit band keys, tables solved
        // from the 0.9/0.9 threshold/recall target): replication clones
        // every vector, so banding work stays bounded by DISTINCT vectors
        // (clone collapse) while each clone's true top-k (its clones at
        // cosine 1) must still surface — time must track rows, not pairs²
        (graft.ops.Similarity.knnJoin(embs(mult), "vec_id", "embedding", k = 3).fullCount, 0L)
      }
      bench("connected components uniform", mult) {
        // baseline CC shape: short chains (o_orderkey -> +1 within groups of
        // 8) — many small components, no skew. These rows PIN THE
        // DISTRIBUTED star loop (local-fast-path guard disabled): at 16x
        // the edge set crosses the r21 local-union-find guard anyway, and
        // a row whose 1x/4x points measure the fast path while 16x measures
        // the loop would report a meaningless scaling ratio. The fast
        // path's own win is benchmarked by q112/q149/q150/q152.
        ccLoopOnly {
          val o = replicate(spark.read.parquet(s"$sf/orders.parquet"), mult, Seq("o_orderkey"))
          val pairs = o.filter(col("o_orderkey") % 8 =!= 7)
            .select(col("o_orderkey").as("id_a"), (col("o_orderkey") + 1).as("id_b"))
          (graft.ops.Dedup.connectedComponents(pairs).fullCount, 0L)
        }
      }
      bench("connected components hub-skew", mult) {
        // adversarial star: ONE hub node linked to every order key (the
        // boilerplate-corpus shape — a template paragraph pairing with
        // millions of documents). The groupBy-min + AQE-splittable-join
        // formulation must hold here; the window formulation it replaced
        // would pin the hub's whole neighborhood into a single task
        ccLoopOnly {
          val o = replicate(spark.read.parquet(s"$sf/orders.parquet"), mult, Seq("o_orderkey"))
          val pairs = o.select(lit(0L).as("id_a"), col("o_orderkey").as("id_b"))
          (graft.ops.Dedup.connectedComponents(pairs).fullCount, 0L)
        }
      }
      bench("stratified sample + pack", mult) {
        val g = docs(mult).withColumn("grp", (col("doc_id") % 3).cast("string"))
        val s = graft.ops.Sampling.stratifiedSample(g, "doc_id", "grp",
          Map("0" -> 0.5, "1" -> 0.2), defaultFraction = 0.05)
        (graft.ops.Sampling.packSequences(s, "doc_id", "text",
          budgetTokens = 512, shards = 1024).fullCount, 0L)
      }
      // stored-table ANN scan pair: both sides written once per mult (the
      // encode is a write-time cost), the bench measures the probe scan —
      // the int8 table is ~4x fewer bytes for the same top-k
      locally {
        val sc = 0.015625
        val e = replicate(spark.read.parquet(s"$sf/embeddings.parquet"), mult, Seq("vec_id"))
        val fPath = s"/tmp/graft_scale_femb_$mult"
        val qPath = s"/tmp/graft_scale_qemb_$mult"
        e.select(col("vec_id"), col("embedding"))
          .write.mode("overwrite").parquet(fPath)
        e.select(col("vec_id"),
            graft.ops.Similarity.quantizeI8(col("embedding"), sc).as("qe"))
          .write.mode("overwrite").parquet(qPath)
        val qv = spark.read.parquet(s"$sf/embeddings.parquet")
          .filter(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0)
        bench("brute topk float32 stored", mult) {
          (graft.ops.Similarity.bruteForceTopK(
            spark.read.parquet(fPath), "embedding", qv, 10).fullCount, 0L)
        }
        bench("brute topk int8 stored", mult) {
          (graft.ops.Similarity.quantizedTopK(
            spark.read.parquet(qPath), "qe", qv, 10, sc).fullCount, 0L)
        }
      }
      bench("kcenter coreset k=6", mult) {
        // k-1 corpus scans with literal center vectors fused in — time must
        // track rows (each pick is one TakeOrderedAndProject pass), never
        // pairs; replication clones vectors so the chosen panel is stable
        // across mult (clones are distance 0 to each other, never picked)
        (graft.ops.Similarity.kCenterGreedy(
          replicate(spark.read.parquet(s"$sf/embeddings.parquet"), mult, Seq("vec_id")),
          "vec_id", "embedding", k = 6).fullCount, 0L)
      }
      bench("cluster-aware split", mult) {
        // connected components over chain edges + one label join + the
        // map-side md5 draw on the cluster label — must track the CC rows
        // (distributed loop pinned, same reason as the CC rows above)
        ccLoopOnly {
          val o = replicate(spark.read.parquet(s"$sf/orders.parquet"), mult, Seq("o_orderkey"))
          val pairs = o.filter(col("o_orderkey") % 8 =!= 7)
            .select(col("o_orderkey").as("id_a"), (col("o_orderkey") + 1).as("id_b"))
          (graft.ops.Dedup.clusterAwareSplit(
            o.select(col("o_orderkey").as("id")), pairs, "id", valFraction = 0.1)
            .fullCount, 0L)
        }
      }
      bench("asof join keyed", mult) {
        // replication multiplies rows PER USER (event ids remapped, user
        // ids kept), so the window partitions deepen N x — time must track
        // rows through the single union+window shuffle, never pairs
        val ev = eventsNs(mult)
        val l = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("lid"), col("user_id"), col("t"))
        val r = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("rid"), col("user_id"), col("value"), col("t"))
        (graft.ops.TemporalJoin.asofJoin(l, r, "t", "t",
          by = Seq("user_id"), how = "inner").fullCount, 0L)
      }
      bench("asof join keyless", mult) {
        // the bucket+carry reduction: parallelism comes from the 256 time
        // buckets, so N x rows spread over the same buckets — flat ratio
        // expected (the 2-row bounds agg and <=258-row carry are constant)
        val ev = eventsNs(mult)
        val l = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("lid"), col("t"))
        val r = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("rid"), col("t"))
        (graft.ops.TemporalJoin.asofJoinKeyless(l, r, "t", "t",
          tolerance = Some(600L * 1000000000L)).fullCount, 0L)
      }
      bench("interval overlap binned", mult) {
        // first-shared-bin claim dedup (q167/q179 shape): a-intervals
        // replicate N x against a FIXED b set, so candidates grow with the
        // bin co-occupancy, and each overlapping pair is emitted exactly
        // once (claimed at its first shared bin) — no post-join distinct
        val ev = eventsNs(mult)
        val a = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("aid"), col("t").as("a0"),
            (col("t") + 900L * 1000000000L).as("a1"))
        val b = eventsNs(1).filter(col("event_type") === "signup")
          .select(col("event_id").as("bid"), col("t").as("b0"),
            (col("t") + 1800L * 1000000000L).as("b1"))
        (graft.ops.TemporalJoin.intervalOverlapJoin(a, "a0", "a1", b, "b0", "b1")
          .fullCount, 0L)
      }
      bench("embedding join corpus-vs-ref", mult) {
        // q162's semantic-decontamination shape at its own exhaustive
        // low-threshold banding (4 planes/band x 48 tables): corpus
        // embeddings N x vs a fixed reference slice. Replication repeats
        // vectors, so the rep-level band join + cosine verify is CONSTANT
        // (distinct vectors unchanged) and only the member expansion and
        // the content-key map grow — the duplication-proof claim measured
        val r = spark.read.parquet(s"$sf/embeddings.parquet")
          .filter(col("vec_id") % 7 === 0)
          .select((col("vec_id") + 100000000L).as("rid"), col("embedding"))
        (graft.ops.Dedup.embeddingJoin(embs(mult), "vec_id", "embedding",
          r, "rid", "embedding", planes = 192, bands = 48, threshold = 0.45)
          .fullCount, 0L)
      }
      bench("edit distance join prefix16", mult) {
        // q161's record-linkage shape: corpus prefixes N x vs a fixed
        // shifted-prefix reference list at maxEdits=3 — PassJoin blocks
        // and refines once per DISTINCT string pair (replication adds
        // copies, not strings), member pairs expand output-bound
        val l = docs(mult).select(col("doc_id"), substring(col("text"), 1, 16).as("p"))
        val r = spark.read.parquet(s"$sf/documents.parquet")
          .filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000000L).as("rid"),
            substring(col("text"), 2, 16).as("q"))
        (graft.ops.Dedup.editDistanceJoin(l, "doc_id", "p", r, "rid", "q",
          maxEdits = 3).fullCount, 0L)
      }
      bench("jaccard join corpus-vs-ref", mult) {
        // q163's decontamination shape: corpus N x vs the fixed truncated
        // reference slice at recall 1 — the prefix filter blocks and
        // verifies once per DISTINCT set pair; only member expansion grows
        val toksC = graft.functions.TextFunctions.tokens(col("text"))
        val all = docs(mult)
        val ref = spark.read.parquet(s"$sf/documents.parquet")
          .filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 2000000L).as("rid"),
            array_join(slice(toksC, lit(1), greatest(size(toksC) - 5, lit(3))), " ").as("text"))
        (graft.ops.Dedup.jaccardJoin(all, "doc_id", "text", ref, "rid", "text",
          k = 3, threshold = 0.5).fullCount, 0L)
      }
      bench("range join binned", mult) {
        // intervals duplicate N x at identical spans, so output grows N²
        // by construction (every point matches every copy) — time must
        // track the OUTPUT, not candidate volume: the bin equi-join's
        // probe work per pair is constant
        val ev = eventsNs(mult)
        val pts = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("pid"), col("t"))
        val iv = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("ivid"), col("t").as("w0"),
            (col("t") + 1800L * 1000000000L).as("w1"))
        (graft.ops.TemporalJoin.rangeJoin(pts, "t", iv, "w0", "w1").fullCount, 0L)
      }
      bench("heavy hitters k=200", mult) {
        // the whole point at scale: candidate set stays <= k x partitions
        // regardless of N, the exact recount shuffles candidate
        // occurrences only — time tracks the two corpus scans
        val terms = docs(mult).select(
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        (graft.ops.CorpusStats.heavyHitters(terms, "term", k = 200).fullCount, 0L)
      }
      bench("hamming join sigs", mult) {
        // the JOIN machinery in isolation (signatures are stored columns
        // at production ingest): synthetic md5-derived 16-hex sigs, right
        // side = fixed reference slice with one flipped nibble; banding +
        // verify + expansion must track the distinct-signature set and the
        // output, never corpus size x reference size
        // the join caches its distinct-signature set and verified rep
        // pairs (both feed multiple consumers); clear them so the row
        // measures the one-shot banding cost, not a plan-cache re-read
        spark.sharedState.cacheManager.clearCache()
        val l = docs(mult).select(col("doc_id").as("id"),
          substring(md5(col("doc_id").cast("string")), 1, 16).as("sig"))
        val r = spark.read.parquet(s"$sf/documents.parquet")
          .filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 2000000L).as("rid"),
            concat(substring(md5(col("doc_id").cast("string")), 1, 15), lit("0")).as("sig"))
        (graft.ops.Dedup.hammingJoin(l, "id", "sig", r, "rid", "sig",
          maxHamming = 4).fullCount, 0L)
      }
      bench("pagerank 3 rounds", mult) {
        // modular link graph over replicated doc ids: nodes and edges grow
        // N x, per-round shuffle volume tracks edges; hub in-link skew is
        // AQE's problem (map-side partial sums pre-combine per partition)
        val ids = docs(mult).select(col("doc_id").as("id"))
        val live = ids.filter(col("id") % 11 =!= 0)
        val e = live.select(col("id").as("src"), (col("id") * 7 + 1).as("dst"))
          .unionByName(live.select(col("id").as("src"), (col("id") * 3 + 2).as("dst")))
        (graft.ops.LinkGraph.pageRank(e, "src", "dst", iterations = 3).fullCount, 0L)
      }
      bench("minhash join corpus-vs-ref", mult) {
        // corpus N x vs fixed reference slice: rep-level banding+verify is
        // constant under replication (distinct content unchanged); only
        // the member expansion grows
        val all = docs(mult)
        val ref = spark.read.parquet(s"$sf/documents.parquet")
          .filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 2000000L).as("rid"), col("text"))
        (graft.ops.Dedup.minhashJoin(all, "doc_id", "text", ref, "rid", "text",
          k = 3, numHashes = 16, bands = 4, threshold = 0.9).fullCount, 0L)
      }
    }

    // Auto-planned predicate join vs the explicit grid sjoin on the SAME
    // stored-WKB parquet (r14 verdict #5): both sides round-trip through
    // parquet so the join really is the stored-geometry shape the
    // AutoSpatialJoin rule rewrites (nothing constructed for GeomSimplify
    // to fuse), and the explicit row uses the identical data so the delta
    // isolates the rewrite's own overhead (optimizer-time plumbing, UDF
    // cell explode, cached refine) from the shared grid machinery.
    if (onlyOp.forall(o => "auto predicate join stored".contains(o) ||
        "sjoin grid stored".contains(o))) {
      val asjTmp = java.nio.file.Files.createTempDirectory("graft_scale_asj").toString
      cells.select(col("n_nationkey"), col("geometry").as("cell_geom"))
        .write.mode("overwrite").parquet(s"$asjTmp/cells")
      for (mult <- Seq(1, 4, 16)) {
        pts(mult).select(col("c_custkey"), col("geometry"))
          .write.mode("overwrite").parquet(s"$asjTmp/pts_$mult")
        val sp = spark.read.parquet(s"$asjTmp/pts_$mult")
        val sc = spark.read.parquet(s"$asjTmp/cells")
        bench("auto predicate join stored", mult) {
          (sp.join(sc, st_intersects(col("geometry"), col("cell_geom"))).fullCount, 0L)
        }
        bench("sjoin grid stored", mult) {
          (graft.join.SpatialJoin.sjoin(sp, sc, "intersects", "inner",
            leftGeom = "geometry", rightGeom = "cell_geom",
            broadcastThreshold = -1).fullCount, 0L)
        }
      }
    }

    // Pre-gridded bucket-co-located storage (join/Gridded): the write-once
    // cell layout moves grid stats, bbox compute, cell explode AND the
    // join shuffle to write time — the steady-state probe is a
    // zero-Exchange sort-merge over co-located buckets. Compare against
    // the per-call "sjoin grid" rows above: same data, same join, no
    // per-join setup.
    if (onlyOp.forall(o => "gridded co-located sjoin".contains(o))) {
      val gtmp = java.nio.file.Files.createTempDirectory("graft_scale_gridded").toString
      for (mult <- Seq(1, 4, 16)) {
        val p = pts(mult)
        val spec = graft.join.Gridded.gridFor(p)
        graft.join.Gridded.writeGridded(p, s"scale_gridded_pts_$mult", s"$gtmp/pts_$mult", spec)
        graft.join.Gridded.writeGridded(cells, s"scale_gridded_cells_$mult", s"$gtmp/cells_$mult", spec)
        bench("gridded co-located sjoin", mult) {
          (graft.join.Gridded.sjoinGridded(
            graft.join.Gridded.readGridded(spark, s"scale_gridded_pts_$mult"),
            graft.join.Gridded.readGridded(spark, s"scale_gridded_cells_$mult")).fullCount, 0L)
        }
      }
      for (mult <- Seq(1, 4, 16)) {
        spark.sql(s"DROP TABLE IF EXISTS scale_gridded_pts_$mult")
        spark.sql(s"DROP TABLE IF EXISTS scale_gridded_cells_$mult")
      }
    }

    // Exact substring (repeated-span) dedup: replicas are token-salted so
    // each carries the 1x corpus's duplication profile (cross-replica
    // windows never collide) — a weak-scaling measurement of the real
    // shape: window counting on 8-byte hash keys + candidate join +
    // per-doc merge. The unsalted "fully duplicated" row is the
    // pathological ceiling: EVERY window repeats across replicas, so all
    // positions survive to the merge — output collapses to one whole-doc
    // span per doc, and the measured cost bounds what a worst-case
    // boilerplate corpus can do to the candidate stages.
    def salted(mult: Int): DataFrame = docs(mult)
      .withColumn("__salt", (col("doc_id") / 10000000L).cast("long"))
      .withColumn("text", concat_ws(" ",
        transform(split(trim(col("text")), "\\s+"),
          t => concat(t, lit("_"), col("__salt")))))
      .drop("__salt")
    if (onlyOp.forall(o => "repeated spans salted".contains(o) ||
        "repeated spans fully duplicated".contains(o))) {
      for (mult <- Seq(1, 4, 16)) {
        bench("repeated spans salted", mult) {
          (graft.ops.Dedup.repeatedSpans(salted(mult), "doc_id", "text").fullCount, 0L)
        }
      }
      bench("repeated spans fully duplicated", 4) {
        (graft.ops.Dedup.repeatedSpans(docs(4), "doc_id", "text").fullCount, 0L)
      }
    }

    // 64× stress rows for the two headline dedup paths: the N²-output
    // shapes where extrapolation is least trustworthy — one more 4× step
    // past the table above so the near-flat trend is measured, not assumed
    for (mult <- Seq(64)) {
      bench("minhash fast pairs", mult) {
        (graft.ops.Dedup.minhashPairsFast(docs(mult), "doc_id", "text", 3, 16, 4, 0.95).fullCount, 0L)
      }
      bench("embedding LSH pairs", mult) {
        (graft.ops.Dedup.embeddingPairs(embs(mult), "vec_id", "embedding", threshold = 0.95).fullCount, 0L)
      }
      bench("semdedup embedding cells", mult) {
        // round-20 adjudication tier: every vector gains 64 exact clones,
        // so the pre-collapse plan paid 64^2 within-cell pairs here (161 s
        // measured); the duplication-proof collapse must keep this row
        // near the @16x time
        (graft.ops.Dedup.semDedup(embs(mult), "vec_id", "embedding",
          clusters = 16, tau = 0.9).fullCount, 0L)
      }
      // r20 verdict #6: extend the adjudication tier to the jaccard /
      // edit-distance join family — the heaviest remaining output²
      // shapes, which until now had only 16x evidence
      bench("jaccard exact pairs", mult) {
        (graft.ops.Dedup.jaccardPairsExact(docs(mult), "doc_id", "text", 3, 0.5).fullCount, 0L)
      }
      bench("edit distance join prefix16", mult) {
        val l = docs(mult).select(col("doc_id"), substring(col("text"), 1, 16).as("p"))
        val r = spark.read.parquet(s"$sf/documents.parquet")
          .filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000000L).as("rid"),
            substring(col("text"), 2, 16).as("q"))
        (graft.ops.Dedup.editDistanceJoin(l, "doc_id", "p", r, "rid", "q",
          maxEdits = 3).fullCount, 0L)
      }
      bench("jaccard join corpus-vs-ref", mult) {
        val toksC = graft.functions.TextFunctions.tokens(col("text"))
        val all = docs(mult)
        val ref = spark.read.parquet(s"$sf/documents.parquet")
          .filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 2000000L).as("rid"),
            array_join(slice(toksC, lit(1), greatest(size(toksC) - 5, lit(3))), " ").as("text"))
        (graft.ops.Dedup.jaccardJoin(all, "doc_id", "text", ref, "rid", "text",
          k = 3, threshold = 0.5).fullCount, 0L)
      }
    }

    // ---- snapshot-tier probe economics (r13 verdict #4): a FIXED new
    // batch probes a corpus growing 1x/4x/16x/64x down all three storage tiers
    // (live re-band / bucketed signature snapshot / + pre-banded table),
    // with each tier's one-time build cost, so the break-even batch count
    // that justifies each tier is measured rather than asserted. Signatures
    // land on parquet once per mult for ALL tiers — the live tier's
    // per-probe cost is banding + join, not signature recompute.
    case class Tier(tier: String, mult: Int, probeSecs: Double, buildSecs: Double, rows: Long)
    val tiers = scala.collection.mutable.ArrayBuffer[Tier]()
    if (onlyOp.forall(o => "snapshot tiers".contains(o))) {
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_scale_snap").toString
      // the fixed batch lives on parquet (NOT a localCheckpoint: the
      // per-probe cleanup unpersists every persistent RDD, which would
      // destroy a checkpointed batch between probes)
      graft.ops.Dedup.minhashSignatureTable(
          docs(1).filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 2)
        .write.mode("overwrite").parquet(s"$tmpRoot/batch_sigs")
      val batchSigs = spark.read.parquet(s"$tmpRoot/batch_sigs")
      def probeTier(tier: String, mult: Int, build: Double)(f: => Long): Unit = {
        try f catch { case scala.util.control.NonFatal(_) => () } // warm
        val t0 = System.nanoTime()
        val rows = f
        val secs = (System.nanoTime() - t0) / 1e9
        tiers += Tier(tier, mult, secs, build, rows)
        println(f"[scale] snapshot tier '$tier' @${mult}x probe=$secs%6.2f s build=$build%6.2f s rows=$rows")
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc()
      }
      for (mult <- Seq(1, 4, 16, 64)) {
        val corpusSigs = graft.ops.Dedup.minhashSignatureTable(
          docs(mult).filter(col("doc_id") % 3 =!= 0), "doc_id", "text", k = 2)
        val sigPath = s"$tmpRoot/sigs_plain_$mult"
        corpusSigs.write.mode("overwrite").parquet(sigPath)
        val storedPlain = spark.read.parquet(sigPath)
        probeTier("live re-band", mult, 0.0) {
          graft.ops.Dedup.minhashPairsIncremental(batchSigs, storedPlain, "doc_id",
            threshold = 0.9).fullCount
        }
        val t1 = System.nanoTime()
        graft.ops.Dedup.writeSignatureSnapshot(storedPlain, s"scale_snap_sigs_$mult",
          s"$tmpRoot/b_sigs_$mult", "doc_id", buckets = 32)
        val bucketedBuild = (System.nanoTime() - t1) / 1e9
        val storedBucketed = graft.ops.Dedup.readSignatureSnapshot(spark, s"scale_snap_sigs_$mult")
        probeTier("bucketed snapshot", mult, bucketedBuild) {
          graft.ops.Dedup.minhashPairsIncrementalStored(batchSigs, storedBucketed, "doc_id",
            threshold = 0.9).fullCount
        }
        val t2 = System.nanoTime()
        graft.ops.Dedup.writeBandedSnapshot(storedPlain, s"scale_snap_banded_$mult",
          s"$tmpRoot/b_banded_$mult", "doc_id", buckets = 32)
        // the pre-banded tier needs BOTH tables, so its build cost is additive
        val bandedBuild = bucketedBuild + (System.nanoTime() - t2) / 1e9
        probeTier("pre-banded snapshot", mult, bandedBuild) {
          graft.ops.Dedup.minhashPairsIncrementalBanded(batchSigs, storedBucketed,
            graft.io.Bucketed.read(spark, s"scale_snap_banded_$mult"), "doc_id",
            threshold = 0.9).fullCount
        }
      }
      for (mult <- Seq(1, 4, 16, 64)) {
        spark.sql(s"DROP TABLE IF EXISTS scale_snap_sigs_$mult")
        spark.sql(s"DROP TABLE IF EXISTS scale_snap_banded_$mult")
      }
    }

    // ---- exact-substring window-snapshot economics (q147): a FIXED new
    // batch (the salted 1x doc_id%3==0 slice) probes the window-hash
    // profile of a corpus growing 1x/4x/16x, vs the full repeatedSpans
    // recompute over corpus+batch you'd pay without the snapshot. Replicas
    // are token-salted (cross-replica windows never collide) so the corpus
    // carries the 1x duplication profile, and the batch shares replica 0's
    // salt so its windows genuinely hit the stored profile.
    case class WinTier(mult: Int, buildSecs: Double, probeSecs: Double,
                       fullSecs: Double, rows: Long)
    val winTiers = scala.collection.mutable.ArrayBuffer[WinTier]()
    if (onlyOp.forall(o => "window snapshot".contains(o))) {
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_scale_win").toString
      salted(1).filter(col("doc_id") % 3 === 0)
        .write.mode("overwrite").parquet(s"$tmpRoot/batch")
      val batch = spark.read.parquet(s"$tmpRoot/batch")
      for (mult <- Seq(1, 4, 16)) {
        val corpus = salted(mult).filter(col("doc_id") % 3 =!= 0)
        val t0 = System.nanoTime()
        graft.ops.Dedup.writeWindowSnapshot(corpus, s"scale_winsnap_$mult",
          s"$tmpRoot/wins_$mult", "doc_id", "text", minTokens = 5, buckets = 32)
        val build = (System.nanoTime() - t0) / 1e9
        val stored = graft.io.Bucketed.read(spark, s"scale_winsnap_$mult")
        def probe(): Long = graft.ops.Dedup.repeatedSpansIncrementalStored(
          batch, stored, "doc_id", "text", minTokens = 5).fullCount
        probe() // warm
        val t1 = System.nanoTime()
        val rows = probe()
        val probeSecs = (System.nanoTime() - t1) / 1e9
        def full(): Long = graft.ops.Dedup.repeatedSpans(
          corpus.unionByName(batch), "doc_id", "text", minTokens = 5).fullCount
        full() // warm
        val t2 = System.nanoTime()
        full()
        val fullSecs = (System.nanoTime() - t2) / 1e9
        winTiers += WinTier(mult, build, probeSecs, fullSecs, rows)
        println(f"[scale] window snapshot @${mult}x build=$build%6.2f s probe=$probeSecs%6.2f s full=$fullSecs%6.2f s rows=$rows")
      }
      for (mult <- Seq(1, 4, 16)) spark.sql(s"DROP TABLE IF EXISTS scale_winsnap_$mult")
    }

    // kcenter fixed-overhead adjudication (r18 verdict): one corpus-scale
    // row — if the 16x/1x ratio really is per-job scheduling over k-1 argmax
    // passes (not input-quadratic work), growing the corpus another 4x must
    // move the time by ~4x or less, never ~16x
    bench("kcenter coreset k=6", 64) {
      (graft.ops.Similarity.kCenterGreedy(
        replicate(spark.read.parquet(s"$sf/embeddings.parquet"), 64, Seq("vec_id")),
        "vec_id", "embedding", k = 6).fullCount, 0L)
    }

    val md = new StringBuilder
    md ++= "# SCALE — measured scaling of headline operators\n\n"
    md ++= "sf0.1 tables replicated N× (unique ids), local[32], warm runs (codegen\n"
    md ++= "excluded — see Bench). The ratio column is secs(16×)/secs(1×): ≤ 16 means\n"
    md ++= "the shuffle-bounded plans hold (fixed overhead amortizes); ≫ 16 would\n"
    md ++= "indicate quadratic input work.\n\n"
    md ++= "Reading the dedup rows: replicating the corpus N× turns every document/\n"
    md ++= "vector into an N-member duplicate CLUSTER, so the correct OUTPUT (all\n"
    md ++= "verified pairs) grows ~N² by construction — rows @16x ≈ 3000× rows @1x\n"
    md ++= "for minhash. Time growing far slower than output shows the banded paths\n"
    md ++= "stay bucket-bounded AND duplication-proof: exact-duplicate content is\n"
    md ++= "collapsed before banding and similarity is verified once per DISTINCT\n"
    md ++= "content pair, so cost tracks distinct content plus the pairs that\n"
    md ++= "genuinely exist — never the corpus cross-product (the embedding row is\n"
    md ++= "near-FLAT across 1×/4×/16× for exactly this reason).\n"
    md ++= "q162 rep stability (idle-host protocol, round 19): 7 reps from\n"
    md ++= "load1 3.9 after a double warm-up gave 2.35-2.56 s, spread 1.09x\n"
    md ++= "(median 2.37) — the r18 1.7x rep spread was bench-host load plus\n"
    md ++= "single-warm JIT settling, not plan skew.\n\n"
    md ++= "Round 20 — the r19 `weak` marks re-established and the protocol\n"
    md ++= "HARNESSED: q163_jaccard_join and q168_minhash_join (flagged at\n"
    md ++= "7.30 s / 1.75 s on UNCHANGED code at load1 10.26) re-measured on an\n"
    md ++= "idle host (load0 1.38, 5 reps, median): q163 = 2.36 s, q168 =\n"
    md ++= "0.63 s — below even their r18 medians (3.15 / 0.79), confirming\n"
    md ++= "both flags as load artifacts. The idle-host protocol is now inside\n"
    md ++= "`Bench` itself: the remeasure pass waits (bounded, 600 s cap) for\n"
    md ++= "the 1-min loadavg to drain below 4 before re-running any suspect,\n"
    md ++= "and DOUBLE-warms each one; `settle2` and the remeasure-time load\n"
    md ++= "are recorded in bench_full.json so a contaminated remeasure is\n"
    md ++= "visible instead of silently becoming the number on record.\n\n"
    md ++= "Reading the semdedup row: round 20 made the op duplication-proof\n"
    md ++= "like every other pair path — exact-duplicate embeddings collapse to\n"
    md ++= "one representative per distinct vector (one window shuffle) before\n"
    md ++= "the within-cell pairwise join, and members re-attach by the slim\n"
    md ++= "rep-id key. The @64x adjudication tier EXPOSED the old plan: 64\n"
    md ++= "clones per vector meant 64^2 within-cell pairs, 161 s @64x; the\n"
    md ++= "collapsed plan reads ~2.5 s @64x, ratio ~1.4 (suite-soak64 below),\n"
    md ++= "while the q117 oracle gate pins the semantics unchanged.\n\n"
    md ++= "Reading the kcenter row: the op is k−1 argmax scans with LITERAL\n"
    md ++= "center vectors fused in (k driver rows total), so at these corpus\n"
    md ++= "sizes the measurement is dominated by fixed per-job scheduling —\n"
    md ++= "its asymptotic cost is k linear passes, and the ratio reflects\n"
    md ++= "16 union branches per pass at @16x, not input-quadratic work.\n"
    for (b <- out.find(_.op == "kcenter coreset k=6 @16x");
         c <- out.find(_.op == "kcenter coreset k=6 @64x")) {
      md ++= f"Adjudication row: @64x (4x more corpus than @16x) the same op\n"
      md ++= f"takes ${c.secs}%.2f s = ${c.secs / b.secs}%.1fx the @16x time — linear-pass\n"
      md ++= "behavior (input-quadratic work would show ~16x here), settling\n"
      md ++= "the ratio as amortizing fixed overhead.\n"
    }
    md ++= "\n"
    md ++= "| operator | rows @1x | s @1x | rows @4x | s @4x | rows @16x | s @16x | 16x/1x |\n|---|---|---|---|---|---|---|---|\n"
    val byOp = out.groupBy(_.op.split(" @")(0))
    byOp.toSeq.sortBy(_._1).foreach { case (op, ms) =>
      def get(suffix: String) = ms.find(_.op.endsWith(s"@${suffix}x"))
      // ops swept at other tiers only (e.g. the fully-duplicated ceiling,
      // @4x by design) emit in their own sections below, not this table
      (get("1"), get("4"), get("16")) match {
        case (Some(a), Some(b), Some(c)) =>
          md ++= f"| $op | ${a.rows} | ${a.secs}%.2f | ${b.rows} | ${b.secs}%.2f | ${c.rows} | ${c.secs}%.2f | ${c.secs / a.secs}%.1f |\n"
        case _ => ()
      }
    }
    out.find(_.op == "repeated spans fully duplicated @4x").foreach { m =>
      md ++= "\nPathological ceiling — repeated spans over a FULLY duplicated corpus\n"
      md ++= "(4x unsalted replicas: EVERY window repeats, so all positions survive\n"
      md ++= "to the per-doc merge and output collapses to one whole-doc span per\n"
      md ++= f"doc): ${m.rows} spans in ${m.secs}%.2f s — the bound on what a worst-case\n"
      md ++= "boilerplate corpus can do to the candidate stages (vs the salted\n"
      md ++= "4x row above, which carries a realistic duplication profile).\n"
    }
    val stress = out.filter(_.op.endsWith("@64x"))
    if (stress.nonEmpty) {
      md ++= "\n## 64x stress rows (N2-output dedup paths)\n\n"
      md ++= "One more 4x step for the two pair-emitting dedup shapes whose correct\n"
      md ++= "output grows quadratically in the replication factor — the rows where\n"
      md ++= "a 100 TB claim would otherwise rest on extrapolating the 16x trend.\n"
      md ++= "The ratio column is secs(64x)/secs(16x): ~4 is row-linear; well below\n"
      md ++= "16 (the output growth) means banding stays duplication-proof.\n\n"
      md ++= "| operator | rows @64x | s @64x | 64x/16x |\n|---|---|---|---|\n"
      stress.foreach { m =>
        val op = m.op.split(" @")(0)
        val base = out.find(_.op == s"$op @16x")
        val ratio = base.map(b => f"${m.secs / b.secs}%.1f").getOrElse("-")
        md ++= f"| $op | ${m.rows} | ${m.secs}%.2f | $ratio |\n"
      }
    }
    if (tiers.nonEmpty) {
      md ++= "\n## Snapshot-tier probe economics (fixed batch, growing corpus)\n\n"
      md ++= "A FIXED new batch (the sf0.1 doc_id%3==0 slice) probes a stored corpus\n"
      md ++= "growing 1x/4x/16x/64x down the three incremental-dedup storage tiers. The\n"
      md ++= "live tier re-bands the stored signatures per probe (cost grows with\n"
      md ++= "the corpus); the bucketed tier moves the id-lookup exchange to write\n"
      md ++= "time; the pre-banded tier also stores the band keys, so a probe's\n"
      md ++= "corpus-side work is a bucketed scan. Probe OUTPUT grows with the\n"
      md ++= "corpus by construction (replication turns each batch doc's dup into\n"
      md ++= "N stored copies, all legitimately paired), so no tier is flat in wall\n"
      md ++= "time — the signal is the SLOPE GAP: the live tier additionally\n"
      md ++= "re-bands the whole corpus per probe. Build is each tier's one-time\n"
      md ++= "write cost at the 64x corpus (pre-banded includes the signature\n"
      md ++= "snapshot it also needs).\n\n"
      md ++= "| tier | build s @64x | probe s @1x | @4x | @16x | @64x | probe 64x/1x |\n|---|---|---|---|---|---|---|\n"
      for (tier <- Seq("live re-band", "bucketed snapshot", "pre-banded snapshot")) {
        def at(m: Int) = tiers.find(t => t.tier == tier && t.mult == m).get
        val b64 = at(64).buildSecs
        val build = if (b64 == 0.0) "—" else f"$b64%.2f"
        md ++= f"| $tier | $build | ${at(1).probeSecs}%.2f | ${at(4).probeSecs}%.2f | ${at(16).probeSecs}%.2f | ${at(64).probeSecs}%.2f | ${at(64).probeSecs / at(1).probeSecs}%.1f |\n"
      }
      val live64 = tiers.find(t => t.tier == "live re-band" && t.mult == 64).get
      val pre64 = tiers.find(t => t.tier == "pre-banded snapshot" && t.mult == 64).get
      val saved = live64.probeSecs - pre64.probeSecs
      if (saved > 0) {
        val breakeven = math.ceil(pre64.buildSecs / saved).toLong
        md ++= f"\nBreak-even at 64x: the pre-banded build (${pre64.buildSecs}%.2f s) amortizes after\n"
        md ++= f"~$breakeven probes (each saves $saved%.2f s vs live re-banding) — and the gap\n"
        md ++= "widens linearly with corpus size while the pre-banded probe's corpus-\n"
        md ++= "side work stays a bucketed scan, so at the 100 TB steady state\n"
        md ++= "(thousands of batches against one snapshot) the tier pays for itself\n"
        md ++= "within the first few batches.\n"
      } else {
        md ++= f"\nAt this corpus size the live re-band probe (${live64.probeSecs}%.2f s) is still within\n"
        md ++= f"fixed plan overhead of the pre-banded probe (${pre64.probeSecs}%.2f s): the corpus-side\n"
        md ++= "banding cost has not yet crossed the snapshot tiers' constant join\n"
        md ++= "depth. The tiers' value is the SLOPE — live grows with the corpus,\n"
        md ++= "the snapshot probes track the (bucketed, never-exchanged) scan.\n"
      }
    }
    if (winTiers.nonEmpty) {
      md ++= "\n## Exact-substring window-snapshot economics (q147)\n\n"
      md ++= "A FIXED new batch (salted 1x doc_id%3==0 slice) probes the bucketed\n"
      md ++= "window-hash profile (writeWindowSnapshot — 128-bit keys, strings never\n"
      md ++= "stored) of a corpus growing 1x/4x/16x, vs the full repeatedSpans\n"
      md ++= "recompute over corpus+batch that a snapshot-less pipeline pays per\n"
      md ++= "batch. The probe's corpus-side work is a bucketed scan (no Exchange,\n"
      md ++= "no re-windowing — PLANS.md pins the shape), so probe time tracks the\n"
      md ++= "snapshot SCAN while the full recompute re-windows and re-shuffles the\n"
      md ++= "whole corpus every batch.\n\n"
      md ++= "| corpus | snapshot build s | probe s | full recompute s | full/probe | probe rows |\n|---|---|---|---|---|---|\n"
      winTiers.foreach { t =>
        md ++= f"| ${t.mult}x | ${t.buildSecs}%.2f | ${t.probeSecs}%.2f | ${t.fullSecs}%.2f | ${t.fullSecs / t.probeSecs}%.1f | ${t.rows} |\n"
      }
      val w16 = winTiers.find(_.mult == 16)
      w16.foreach { t =>
        val saved = t.fullSecs - t.probeSecs
        if (saved > 0) {
          val breakeven = math.ceil(t.buildSecs / saved).toLong
          md ++= f"\nBreak-even at 16x: the snapshot build (${t.buildSecs}%.2f s) amortizes after\n"
          md ++= f"~$breakeven probes (each saves $saved%.2f s vs full recompute), and the gap\n"
          md ++= "widens with the corpus while probe cost tracks the bucketed scan.\n"
        }
      }
    }
    if (nnRounds.nonEmpty) {
      md ++= "\nUnbounded `sjoin_nearest` (distributed radius-doubling path, Zipf-\n"
      md ++= "clustered probe side, build side only in even cells so odd-cell probes\n"
      md ++= "must expand past the first ring): expansion rounds executed = "
      md ++= nnRounds.map { case (m, r) => s"$r @${m}x" }.mkString(", ")
      md ++= ".\nRound count staying flat while rows grow 16x is the evidence the\n"
      md ++= "multi-round plan is O(log span/r0) in GEOMETRY, not in rows.\n"
      md ++= "Round 19 cut the loop's fixed overhead: ONE exact probe-side pass\n"
      md ++= "seeds the count-tracked loop (row count, coverage diagonal, every\n"
      md ++= "round's grid derive from it arithmetically), the final round skips\n"
      md ++= "its anti-join/checkpoint, and a measured-count gate stores a modest\n"
      md ++= "probe side once — 10.9 s -> ~5 s @16x, ratio 2.5 -> ~1.2.\n"
    }
    md ++= "\nGenerated by `sbt \"runMain graft.Scale\"`.\n"
    md ++= StaticSections
    // preserve the ScaleSuite sections (every banked tier) across regeneration
    val scalePath = java.nio.file.Paths.get("SCALE.md")
    val prior = if (java.nio.file.Files.exists(scalePath))
      java.nio.file.Files.readString(scalePath) else ""
    ScaleSuite.KnownMults.foreach { m =>
      val i = prior.indexOf(ScaleSuite.sectionStart(m))
      val j = prior.indexOf(ScaleSuite.sectionEnd(m))
      if (i >= 0 && j >= i)
        md ++= "\n" + prior.substring(i, j + ScaleSuite.sectionEnd(m).length) + "\n"
    }
    if (onlyOp.isEmpty) {
      java.nio.file.Files.writeString(scalePath, md.toString)
      println("[scale] wrote SCALE.md")
    } else println("[scale] partial run (SPARK_GRAFT_SCALE_ONLY) — SCALE.md not rewritten")
    spark.stop()
  }
}

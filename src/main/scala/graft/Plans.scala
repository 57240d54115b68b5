package graft

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import graft.join.SpatialJoin
import org.apache.spark.sql.functions._

/** Dumps the physical plans of headline operators to PLANS.md — the
  * evidence that filters push down, joins pick the intended strategy, and
  * geometry expressions stay inside whole-stage codegen. */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = new StringBuilder
    val spark = GraftSession(8)
    spark.sparkContext.setLogLevel("ERROR")

    def section(title: String, note: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      out ++= s"\n## $title\n\n$note\n\n```\n"
      out ++= df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode).take(4000)
      out ++= "\n```\n"
    }

    val pts = spark.read.parquet(s"$dir/customer.parquet")
      .withColumn("geometry", st_point(
        (col("c_custkey") * 7 % 1000).cast("double") / 10.0,
        (col("c_custkey") * 13 % 1000).cast("double") / 10.0))
    val cells = spark.read.parquet(s"$dir/nation.parquet")
      .withColumn("geometry", st_makebox(
        (col("n_nationkey") % 5 * 20).cast("double"), (floor(col("n_nationkey") / 5.0) * 20).cast("double"),
        (col("n_nationkey") % 5 * 20 + 20).cast("double"), (floor(col("n_nationkey") / 5.0) * 20 + 20).cast("double")))

    section("Native predicate filter + projection",
      "`*(N)` = fused into WholeStageCodegen stage N; `stintersects` is the native Catalyst expression (no UDF boxing).") {
      pts.filter(st_intersects(col("geometry"),
        lit(graft.geom.Wkb.write(graft.geom.GeomOps.makeBox(10, 20, 60, 80)))))
        .select(st_area(col("geometry")))
    }

    section("Broadcast sjoin (points-in-polygons)",
      "One Generate: `broadcast_probe` looks each stream row up in the broadcast STRtree and emits the matching build rows itself (its string names the predicate and the build row count) — no join follows and the big side never shuffles.") {
      SpatialJoin.sjoin(pts, cells, "intersects", "inner")
    }

    section("Grid (PBSM) sjoin",
      "Cell-id equi-join (shuffle bounded by duplication factor) + bbox pre-conditions + reference-cell dedup + exact refine; AQE splits skewed cells.") {
      SpatialJoin.sjoin(pts, cells, "intersects", "inner", broadcastThreshold = -1)
    }

    section("Dissolve (groupBy + st_union_agg)",
      "ObjectHashAggregate runs partial (map-side) union per partition, then merges partials — the distributed CascadedPolygonUnion.") {
      GeoDataFrame(cells.select(col("n_regionkey"), col("geometry"))).dissolve(Seq("n_regionkey")).df
    }

    section("GeoParquet bbox read",
      "bbox predicate lands on parquet leaf columns: PushedFilters + row-group stats pruning before any geometry decode.") {
      val tmp = java.nio.file.Files.createTempDirectory("plans").toString
      graft.io.GeoParquet.write(GeoDataFrame(pts), s"$tmp/pts", spatialSort = true)
      graft.io.GeoParquet.readBbox(spark, s"$tmp/pts", 10, 20, 60, 80).df
    }

    section("Indexed ANN probe (stored bucket column)",
      "The LSH bucket is a STORED int column (written sorted at ingest): the probe is In(ann_bucket, ...) " +
        "in PushedFilters — row-group stats prune before any vector is read; survivors rescore with the " +
        "native vecdot/vecnorm codegen kernels (visible as expressions, not UDF boxing).") {
      val tmp = java.nio.file.Files.createTempDirectory("plans_ann").toString
      val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      graft.ops.Similarity.withAnnBucket(embs, "embedding").sort("ann_bucket")
        .write.mode("overwrite").parquet(s"$tmp/emb")
      val q = embs.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      graft.ops.Similarity.annTopKIndexed(spark.read.parquet(s"$tmp/emb"), "embedding", q, 10, probeHamming = 2)
    }

    section("MinHash LSH band join (fast signature)",
      "One signature UDF pass; the band self-join shuffles ONLY (band, key, id) — shingle arrays " +
        "re-attach by id after pair dedup, so the wide text columns never multiply by the band count.") {
      graft.ops.Dedup.minhashPairsFast(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 3, numHashes = 16, bands = 4, threshold = 0.9)
    }

    section("Outer sjoin over a stable upstream (no pin materialization)",
      "how=left re-joins id-stamped rows; Pins.stampPinned sees the scan-rooted upstream is " +
        "evaluation-stable and SKIPS localCheckpoint — no LogicalRDD in this plan, nothing written " +
        "to executor-local disk. Unstable upstreams (repartition, windows) still pin.") {
      SpatialJoin.sjoin(pts, cells.filter(col("n_nationkey") < 5), "intersects", "left", broadcastThreshold = -1)
    }

    section("IVF ANN probe (stored cell column)",
      "Second ANN path besides LSH: deterministic centroids at ingest, nprobe-nearest cells at query. " +
        "The probe is In(ivf_cell, ...) in PushedFilters — same pruning shape as the LSH bucket.") {
      val tmp = java.nio.file.Files.createTempDirectory("plans_ivf").toString
      val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      val cents = graft.ops.Similarity.ivfCentroids(embs, "vec_id", "embedding", k = 16)
      graft.ops.Similarity.withIvfCell(embs, "embedding", cents).sort("ivf_cell")
        .write.mode("overwrite").parquet(s"$tmp/emb")
      val q = embs.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      graft.ops.Similarity.ivfTopK(spark.read.parquet(s"$tmp/emb"), "embedding", cents, q, 10, nprobe = 2)
    }

    section("BboxFastPath rule: ad-hoc .cx filter over a covering bbox column",
      "No readBbox API here — a plain filter(st_intersects(g, lit)) on a GeoParquet frame. The " +
        "Catalyst rule injects bbox.xmin/xmax/ymin/ymax conjuncts, which reach PushedFilters and " +
        "prune row groups; the exact JTS predicate runs only on survivors.") {
      val tmp = java.nio.file.Files.createTempDirectory("plans_rule").toString
      graft.io.GeoParquet.write(GeoDataFrame(pts.drop("c_comment")), s"$tmp/pts", spatialSort = true)
      graft.io.GeoParquet.read(spark, s"$tmp/pts").cx(10, 20, 60, 80).df
    }

    section("End-to-end pipeline (quality -> lang -> dedup -> near-dup -> stats)",
      "One lazy plan across four pipeline stages: scans stay columnar, the dedup window and " +
        "LSH band join are the only shuffles, and the final aggregate is partial+final. " +
        "This is q67's plan — each stage is individually oracle-gated elsewhere.") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      import graft.functions.TextFunctions
      val filtered = docs
        .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
        .filter(TextFunctions.langId(col("text")) === "en")
      val exact = graft.ops.Dedup.exact(filtered, "doc_id", "text")
      val pairs = graft.ops.Dedup.minhashPairs(exact, "doc_id", "text", k = 3, numHashes = 16, bands = 4, threshold = 0.5)
      val kept = exact.join(pairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      kept.agg(count(lit(1)).as("n_docs"))
    }

    section("Benchmark decontamination (broadcast n-gram semi-join)",
      "The probe (benchmark) n-gram set is BROADCAST — the corpus side is a map-side " +
        "BroadcastHashJoin with no corpus shuffle; each doc contributes only its distinct " +
        "n-grams, and the only exchange is the final per-doc count aggregate.") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      graft.ops.Dedup.contaminationOverlap(
        docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 2, minOverlap = 20)
    }

    section("Deterministic sampling + sequence packing",
      "Sampling is a pure map-side filter on codegen md5 (no exchange at all, retry-stable " +
        "unlike rand()); packing's only exchange is the shard-key hash partition for the " +
        "window prefix-sum — no global-order single-partition bottleneck.") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val sampled = graft.ops.Sampling.deterministicSample(docs, "doc_id", 0.5)
      graft.ops.Sampling.packSequences(sampled, "doc_id", "text", budgetTokens = 512, shards = 8)
    }

    section("Paragraph-level span dedup (single-groupBy reassembly)",
      "Round-8 shape: hot paragraphs are flagged via ONE LEFT join against the " +
        "corpus-hot set and filtered inside a single groupBy reassembly — a " +
        "fully-boilerplate doc survives with n_paras_kept=0 instead of being " +
        "dropped by an anti-join. Exchanges: the paragraph-hash aggregate and " +
        "the doc_id reassembly; AQE broadcasts the hot set when it is small, " +
        "else it degrades to a shuffled hash join.") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      graft.ops.Dedup.dropRepeatedParagraphs(docs, "doc_id", "text", maxOccurrences = 2)
    }

    section("Interior-ring count + hole-punched area (q87)",
      "count_interior_rings over constructed holed polygons: the whole query is " +
        "scalar expressions in ONE WholeStageCodegen span over the scan — no " +
        "exchange, no UDF boxing on the filter path.") {
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("ax0", (col("l_partkey") % 50).cast("double"))
        .withColumn("ay0", (col("l_suppkey") % 50).cast("double"))
        .withColumn("ax1", (col("l_partkey") % 50 + 1 + col("l_linenumber")).cast("double"))
        .withColumn("ay1", (col("l_suppkey") % 50 + 1 + col("l_orderkey") % 5).cast("double"))
        .filter(col("l_orderkey") % 25 === 4)
      import graft.functions.GeoFunctions._
      val hole = st_makebox(col("ax0") + lit(0.25), col("ay0") + lit(0.25),
        col("ax0") + lit(0.75), col("ay0") + lit(0.75))
      val geom = when(col("l_orderkey") % 2 === 0,
        st_difference(st_makebox(col("ax0"), col("ay0"), col("ax1"), col("ay1")), hole))
        .otherwise(st_makebox(col("ax0"), col("ay0"), col("ax1"), col("ay1")))
      l.select(col("l_orderkey"), col("l_linenumber"),
        st_n_interior_rings(geom).as("n_holes"),
        round(st_area(geom), 6).as("area"))
    }

    section("kNN graph (q107: banded LSH self-join + per-id top-k window)",
      "Candidate pairs come from the (band, key) equi-join — a plain shuffled " +
        "hash join on small integer keys, never a cartesian; vectors re-attach " +
        "by id via joins AQE broadcasts at gate scale; the per-id top-k is one " +
        "rank window over the symmetrized pair set. Output-bounded like the " +
        "other banded-LSH plans: corpus^2 never materializes.") {
      val e = spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") < 500)
      graft.ops.Similarity.knnJoin(e, "vec_id", "embedding", k = 3, planes = 32, bands = 32)
    }

    section("Unigram-LM NLL scoring (q113: corpus-trained quality proxy)",
      "Tokens reduce to per-doc (token, tf) via a partial-aggregated groupBy " +
        "before touching the vocabulary, so the vocab equi-join carries one " +
        "row per DISTINCT term per doc (not per occurrence); the Zipf-hot " +
        "join key is AQE-skew-splittable, and the corpus total rides along " +
        "as a 1-row broadcast. No window, no driver collect.") {
      graft.ops.LmQuality.unigramNllScore(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    }

    section("DSIR importance weights (q114: hashed n-gram log-ratio)",
      "Both multinomial models are ≤64-row aggregations (fully map-side " +
        "combinable); the ratio table enters the per-doc scoring join as an " +
        "explicit broadcast, so the raw corpus is scanned twice and never " +
        "shuffled on a wide key.") {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      graft.ops.LmQuality.importanceWeights(d, d.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 64)
    }

    section("SemDeDup (q117: k-means cells bound the cosine pair search)",
      "Duplication-proof since round 20: one window shuffle on the vector " +
        "value collapses exact-duplicate embeddings to a representative, " +
        "the within-cell pair join (equi on the cluster id, AQE-splittable " +
        "on a hot cell) scores REPRESENTATIVES only, and members re-attach " +
        "by the slim rep-id key. Centroid assignment stays a map-side " +
        "broadcast UDF; no cross-cluster pair is ever scored — the SemDeDup " +
        "scale argument in plan form, now clone-clique-proof too.") {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      graft.ops.Dedup.semDedup(e, "vec_id", "embedding", clusters = 8, tau = 0.9)
    }

    section("CDC chunk dedup (q119: rolling-hash chunking, all native HOFs)",
      "Chunking is one map-side projection (filter/transform over a " +
        "position sequence + codegen md5 — no UDF); the dup profile is two " +
        "hash aggregations on the uniform 16-byte chunk key plus one hash " +
        "equi-join. Chunk bodies never shuffle — only their hashes.") {
      graft.ops.Dedup.cdcDedupStats(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 8)
    }

    section("Token-budget mixing (q118: sharded per-domain prefix sums)",
      "No global-order window: the 16-way hash-prefix shard bounds every " +
        "window partition at 1/16 of a domain, and the shard offsets come " +
        "back through an explicit broadcast join (16 rows per domain).") {
      graft.ops.Sampling.tokenBudgetMix(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        "source", budgets = Map("src0" -> 500L), defaultBudget = 800L)
    }

    section("BPE pair counting (q120: the per-iteration training aggregation)",
      "State is the DISTINCT word table, never the corpus: one corpus-scale " +
        "word-count shuffle, then slice/zip_with pair explosion + a " +
        "map-side-combinable sum per adjacent symbol pair.") {
      val w = graft.ops.Bpe.wordFreqs(
        spark.read.parquet(s"$dir/documents.parquet"), "text")
        .withColumn("syms", graft.ops.Bpe.initSymbols(col("word")))
      graft.ops.Bpe.pairCounts(w)
    }

    section("HTML -> text extraction (q121: native regexp chain)",
      "The entire WET step is one projection of chained regexp_replace " +
        "expressions inside WholeStageCodegen — no UDF, no shuffle; at " +
        "corpus scale this runs in the scan stage next to the filters.") {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        graft.functions.TextFunctions.htmlToText(
          concat(lit("<p>"), col("text"), lit("</p>"))).as("clean"))
    }

    section("GeomSimplify rule: constructed-point distance fuses to HYPOT arithmetic",
      "st_distance(st_point, st_point) would pay two WKB writes + two " +
        "parses + a JTS DistanceOp per row; the optimizer rule rewrites it " +
        "to Catalyst Hypot over the raw coordinates (bit-exact — JTS point " +
        "distance IS Math.hypot), keeping the hot loop pure arithmetic " +
        "inside WholeStageCodegen. Stored WKB columns are never touched.") {
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
      l.select(st_distance(
          st_point((col("l_partkey") % 50).cast("double"), (col("l_suppkey") % 50).cast("double")),
          st_point((col("l_partkey") * 3 % 50).cast("double"), (col("l_suppkey") * 5 % 50).cast("double")))
        .as("dist"))
    }

    section("GeomSimplify rule: constructed-box predicates fuse across projections",
      "withColumn(box_a, st_makebox)...select(st_intersects(box_a, box_b)) " +
        "is the q08 shape CollapseProject refuses to inline (multi-referenced " +
        "construction). The cross-projection fusion pass substitutes the " +
        "constructed-box aliases into the predicates, fuses them to octonary " +
        "interval kernels (exhaustively JTS-exact incl. boundary/degenerate " +
        "topology), and prunes the dead box columns — the plan collapses to " +
        "ONE Project of pure arithmetic over the scan, no WKB anywhere.") {
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
      l.withColumn("box_a", st_makebox((col("l_partkey") % 50).cast("double"),
          (col("l_suppkey") % 50).cast("double"),
          (col("l_partkey") % 50 + 1).cast("double"), (col("l_suppkey") % 50 + 2).cast("double")))
        .withColumn("box_b", st_makebox((col("l_partkey") * 3 % 50).cast("double"),
          (col("l_suppkey") * 5 % 50).cast("double"),
          (col("l_partkey") * 3 % 50 + 2).cast("double"), (col("l_suppkey") * 5 % 50 + 1).cast("double")))
        .select(col("l_orderkey"),
          st_intersects(col("box_a"), col("box_b")).as("inter"),
          st_contains(col("box_a"), col("box_b")).as("cont"),
          st_disjoint(col("box_a"), col("box_b")).as("disj"))
    }

    section("GeomSimplify rule: naive expression-join predicate fuses per-pair arithmetic",
      "a.join(b, st_dwithin(ga, gb, d)) evaluates its condition once per " +
        "PAIR in a nested-loop join — the worst place to pay WKB parse + " +
        "JTS. The rule substitutes the constructed points into the " +
        "condition and fuses it to HYPOT <= d; the constructions still " +
        "evaluate once per ROW in the children. (SpatialJoin remains the " +
        "right tool — this guards the naive spelling.)") {
      val c = spark.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_custkey") <= 200)
        .select(col("c_custkey"),
          st_point((col("c_custkey") * 7 % 1000).cast("double") / 10.0,
            (col("c_custkey") * 13 % 1000).cast("double") / 10.0).as("ga"))
      val s = spark.read.parquet(s"$dir/supplier.parquet")
        .filter(col("s_suppkey") <= 50)
        .select(col("s_suppkey"),
          st_point((col("s_suppkey") * 17 % 1000).cast("double") / 10.0,
            (col("s_suppkey") * 23 % 1000).cast("double") / 10.0).as("gb"))
      c.join(s, st_dwithin(col("ga"), col("gb"), lit(1.5)))
        .select(col("c_custkey"), col("s_suppkey"))
    }

    section("AutoSpatialJoin rule: predicate join over STORED geometry becomes the grid join",
      "a.join(b, st_intersects(a.g, b.g)) over stored WKB columns (the " +
        "shape GeomSimplify cannot fuse — nothing is constructed) used to " +
        "plan as a BroadcastNestedLoopJoin evaluating WKB parse + JTS on " +
        "every pair. The rule rewrites it into the PBSM grid plan: both " +
        "sides explode to covering grid cells, hash-join on the cell id, " +
        "bbox-overlap prefilter, reference-cell dedup, then the EXACT " +
        "original condition refines the candidates — bit-identical results " +
        "with a real equi-join key (note the hash join on __graft_asj " +
        "cells and the absence of any nested-loop join below).") {
      val tmp = java.nio.file.Files.createTempDirectory("plans_asj").toString
      spark.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_custkey") <= 500)
        .select(col("c_custkey"),
          st_aswkb(st_point((col("c_custkey") * 7 % 1000).cast("double") / 10.0,
            (col("c_custkey") * 13 % 1000).cast("double") / 10.0)).as("gp"))
        .write.mode("overwrite").parquet(s"$tmp/pts")
      spark.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"),
          st_aswkb(st_makebox((col("n_nationkey") % 5 * 20).cast("double"),
            (floor(col("n_nationkey") / 5.0) * 20).cast("double"),
            (col("n_nationkey") % 5 * 20 + 20).cast("double"),
            (floor(col("n_nationkey") / 5.0) * 20 + 20).cast("double"))).as("gc"))
        .write.mode("overwrite").parquet(s"$tmp/cells")
      val p = spark.read.parquet(s"$tmp/pts")
      val n = spark.read.parquet(s"$tmp/cells")
      p.join(n, st_intersects(col("gp"), col("gc")))
        .select(col("c_custkey"), col("n_nationkey"))
    }

    section("GeomSimplify rule: total_bounds over constructed points becomes columnar min/max",
      "st_total_bounds_agg is a typed UDAF that builds WKB per row, parses " +
        "it back and folds a JTS envelope. Over a CONSTRUCTED point column " +
        "the aggregate rewrite replaces it with four Min/Max aggregates " +
        "(plus sign-of-zero flag aggregates for math.min/max's -0.0/+0.0 " +
        "tie semantics, and a null/NaN guard matching the WKB round-trip's " +
        "empty-point convention) — one whole-stage-codegen HashAggregate " +
        "over the raw coordinates, map-side partials, no per-row objects.") {
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
      l.withColumn("geometry", st_point(
          (col("l_partkey") * 7 % 1000).cast("double") / 10.0,
          (col("l_suppkey") * 13 % 1000).cast("double") / 10.0))
        .agg(graft.agg.GeoAggregates.st_total_bounds_agg(col("geometry")).as("b"))
    }

    section("Incremental MinHash probe against a BUCKETED signature snapshot",
      "The stored-snapshot probe (Dedup.minhashPairsIncrementalStored) " +
        "never exchanges the snapshot: the banding candidate join " +
        "broadcasts the small new batch's band keys, and the per-id " +
        "signature lookups left-join the snapshot on its own bucket key " +
        "(Dedup.writeSignatureSnapshot = Bucketed by id), so only " +
        "candidate ids move. The merge hint pins the at-scale strategy.") {
      val tmp = java.nio.file.Files.createTempDirectory("plans_sigsnap").toString
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val oldSigs = graft.ops.Dedup.minhashSignatureTable(
        d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", k = 2)
      val newSigs = graft.ops.Dedup.minhashSignatureTable(
        d.filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 2)
      graft.ops.Dedup.writeSignatureSnapshot(oldSigs, "plans_b_sigs",
        s"$tmp/sigs", "doc_id", buckets = 8)
      graft.ops.Dedup.minhashPairsIncrementalStored(newSigs,
        graft.ops.Dedup.readSignatureSnapshot(spark, "plans_b_sigs").hint("merge"),
        "doc_id", threshold = 0.9)
    }

    section("Incremental MinHash probe against a PRE-BANDED snapshot (q140)",
      "writeBandedSnapshot persists the snapshot's (band, key, id) rows " +
        "bucketed by the band key, so a probe reads stored band keys " +
        "instead of re-exploding + re-hashing every stored signature — at " +
        "100 TB that per-probe banding compute dwarfs the join itself. The " +
        "snapshot scan carries no Generate and no Exchange; only the " +
        "broadcast new batch and the candidate ids move.") {
      val tmp = java.nio.file.Files.createTempDirectory("plans_bandsnap").toString
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val oldSigs = graft.ops.Dedup.minhashSignatureTable(
        d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", k = 2)
      val newSigs = graft.ops.Dedup.minhashSignatureTable(
        d.filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 2)
      graft.ops.Dedup.writeSignatureSnapshot(oldSigs, "plans_bsn_sigs",
        s"$tmp/sigs", "doc_id", buckets = 8)
      graft.ops.Dedup.writeBandedSnapshot(oldSigs, "plans_bsn_banded",
        s"$tmp/banded", "doc_id", buckets = 8)
      graft.ops.Dedup.minhashPairsIncrementalBanded(newSigs,
        graft.ops.Dedup.readSignatureSnapshot(spark, "plans_bsn_sigs").hint("merge"),
        graft.io.Bucketed.read(spark, "plans_bsn_banded").hint("merge"),
        "doc_id", threshold = 0.9)
    }

    section("Bucketed co-located join: corpus ⋈ side-table with ZERO Exchange",
      "Per-document side tables (scores, labels, signature snapshots) join " +
        "back to the corpus on doc_id constantly; storing both sides " +
        "bucketed on that key (io.Bucketed: bucketBy+sortBy into the " +
        "catalog) makes every such equi-join shuffle-free — SortMergeJoin " +
        "with NO Exchange on either side, so a 100 TB corpus is never " +
        "re-partitioned for a join it was already laid out for. The merge " +
        "hint pins the at-scale strategy (tiny demo tables would broadcast).") {
      val tmp = java.nio.file.Files.createTempDirectory("plans_bucketed").toString
      val d = spark.read.parquet(s"$dir/documents.parquet")
      graft.io.Bucketed.write(d.select(col("doc_id"), col("lang"), col("source")),
        "plans_b_docs", s"$tmp/docs", "doc_id", buckets = 8)
      graft.io.Bucketed.write(d.select(col("doc_id"), length(col("text")).as("score")),
        "plans_b_scores", s"$tmp/scores", "doc_id", buckets = 8)
      graft.io.Bucketed.read(spark, "plans_b_docs").hint("merge")
        .join(graft.io.Bucketed.read(spark, "plans_b_scores").hint("merge"), Seq("doc_id"))
    }

    section("BM25 scoring (q123: literal term filter before any shuffle)",
      "The query's term set is an `In` filter applied in the exploded scan " +
        "projection — only (doc, matching-term) rows reach the tf shuffle; " +
        "document frequency and corpus stats come back as broadcasts, so " +
        "the corpus itself never shuffles and never joins anything big.") {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      graft.ops.Retrieval.bm25Scores(d, "doc_id", "text", Seq("spark", "hash", "window"))
    }

    section("Bloom-filter probe (q124: bounded sketch broadcast)",
      "The sketch is at most `bits` rows regardless of corpus size, so the " +
        "probe is a BroadcastHashJoin after a map-side bucket explode — an " +
        "incremental batch is deduped against a 100 TB corpus without ever " +
        "joining the corpus.") {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val sk = graft.ops.Dedup.bloomSketch(d.filter(col("doc_id") % 3 =!= 0), "text")
      graft.ops.Dedup.bloomNovel(d, sk, "doc_id", "text")
    }

    section("Incremental minhash probe (q135: new batch joins SIGNATURES, not text)",
      "The stored snapshot state is the signature table (~0.5 KB/doc); a " +
        "new batch bands its own signatures and equi-joins the stored " +
        "band keys — the corpus text never appears in the plan, old-old " +
        "pairs are filtered before the estimate, and the only wide join " +
        "is on (band, key).") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val oldSigs = graft.ops.Dedup.minhashSignatureTable(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", k = 2)
      val newSigs = graft.ops.Dedup.minhashSignatureTable(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 2)
      graft.ops.Dedup.minhashPairsIncremental(newSigs, oldSigs, "doc_id")
    }

    section("Pre-gridded co-located spatial join (q143: ZERO Exchange on either side)",
      "join/Gridded.writeGridded pays grid stats, bbox compute, the " +
        "covering-cell explode AND the join shuffle once at write time " +
        "(bucketed by the stored cell column); sjoinGridded then plans a " +
        "SortMergeJoin over co-located buckets — no Exchange on either " +
        "side, bbox prefilter + reference-cell dedup + RefineCache refine " +
        "on top. The spatial analog of the pre-banded minhash snapshot: " +
        "the repeated-join steady state at 100 TB reads the layout it " +
        "already owns. The merge hint pins the at-scale strategy.") {
      val tmp = java.nio.file.Files.createTempDirectory("plans_gridded").toString
      val p = spark.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_custkey") <= 500)
        .select(col("c_custkey"),
          st_point((col("c_custkey") * 7 % 1000).cast("double") / 10.0,
            (col("c_custkey") * 13 % 1000).cast("double") / 10.0).as("geometry"))
      val n = spark.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"),
          st_makebox((col("n_nationkey") % 5 * 20).cast("double"),
            (floor(col("n_nationkey") / 5.0) * 20).cast("double"),
            (col("n_nationkey") % 5 * 20 + 20).cast("double"),
            (floor(col("n_nationkey") / 5.0) * 20 + 20).cast("double")).as("geometry"))
      val spec = graft.join.Gridded.gridFor(p)
      graft.join.Gridded.writeGridded(p, "plans_gr_pts", s"$tmp/pts", spec)
      graft.join.Gridded.writeGridded(n, "plans_gr_cells", s"$tmp/cells", spec)
      graft.join.Gridded.sjoinGridded(
        graft.join.Gridded.readGridded(spark, "plans_gr_pts").hint("merge"),
        graft.join.Gridded.readGridded(spark, "plans_gr_cells").hint("merge"))
        .select(col("c_custkey"), col("n_nationkey"))
    }

    section("Exact substring dedup (q144: window repetition decided on 8-byte hash keys)",
      "Dedup.repeatedSpans is the distributed face of Lee et al.'s " +
        "suffix-array dedup: token windows are map-side (tokenize + " +
        "slice), occurrence counting shuffles only the xxhash64 window key " +
        "with map-side partial aggregation (note the two-stage " +
        "HashAggregate on __wh), and the wide window STRINGS move only in " +
        "the candidate join + exact confirm — in a deduplicated corpus the " +
        "small minority. The final merge is one window function " +
        "partitioned by document.") {
      graft.ops.Dedup.repeatedSpans(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    }

    section("Incremental exact-substring probe (q147: bucketed window snapshot, stored side never exchanged)",
      "Dedup.repeatedSpansIncrementalStored probes a writeWindowSnapshot " +
        "profile (one ~24-byte row per distinct window, 128-bit hash key, " +
        "strings never stored, bucketed by __wh). The probe join keys ONLY " +
        "on the bucket column — the 128-bit confirm is spelled `xor == 0` " +
        "so Catalyst cannot widen the equi-key set and defeat the bucket " +
        "co-location — so the stored side scans with SelectedBucketsCount " +
        "and NO Exchange; only the new batch's 24-byte hash rows shuffle. " +
        "At 100 TB the corpus is never re-windowed per batch.") {
      val tmp = java.nio.file.Files.createTempDirectory("plans_winsnap").toString
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      graft.ops.Dedup.writeWindowSnapshot(docs.filter(col("doc_id") % 3 =!= 0),
        "plans_winsnap", s"$tmp/wins", "doc_id", "text", 5, 8)
      graft.ops.Dedup.repeatedSpansIncrementalStored(
        docs.filter(col("doc_id") % 3 === 0),
        graft.io.Bucketed.read(spark, "plans_winsnap").hint("merge"),
        "doc_id", "text", 5)
    }

    section("k-center coreset pick (q151: one scan, literal centers, TakeOrderedAndProject argmax)",
      "Each greedy pick of Similarity.kCenterGreedy is this plan: the " +
        "corpus scanned ONCE, cosine distance to each already-chosen " +
        "center computed against LITERAL vectors fused into the scan " +
        "projection (VecDot/VecNorm codegen — no join, no broadcast, no " +
        "Exchange), and the argmax is TakeOrderedAndProject — only each " +
        "partition's best row reaches the driver, k rows total across the " +
        "whole selection.") {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val c0 = e.orderBy(col("vec_id")).limit(1)
        .collect()(0).getSeq[Float](1)
      val d0 = round(lit(1.0) - graft.ops.Similarity.cosine(
        col("embedding"), array(c0.map(v => lit(v)): _*)), 6)
      e.filter(!col("vec_id").isin(0L))
        .withColumn("__d", d0)
        .orderBy(col("__d").desc, col("vec_id").asc).limit(1)
    }

    section("Edit-distance pair join (q157: PassJoin chunk blocking)",
      "The candidate join is an EQUI hash join on (length, band, chunk " +
        "string) — the pigeonhole blocking key — never a nested loop; both " +
        "the chunk index and the shifted-substring probe are map-side " +
        "projections over the distinct-string collapse, candidates dedupe " +
        "on the rep-id pair, and the refine is the thresholded native " +
        "levenshtein (early-exit, codegen). Member expansion joins are " +
        "output-bound on the string key.") {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      graft.ops.Dedup.editDistancePairs(
        d.select(col("doc_id"), substring(col("text"), 1, 16).as("p")),
        "doc_id", "p", maxEdits = 3)
    }

    section("Exact set-similarity join (q160: rarest-first prefix filter)",
      "Shingle document frequencies feed a per-set rank window; the " +
        "candidate join is an equi self-join on PREFIX shingles only (the " +
        "globally rarest (1-t)·n+1 per set), size-filtered before the " +
        "exact array_intersect verify. Recall 1 without LSH: the " +
        "prefix-filter theorem guarantees any pair at Jaccard ≥ t shares " +
        "a prefix token. Same rep-collapse + member-expansion shape as " +
        "the banded minhash plan.") {
      graft.ops.Dedup.jaccardPairsExact(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        k = 3, threshold = 0.5)
    }

    // events with ts normalized to exact long nanos (the files carry
    // TIMESTAMP(MICROS); long-nanos parity with the SparkEntry gates)
    lazy val eventsNs: org.apache.spark.sql.DataFrame =
      graft.ops.TemporalJoin.withNanos(
        spark.read.parquet(s"$dir/events.parquet"), "ts", "t")

    section("As-of join, keyed (q164: union + running-last window, no join node)",
      "The point-in-time lookup never builds a join: both sides union " +
        "into one frame tagged by side, ONE window per user partition " +
        "carries the latest right payload forward (right rows sort before " +
        "left at equal ts so ties match), and unmatched rows null-extend. " +
        "A single Exchange on the by key — the naive `l.ts >= r.ts` " +
        "spelling would be a BroadcastNestedLoopJoin.") {
      val ev = eventsNs
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("lid"), col("user_id"), col("t"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("rid"), col("user_id"), col("value"), col("t"))
      graft.ops.TemporalJoin.asofJoin(l, r, "t", "t", by = Seq("user_id"), how = "inner")
    }

    section("As-of join, keyless (q165: bucket + carry-in reduction)",
      "No key, still parallel: time range-buckets into 256 fixed-width " +
        "cells (exact integral `div`, no double rounding at nano scale), " +
        "every bucket gets a carry-in row (latest right row from earlier " +
        "buckets — one <=258-row window), then the keyed core runs with " +
        "the bucket as the partition key.") {
      val ev = eventsNs
      val l = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("lid"), col("t"))
      val r = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("rid"), col("t"))
      graft.ops.TemporalJoin.asofJoinKeyless(l, r, "t", "t",
        tolerance = Some(600L * 1000000000L))
    }

    section("Range join (q166: binned equi-join, PBSM in 1-D)",
      "Intervals explode onto fixed-width bins (native `sequence`, " +
        "bounded duplication ~2 rows/interval at the default width); each " +
        "point lives in exactly one bin so the SortMergeJoin on the bin " +
        "key emits each qualifying pair once — no dedup shuffle, no " +
        "BroadcastNestedLoopJoin, and AQE can skew-split a hot bin.") {
      val ev = eventsNs
      val pts2 = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("pid"), col("t"))
      val iv = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("ivid"), col("t").as("w0"),
          (col("t") + 1800L * 1000000000L).as("w1"))
      graft.ops.TemporalJoin.rangeJoin(pts2, "t", iv, "w0", "w1")
    }

    section("Exact heavy hitters (q169: Misra-Gries candidates + exact recount)",
      "The full distinct-term groupBy this replaces shuffles every " +
        "distinct term; here the only wide exchange is the recount of " +
        "CANDIDATE occurrences (left_semi against the broadcast <=" +
        "k*partitions candidate set from the per-partition Misra-Gries " +
        "pass). The union of per-partition MG item sets provably contains " +
        "every global phi=1/k hitter, so the output is exact.") {
      graft.ops.CorpusStats.heavyHitters(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term")),
        "term", k = 200)
    }

    section("Cross-table MinHash join (q168: one shared banding, both-orientation expansion)",
      "Both tables' distinct shingle lists sign once and band once; " +
        "candidates come from the (band, key) equi-join over the combined " +
        "rep table, exact Jaccard verifies per rep pair, members expand in " +
        "both orientations. No nested loop anywhere; the wide text columns " +
        "never multiply by the band count.") {
      val ds = spark.read.parquet(s"$dir/documents.parquet")
      val ref = ds.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000L).as("rid"), col("text"))
      graft.ops.Dedup.minhashJoin(ds, "doc_id", "text", ref, "rid", "text",
        k = 3, numHashes = 16, bands = 4, threshold = 0.5)
    }

    section("Cross-table hamming join (q172: multi-index banding at recall 1)",
      "Distinct 64-bit signatures band into maxHamming/2+1 bit chunks; " +
        "the index side emits exact chunk keys, the probe side adds every " +
        "single-bit flip (Norouzi et al. multi-index hashing), so a pair " +
        "within the bit budget MUST collide on a (band, key) bucket and " +
        "the bit_count(xor) verify runs once per signature pair. The " +
        "candidate join is PINNED shuffle-hash building on the index side " +
        "(the probe explode defeats size estimation; an elected broadcast " +
        "of the big side cost 19 s). Signature-only (8-byte long) shuffle; " +
        "members re-attach by the signature key.") {
      val ds = spark.read.parquet(s"$dir/documents.parquet")
      val l = ds.select(col("doc_id").as("id"),
        substring(md5(col("doc_id").cast("string")), 1, 16).as("sig"))
      val r = ds.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000L).as("rid"),
          concat(substring(md5(col("doc_id").cast("string")), 1, 15), lit("0")).as("sig"))
      graft.ops.Dedup.hammingJoinPlanned(l, "id", "sig", r, "rid", "sig", maxHamming = 4)
    }

    section("PageRank round (q174: one destination-keyed hash aggregate per iteration)",
      "Contributions rank/outdeg hash-aggregate on dst with map-side " +
        "partial sums (a hub's in-links pre-combine per upstream " +
        "partition); dangling mass is a driver scalar; ranks " +
        "localCheckpoint per round so the plan below is ONE round, not " +
        "the unrolled chain.") {
      val ds = spark.read.parquet(s"$dir/documents.parquet")
      val ids = ds.select(col("doc_id").as("id"))
      val live = ids.filter(col("id") % 11 =!= 0)
      val e = live.select(col("id").as("src"), (col("id") * 7 + 1).as("dst"))
        .unionByName(live.select(col("id").as("src"), (col("id") * 3 + 2).as("dst")))
      graft.ops.LinkGraph.pageRank(e, "src", "dst", iterations = 1)
    }

    section("Hot-key-safe as-of join (q178: per-(key, bucket) window partitions)",
      "The plain keyed as-of pins every row of a key into one window " +
        "task; this spelling buckets time WITHIN each key (exact integral " +
        "div) and seeds bucket-level carry rows from the same " +
        "union+running-last trick one level up, so the window below " +
        "partitions on (user_id, bucket) — a dominant key spreads across " +
        "tasks instead of spilling in one.") {
      val ev = eventsNs
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("lid"), col("user_id"), col("t"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("rid"), col("user_id"), col("value"), col("t"))
      graft.ops.TemporalJoin.asofJoinSkewed(l, r, "t", "t",
        by = Seq("user_id"), how = "inner", numBuckets = 32)
    }

    val header = "# Physical plans of headline operators\n\nGenerated by `graft.Plans` on " +
      s"`$dir`. Regenerate: `sbt \"runMain graft.Plans\"`.\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), header + out)
    println("[plans] wrote PLANS.md")
    spark.stop()
  }
}

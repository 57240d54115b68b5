package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Vector kernels (VecDot/VecNorm), multi-table embedding LSH recall, the
  * fast-minhash path, and the indexed ANN path (stored bucket column with a
  * pushed scan filter). */
class VecAndDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def embs: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")
  private def docs: DataFrame = spark.read.parquet(s"$sf/documents.parquet")

  test("VecDot/VecNorm match the HOF composition bit-for-bit") {
    val hofDot = aggregate(zip_with(col("embedding"), col("embedding"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x)
    val hofNorm = sqrt(aggregate(transform(col("embedding"),
      x => x.cast("double") * x.cast("double")), lit(0.0), (acc, x) => acc + x))
    val diff = embs.select(
      (Similarity.dot(col("embedding"), col("embedding")) - hofDot).as("dd"),
      (Similarity.norm(col("embedding")) - hofNorm).as("dn"))
      .agg(max(abs(col("dd"))), max(abs(col("dn")))).as[(Double, Double)].head()
    assert(diff == ((0.0, 0.0))) // identical summation order -> exactly zero
  }

  test("VecDot nulls: mismatched lengths and null elements yield NULL") {
    val df = Seq(
      (1, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),
      (2, Seq(1.0f), Seq(3.0f, 4.0f))).toDF("id", "a", "b")
    val out = df.select(col("id"), Similarity.dot(col("a"), col("b")).as("d"))
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1).contains(11.0))
    assert(out(2).isEmpty)
  }

  test("embeddingPairs (multi-table LSH) has 100% recall vs brute force at threshold 0.95") {
    // sf0.001 embeddings have no natural >=0.95 pairs; plant near-dups by
    // unioning slightly-perturbed copies (cosine ~ 0.99998 to the original)
    val perturbU = udf((v: Seq[Float], id: Long) =>
      v.zipWithIndex.map { case (x, i) => if (i == (id % 64)) x + 0.02f else x })
    val planted = embs.select(col("vec_id"), col("embedding"))
      .unionByName(embs.limit(50).select((col("vec_id") + 100000).as("vec_id"),
        perturbU(col("embedding"), col("vec_id")).as("embedding")))
    val lsh = Dedup.embeddingPairs(planted, "vec_id", "embedding", threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val e = planted.select(col("vec_id").as("id"), col("embedding").as("v"))
    val brute = e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .withColumn("c", Similarity.cosine(col("a.v"), col("b.v")))
      .filter(col("c") >= 0.95)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    assert(brute.size >= 50, "fixture should contain planted near-dup embeddings")
    assert(lsh == brute)
  }

  test("duplicate collapse: pair sets on a duplication-heavy corpus equal brute force") {
    // 3 exact copies of every vector (plus the original) — the shape that
    // blows up direct banding quadratically. The collapsed path must emit
    // exactly the brute-force pair set: all within-group pairs (cosine 1)
    // plus every qualifying cross-group pair, each verified once per
    // distinct-vector pair.
    val dup = (0 to 2).map(k => embs.limit(40)
      .select((col("vec_id") + k * 1000000L).as("vec_id"), col("embedding")))
      .reduce(_.unionByName(_))
    val lsh = Dedup.embeddingPairs(dup, "vec_id", "embedding", threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val e = dup.select(col("vec_id").as("id"), col("embedding").as("v"))
    val brute = e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .withColumn("c", Similarity.cosine(col("a.v"), col("b.v")))
      .filter(col("c") >= 0.95)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    assert(brute.size >= 120, "every 3-copy group contributes C(3,2)=3 pairs")
    assert(lsh == brute)
    // same shape for the minhash path on duplicated text
    val dupDocs = (0 to 2).map(k => docs.limit(40)
      .select((col("doc_id") + k * 1000000L).as("doc_id"), col("text")))
      .reduce(_.unionByName(_))
    val mh = Dedup.minhashPairsFast(dupDocs, "doc_id", "text",
      k = 3, numHashes = 32, bands = 16, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh0 = dupDocs.select(col("doc_id"), graft.functions.TextFunctions.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val bruteMh = sh0.as("a").join(sh0.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
        size(array_union(col("a.sh"), col("b.sh"))))
      .filter(col("j") >= 0.99)
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
    assert(bruteMh.size >= 120)
    assert(mh == bruteMh)
  }

  test("minhashPairsFast equals exact brute-force jaccard pairs (high-band config)") {
    // Comparing two DIFFERENT bandings (md5 vs xxhash) for set-equality
    // tests luck, not correctness: each misses a >=0.95 pair with prob
    // ~(1-j^4)^4 ~ 1e-3. Against the exact pair set, a 32-hash/16-band
    // config misses with prob ~(1-j^2)^16 ~ 1e-12 — deterministic in
    // practice. Precision is exact by construction (jaccard verify).
    val fast = Dedup.minhashPairsFast(docs, "doc_id", "text", k = 3, numHashes = 32, bands = 16, threshold = 0.9)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6)).as[(Long, Long, Double)].collect().toSet
    val sh = docs.select(col("doc_id"), graft.functions.TextFunctions.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("jaccard",
        when(size(array_union(col("a.sh"), col("b.sh"))) === 0, 0.0)
          .otherwise(size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
            size(array_union(col("a.sh"), col("b.sh")))))
      .filter(col("jaccard") >= 0.9)
      .select(col("a.doc_id"), col("b.doc_id"), round(col("jaccard"), 6)).as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty)
    assert(fast == brute)
  }

  test("annTopKIndexed: stored bucket filter is pushed to the parquet scan and result matches exact") {
    val q = embs.filter(col("vec_id") === 1).select("embedding").head().getSeq[Float](0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_spec").toString
    Similarity.withAnnBucket(embs, "embedding").sort("ann_bucket")
      .write.mode("overwrite").parquet(s"$dir/emb")
    val indexed = spark.read.parquet(s"$dir/emb")

    // full-probe (= exact) result matches brute force
    val exact = Similarity.annTopKIndexed(indexed, "embedding", q, 5, probeHamming = 8)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(embs, "embedding", q, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(exact == brute)

    // restricted probe: the In(ann_bucket, ...) filter reaches the scan
    val restricted = Similarity.annTopKIndexed(indexed, "embedding", q, 5, probeHamming = 1)
    val explained = restricted.queryExecution.executedPlan.toString
    assert(explained.contains("PushedFilters") && explained.contains("ann_bucket"),
      s"expected pushed bucket filter in plan:\n$explained")
    // probe set always contains the query's own bucket -> vec 1 itself found
    assert(restricted.select("vec_id").as[Long].collect().contains(1L))
  }

  test("annTopKIndexed with ingest dim < vector length probes the right buckets (ADVICE r3)") {
    // stored buckets truncate planes to dim=16; the query bucket must use
    // the identical truncation or the self row escapes its own bucket
    val q = embs.filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0)
    val indexed = Similarity.withAnnBucket(embs, "embedding", dim = 16)
    val hit = Similarity.annTopKIndexed(indexed, "embedding", q, 5,
      probeHamming = 0, dim = 16)
      .select("vec_id").as[Long].collect()
    assert(hit.contains(3L), "query's own vector must be in its probe bucket")
  }

  test("annTopK (on-the-fly bucket) equals annTopKIndexed at same probe") {
    val q = embs.filter(col("vec_id") === 2).select("embedding").head().getSeq[Float](0)
    val a = Similarity.annTopK(embs, "embedding", q, 5, probeHamming = 2)
      .select("vec_id").as[Long].collect().toSeq
    val b = Similarity.annTopKIndexed(Similarity.withAnnBucket(embs, "embedding"),
      "embedding", q, 5, bucketCol = "ann_bucket", probeHamming = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(a == b)
  }

  test("IVF index: deterministic centroids, stored cell pruning, exact at full probe") {
    val cents = Similarity.ivfCentroids(embs, "vec_id", "embedding", k = 16)
    assert(cents.length == 16 && cents(0).length == 64)
    // deterministic: second build identical
    val cents2 = Similarity.ivfCentroids(embs, "vec_id", "embedding", k = 16)
    assert(cents.zip(cents2).forall { case (a, b) => a.sameElements(b) })

    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.withIvfCell(embs, "embedding", cents).sort("ivf_cell")
      .write.mode("overwrite").parquet(s"$dir/emb")
    val indexed = spark.read.parquet(s"$dir/emb")
    val q = embs.filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0)

    // full probe == exact brute force
    val full = Similarity.ivfTopK(indexed, "embedding", cents, q, 5, nprobe = 16)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(embs, "embedding", q, 5).select("vec_id").as[Long].collect().toSeq
    assert(full == brute)

    // restricted probe: pushed filter on the stored cell + query's own row found
    val restricted = Similarity.ivfTopK(indexed, "embedding", cents, q, 5, nprobe = 2)
    val plan = restricted.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("ivf_cell"), plan.take(2000))
    assert(restricted.select("vec_id").as[Long].collect().contains(3L))
  }

  test("kmeansCentroids: one iteration is exactly ivfCentroids; build is deterministic") {
    val one = Similarity.kmeansCentroids(embs, "vec_id", "embedding", k = 16, iters = 1)
    val ivf = Similarity.ivfCentroids(embs, "vec_id", "embedding", k = 16)
    assert(one.zip(ivf).forall { case (a, b) => a.sameElements(b) })
    val three = Similarity.kmeansCentroids(embs, "vec_id", "embedding", k = 16, iters = 3)
    val three2 = Similarity.kmeansCentroids(embs, "vec_id", "embedding", k = 16, iters = 3)
    assert(three.zip(three2).forall { case (a, b) => a.sameElements(b) })
  }

  test("kmeansCentroids converges to two well-separated cluster means by iteration") {
    import spark.implicits._
    // two tight clusters around (0,0) and (100,100); md5-order seeding can
    // start both seeds anywhere, but by 5 iterations the 2-means solution
    // must place one centroid inside each cluster
    val pts = ((1 to 20).map(i => (i.toLong, Array(0.0f + i * 0.01f, 0.0f))) ++
      (21 to 40).map(i => (i.toLong, Array(100.0f + i * 0.01f, 100.0f)))).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(pts, "vec_id", "embedding", k = 2, iters = 5)
    assert(cents.length == 2)
    val near = (c: Array[Float], x: Float, y: Float) =>
      math.abs(c(0) - x) < 5 && math.abs(c(1) - y) < 5
    assert(cents.exists(c => near(c, 0.1f, 0f)) && cents.exists(c => near(c, 100.3f, 100f)),
      s"centroids ${cents.map(_.mkString("(", ",", ")")).mkString(" ")} must land one per cluster")
    // assignment under the converged centroids splits the clusters exactly
    val cells = Similarity.withIvfCell(pts, "embedding", cents, "cell")
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toMap
    assert((1 to 20).map(i => cells(i.toLong)).distinct.size == 1)
    assert((21 to 40).map(i => cells(i.toLong)).distinct.size == 1)
    assert(cells(1L) != cells(40L))
  }

  test("kmeansCentroids: a cell that attracts no vectors keeps its previous centroid") {
    import spark.implicits._
    // k = 3 over two distinct points: at most two cells can own rows, the
    // third must carry its seed forward through every iteration unchanged
    val pts = Seq((1L, Array(0f, 0f)), (2L, Array(0f, 0f)), (3L, Array(10f, 10f)))
      .toDF("vec_id", "embedding")
    val seeds = Similarity.kmeansCentroids(pts, "vec_id", "embedding", k = 3, iters = 1)
    val after = Similarity.kmeansCentroids(pts, "vec_id", "embedding", k = 3, iters = 4)
    // every final centroid is either an occupied-cell mean or a seed value
    assert(after.length == 3)
    val seedSet = seeds.map(_.toSeq).toSet ++ Set(Seq(0f, 0f), Seq(10f, 10f))
    assert(after.forall(c => seedSet.contains(c.toSeq)),
      s"unexpected centroid drift: ${after.map(_.mkString("(", ",", ")")).mkString(" ")}")
  }

  test("incremental minhash: new batch probes stored signatures, old-old never emitted") {
    import spark.implicits._
    val mk = (id: Long, text: String) => (id, text)
    // old snapshot: 1 and 2 are exact dups of each other (old-old — must
    // NOT be emitted); new batch: 10 duplicates old-1, 11 is novel,
    // 12 duplicates 11's batch-mate 13 (new-new — must be emitted)
    val old = Seq(mk(1, "the quick brown fox jumps over the lazy dog"),
      mk(2, "the quick brown fox jumps over the lazy dog"),
      mk(3, "completely different old content here")).toDF("doc_id", "text")
    val nu = Seq(mk(10, "the quick brown fox jumps over the lazy dog"),
      mk(11, "novel new content nothing like it"),
      mk(12, "shared new batch text exactly alike"),
      mk(13, "shared new batch text exactly alike")).toDF("doc_id", "text")
    val oldSigs = Dedup.minhashSignatureTable(old, "doc_id", "text", k = 2)
    val newSigs = Dedup.minhashSignatureTable(nu, "doc_id", "text", k = 2)
    val got = Dedup.minhashPairsIncremental(newSigs, oldSigs, "doc_id", threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == Set((1L, 10L), (2L, 10L), (12L, 13L)),
      s"expected cross-slice + new-new dups only; got ${got.keySet}")
    assert(got.values.forall(_ == 1.0), "exact dups estimate jaccard 1.0")
    // the old-old dup (1,2) was already in the snapshot: never re-emitted
    assert(!got.contains((1L, 2L)))
  }

  test("incremental minhash fast signatures probe identically on planted dups") {
    import spark.implicits._
    val old = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different old content here")).toDF("doc_id", "text")
    val nu = Seq((10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "novel new content nothing like it")).toDF("doc_id", "text")
    val got = Dedup.minhashPairsIncremental(
        Dedup.minhashSignatureTableFast(nu, "doc_id", "text", k = 2),
        Dedup.minhashSignatureTableFast(old, "doc_id", "text", k = 2),
        "doc_id", threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map((1L, 10L) -> 1.0), s"fast-signature probe: $got")
  }

  test("stored-snapshot probe: bucketed snapshot never exchanges before its joins; results match") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sigsnap").toString
    val old = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different old content here")).toDF("doc_id", "text")
    val nu = Seq((10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "novel new content nothing like it"),
      (12L, "shared new batch text exactly alike"),
      (13L, "shared new batch text exactly alike")).toDF("doc_id", "text")
    val oldSigs = Dedup.minhashSignatureTable(old, "doc_id", "text", k = 2)
    val newSigs = Dedup.minhashSignatureTable(nu, "doc_id", "text", k = 2)
    Dedup.writeSignatureSnapshot(oldSigs, "b_sigsnap", s"$dir/sigs", "doc_id", buckets = 4)
    try {
      val stored = Dedup.readSignatureSnapshot(spark, "b_sigsnap")
      val expect = Dedup.minhashPairsIncremental(newSigs, oldSigs, "doc_id", threshold = 0.9)
        .as[(Long, Long, Double)].collect().toSet
      // merge hint pins the 100 TB-realistic strategy for the id lookup —
      // at test scale the planner would happily broadcast the tiny snapshot
      // (same idiom as BucketedJoinSpec)
      val probe = Dedup.minhashPairsIncrementalStored(newSigs, stored.hint("merge"),
        "doc_id", threshold = 0.9)
      assert(probe.as[(Long, Long, Double)].collect().toSet == expect,
        "stored-side probe must emit exactly the plain incremental probe's pairs")
      assert(expect.map(p => (p._1, p._2)) == Set((1L, 10L), (2L, 10L), (12L, 13L)))
      // plan audit (static plan — AQE would hide the tree in stages): the
      // snapshot scan's rows must reach their FIRST join un-exchanged, both
      // in the banding probe (new side broadcast) and the id lookup
      // (bucketed layout). Exchanges above the join shrink candidate pairs,
      // not the corpus — those are fine.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val plan2 = Dedup.minhashPairsIncrementalStored(newSigs, stored.hint("merge"),
          "doc_id", threshold = 0.9).queryExecution.executedPlan
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        def paths(p: SparkPlan, anc: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.mkString(",").contains(dir) => Seq(anc)
          case other => other.children.flatMap(c => paths(c, other :: anc))
        }
        val found = paths(plan2, Nil)
        assert(found.nonEmpty, s"snapshot scans must appear in the plan:\n$plan2")
        for (path <- found) {
          val belowJoin = path.takeWhile(n => !n.getClass.getSimpleName.contains("Join"))
          assert(!belowJoin.exists(_.getClass.getSimpleName.contains("Exchange")),
            s"stored snapshot rows must not be exchanged before their join:\n$plan2")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    } finally spark.sql("DROP TABLE IF EXISTS b_sigsnap")
  }

  test("pre-banded snapshot probe: no explode/hash above the stored scan; results match") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bandsnap").toString
    val old = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different old content here")).toDF("doc_id", "text")
    val nu = Seq((10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "novel new content nothing like it")).toDF("doc_id", "text")
    val oldSigs = Dedup.minhashSignatureTable(old, "doc_id", "text", k = 2)
    val newSigs = Dedup.minhashSignatureTable(nu, "doc_id", "text", k = 2)
    Dedup.writeSignatureSnapshot(oldSigs, "b_bsn_sigs", s"$dir/sigs", "doc_id", buckets = 4)
    Dedup.writeBandedSnapshot(oldSigs, "b_bsn_banded", s"$dir/banded", "doc_id", buckets = 4)
    try {
      val sigs = Dedup.readSignatureSnapshot(spark, "b_bsn_sigs")
      val banded = graft.io.Bucketed.read(spark, "b_bsn_banded")
      val expect = Dedup.minhashPairsIncremental(newSigs, oldSigs, "doc_id", threshold = 0.9)
        .as[(Long, Long, Double)].collect().toSet
      val probe = Dedup.minhashPairsIncrementalBanded(newSigs, sigs.hint("merge"),
        banded.hint("merge"), "doc_id", threshold = 0.9)
      assert(probe.as[(Long, Long, Double)].collect().toSet == expect,
        "pre-banded probe must emit exactly the plain incremental probe's pairs")
      assert(expect.map(p => (p._1, p._2)) == Set((1L, 10L), (2L, 10L)))
      // plan audit: the banded snapshot's rows must reach their first join
      // with NO Exchange and NO Generate (the whole point — banding is
      // read, never re-exploded/re-hashed per probe)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val plan2 = Dedup.minhashPairsIncrementalBanded(newSigs, sigs.hint("merge"),
          banded.hint("merge"), "doc_id", threshold = 0.9).queryExecution.executedPlan
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        def paths(p: SparkPlan, anc: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.mkString(",").contains(s"$dir/banded") => Seq(anc)
          case other => other.children.flatMap(c => paths(c, other :: anc))
        }
        val found = paths(plan2, Nil)
        assert(found.nonEmpty, s"banded snapshot scan must appear in the plan:\n$plan2")
        for (path <- found) {
          val belowJoin = path.takeWhile(n => !n.getClass.getSimpleName.contains("Join"))
          assert(!belowJoin.exists(n => n.getClass.getSimpleName.contains("Exchange") ||
              n.getClass.getSimpleName.contains("Generate")),
            s"stored banding must be read as-is (no shuffle, no re-explode):\n$plan2")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      // a probe with a different banding spec than the snapshot must fail
      // loudly at call time, not silently miss every pair
      val e = intercept[IllegalArgumentException] {
        Dedup.minhashPairsIncrementalBanded(newSigs, sigs, banded, "doc_id",
          numHashes = 16, bands = 8)
      }
      assert(e.getMessage.contains("key_16x8"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_bsn_sigs")
      spark.sql("DROP TABLE IF EXISTS b_bsn_banded")
    }
  }

  test("incremental minhash rejects mixed signature specs and width mismatches loudly") {
    import spark.implicits._
    val old = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val nu = Seq((10L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    // md5 snapshot probed with xxhash batch (and vice versa): array<string>
    // vs array<bigint> — must fail AT CALL TIME, not silently string-coerce
    val exc = intercept[IllegalArgumentException] {
      Dedup.minhashPairsIncremental(
        Dedup.minhashSignatureTableFast(nu, "doc_id", "text", k = 2),
        Dedup.minhashSignatureTable(old, "doc_id", "text", k = 2), "doc_id")
    }
    assert(exc.getMessage.contains("signature spec mismatch"))
    // same spec but a snapshot stored with numHashes=32 probed at the
    // default 16: banding must raise at execution, not band a prefix and
    // emit mis-scaled estimates
    val old32 = Dedup.minhashSignatureTable(old, "doc_id", "text", k = 2, numHashes = 32)
    val new16 = Dedup.minhashSignatureTable(nu, "doc_id", "text", k = 2, numHashes = 16)
    val e2 = intercept[Exception] {
      Dedup.minhashPairsIncremental(new16, old32, "doc_id", numHashes = 16).collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("minhash spec mismatch"),
      s"width mismatch must raise in-plan: ${e2.getMessage}")
  }

  test("banded probe raises on a signature snapshot whose width disagrees with the banded table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bandsnap_mismatch").toString
    val old = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val nu = Seq((10L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val oldSigs16 = Dedup.minhashSignatureTable(old, "doc_id", "text", k = 2, numHashes = 16)
    val oldSigs32 = Dedup.minhashSignatureTable(old, "doc_id", "text", k = 2, numHashes = 32)
    // banded table from the 16-wide signatures, signature snapshot from a
    // DIFFERENT (32-wide) write — the column-name check passes (key_16x4
    // exists), candidates pair (1,10), and the estimate lookup must now
    // raise on the 32-component stored signature instead of silently
    // mis-scaling est_jaccard via zip_with null-padding
    Dedup.writeSignatureSnapshot(oldSigs32, "b_bsn_mm_sigs", s"$dir/sigs", "doc_id", buckets = 2)
    Dedup.writeBandedSnapshot(oldSigs16, "b_bsn_mm_banded", s"$dir/banded", "doc_id",
      numHashes = 16, bands = 4, buckets = 2)
    try {
      val newSigs = Dedup.minhashSignatureTable(nu, "doc_id", "text", k = 2, numHashes = 16)
      val e = intercept[Exception] {
        Dedup.minhashPairsIncrementalBanded(newSigs,
          Dedup.readSignatureSnapshot(spark, "b_bsn_mm_sigs"),
          graft.io.Bucketed.read(spark, "b_bsn_mm_banded"), "doc_id",
          numHashes = 16, bands = 4, threshold = 0.0).collect()
      }
      assert(e.getMessage != null && e.getMessage.contains("minhash spec mismatch"),
        s"snapshot/banded-table width mismatch must raise in-plan: ${e.getMessage}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_bsn_mm_sigs")
      spark.sql("DROP TABLE IF EXISTS b_bsn_mm_banded")
    }
  }

  test("plain incremental wrapper keeps at most 8 live banding caches across looped probes") {
    import spark.implicits._
    val old = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val oldSigs = Dedup.minhashSignatureTable(old, "doc_id", "text", k = 2)
    (0 until 12).foreach { i =>
      val nu = Seq((100L + i, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")
      val pairs = Dedup.minhashPairsIncremental(
        Dedup.minhashSignatureTable(nu, "doc_id", "text", k = 2), oldSigs, "doc_id")
      assert(pairs.count() == 1)
    }
    assert(Dedup.liveBandingCacheCount <= 8,
      "the plain wrapper's banding caches must stay bounded (oldest unpersisted)")
  }

  test("operator scratch caches stay bounded across looped calls, results survive eviction") {
    import spark.implicits._
    // 12 cross-table joins x 3 scratch entries each = 36 registrations > the
    // 32-entry FIFO bound: the oldest must be unpersisted, the count capped,
    // and an early frame still computes correctly afterwards (recompute path)
    val l = Seq(("a", Array(1.0f, 0.0f)), ("b", Array(0.9f, 0.1f))).toDF("lid", "v")
    val r = Seq(("x", Array(1.0f, 0.0f))).toDF("rid", "v")
    val first = Dedup.embeddingJoin(l, "lid", "v", r, "rid", "v",
      planes = 8, bands = 8, threshold = 0.9)
    assert(first.count() >= 1)
    (0 until 12).foreach { i =>
      val li = Seq((s"a$i", Array(1.0f, i.toFloat))).toDF("lid", "v")
      assert(Dedup.embeddingJoin(li, "lid", "v", r, "rid", "v",
        planes = 8, bands = 8, threshold = -1.0).count() >= 1)
    }
    assert(graft.ops.ScratchCache.liveCount <= 32,
      "scratch caches must stay bounded (oldest unpersisted)")
    // the first join's scratch entries are evicted by now; the frame must
    // still evaluate (cache miss degrades to recompute, never to an error)
    assert(first.count() >= 1)
  }

  test("hammingPairs spreads only NARROW inputs; shuffled inputs add no extra exchange") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hamm_spread").toString
    val rows = (0 until 40).map(i => (i.toLong, f"${i.toLong * 0x9e3779b97f4a7c15L}%016x"))
    rows.toDF("id", "sig").coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir) // one file, narrow → spread fires
    val p1 = Dedup.hammingPairsPlanned(scan, "id", "sig", 3).queryExecution.executedPlan.toString
    assert(p1.contains("RoundRobinPartitioning"),
      s"a single-partition scan must be spread before the signature collapse:\n$p1")
    // an input that already shuffled (groupBy upstream) is spread across
    // shuffle.partitions by construction — no round-robin exchange on top
    val shuffled = scan.groupBy("sig").agg(min("id").as("id")).select("id", "sig")
    val p2 = Dedup.hammingPairsPlanned(shuffled, "id", "sig", 3).queryExecution.executedPlan.toString
    assert(!p2.contains("RoundRobinPartitioning"),
      s"an already-shuffled input must not pay an extra full exchange:\n$p2")
    // a coalesce(1) is a RepartitionOperation but NARROW — it concentrates
    // rows on one partition, the exact shape that must be spread (r14
    // advice: the trait match treated it as already-shuffled)
    val collapsed = shuffled.coalesce(1)
    val p3 = Dedup.hammingPairsPlanned(collapsed, "id", "sig", 3).queryExecution.executedPlan.toString
    assert(p3.contains("RoundRobinPartitioning"),
      s"a coalesce(1)d upstream concentrates on one partition and must be spread:\n$p3")
    // both paths agree on results
    val a = Dedup.hammingPairs(scan, "id", "sig", 3)
      .as[(Long, Long, Int)].collect().toSet
    val b = Dedup.hammingPairs(shuffled, "id", "sig", 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(a == b)
  }

  test("hammingPairs/Join raise loudly on malformed signatures; nulls still drop") {
    import spark.implicits._
    val bad = Seq((1L, "0123456789abcdef"), (2L, "not-hex-zz"), (3L, "0123456789abcdef")).toDF("id", "sig")
    val ex = intercept[Exception](Dedup.hammingPairs(bad, "id", "sig", 3).count())
    def msg(t: Throwable): String =
      Option(t).map(x => x.getMessage + " " + msg(x.getCause)).getOrElse("")
    assert(msg(ex).contains("16 hex chars"), msg(ex).take(400))
    val ok = Seq((1L, "0123456789abcdef"), (2L, null.asInstanceOf[String]),
      (3L, "0123456789abcdef")).toDF("id", "sig")
    assert(Dedup.hammingPairs(ok, "id", "sig", 3).as[(Long, Long, Int)].collect().toSet ==
      Set((1L, 3L, 0)))
    val exJ = intercept[Exception](Dedup.hammingJoin(ok, "id", "sig",
      bad.filter($"id" === 2L), "id", "sig", 3).count())
    assert(msg(exJ).contains("16 hex chars"), msg(exJ).take(400))
  }

  test("hamming band join: counted index broadcast when small, shuffle-hash past the threshold") {
    import spark.implicits._
    // both banding roles descend from the same aggregate, so Catalyst's
    // size estimates can't see the ~65x probe explode asymmetry; left to
    // itself it elected to BROADCAST the probe side (measured 19 s on an
    // 87k-candidate join, round 18). Pin both measured strategies: small
    // rep sets broadcast the INDEX (probe never shuffles), large ones pin
    // shuffle-hash building on the index side.
    val rows = (0 until 400).map(i => (i.toLong, f"${i.toLong * 0x9e3779b97f4a7c15L}%016x"))
    val df = rows.toDF("id", "sig")
    val plan = Dedup.hammingPairsPlanned(df, "id", "sig", 4).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("BuildLeft"),
      s"a small rep set must broadcast the index side:\n${plan.take(3000)}")
    val big = spark.range(250000).select(col("id"),
      substring(md5(col("id").cast("string")), 1, 16).as("sig"))
    val planBig = Dedup.hammingPairsPlanned(big, "id", "sig", 4).queryExecution.executedPlan.toString
    assert(planBig.contains("ShuffledHashJoin"),
      s"past the threshold the band candidate join must be a shuffled hash join:\n${planBig.take(3000)}")
    val joined = Dedup.hammingJoinPlanned(df, "id", "sig", df.limit(50), "id", "sig", 4)
    val plan2 = joined.queryExecution.executedPlan.toString
    assert(plan2.contains("BroadcastHashJoin") && plan2.contains("BuildLeft"),
      s"the small cross-table band join must broadcast the index side:\n${plan2.take(3000)}")
  }

  test("hammingPairs/hammingJoin/simhashPairs run NO job at construction (lazy strategy)") {
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = (0 until 200).map(i => (i.toLong, f"${i.toLong * 0x9e3779b97f4a7c15L}%016x"))
      val df = rows.toDF("id", "sig")
      val docs = (0 until 50).map(i => (i.toLong, s"document body number $i repeated " * 3))
        .toDF("doc_id", "text")
      // listener events are asynchronous: a tiny MARKER job flushes the bus
      // (events are delivered in order, so once the marker's start lands,
      // every earlier event has too)
      def flushMarker(): Unit = {
        val seen = jobs.get()
        spark.sparkContext.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime() + 10e9.toLong
        while (jobs.get() <= seen && System.nanoTime() < deadline) Thread.sleep(20)
      }
      flushMarker()
      val before = jobs.get()
      val pairs = Dedup.hammingPairs(df, "id", "sig", 3)
      val join = Dedup.hammingJoin(df, "id", "sig", df, "id", "sig", 3)
      val sim = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      flushMarker() // exactly ONE job (the marker) may appear past `before`
      assert(jobs.get() == before + 1,
        s"constructing the DataFrames submitted ${jobs.get() - before - 1} job(s); " +
          "the strategy count must defer to the first action")
      // the deferred strategy decision runs at the first action — and the
      // results match the eager (Planned) variants exactly
      assert(pairs.as[(Long, Long, Int)].collect().toSet ==
        Dedup.hammingPairsPlanned(df, "id", "sig", 3).as[(Long, Long, Int)].collect().toSet)
      assert(join.count() ==
        Dedup.hammingJoinPlanned(df, "id", "sig", df, "id", "sig", 3).count())
      assert(sim.count() >= 0)
      assert(jobs.get() > before, "the action path must have run the deferred jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("minhashDedup maps near-dup rows to the smallest id in their cluster") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (20L, "the quick brown fox jumps over the lazy dog today"),
      (30L, "completely different text about distributed query engines and state"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashDedup(corpus, "doc_id", "text", k = 3, threshold = 0.9)
    val m = out.select("doc_id", "canonical_id").as[(Long, Long)].collect().toMap
    assert(m(10L) == 10L && m(20L) == 10L && m(30L) == 30L)
  }

  test("connectedComponents collapses chains transitively (large-star/small-star)") {
    // chain 1-2-3-4-5 given only as consecutive pairs: one-hop min-neighbor
    // would label 5 with 4; the transitive answer is 1 for every node
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(got(_) == 1L))
    assert(got(8L) == 8L && got(9L) == 8L)
  }

  test("connectedComponents tolerates duplicates, reversed edges, self-loops") {
    val pairs = Seq((2L, 1L), (1L, 2L), (2L, 1L), (7L, 7L), (3L, 2L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L))
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b")).isEmpty)
  }

  test("connectedComponents matches a local union-find on a random graph") {
    val rng = new scala.util.Random(7)
    val n = 300
    val edges = Seq.fill(260)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => id -> {
        // root of the union-find tree is the component minimum because
        // unions always point the larger root at the smaller
        find(id.toInt).toLong
      }).toMap
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("connectedComponents: distributed star loop ≡ bounded local fast path") {
    // the r21 local union-find fast path shadows the star-contraction loop
    // on every small graph; force the distributed loop (guard = 0) and pin
    // label parity on a graph with chains, merges, dups and self-loops so
    // the 100 TB path stays covered
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 4L), (8L, 9L),
      (20L, 21L), (21L, 20L), (30L, 30L)) ++
      (100L until 140L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val limitKey = "spark.graft.cc.localEdgeLimit"
    spark.conf.set(limitKey, "0")
    val loop =
      try Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
      finally spark.conf.unset(limitKey)
    val fast = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(loop == fast)
    assert(loop(4L) == 1L && loop(8L) == 1L && loop(9L) == 1L)
    assert(loop(30L) == 30L && loop(140L) == 100L)
  }

  test("connectedComponents at maxIterations emits exactly one label per node (no dup rows)") {
    // a 64-node path needs several star rounds to reach the fixpoint;
    // capping at 1 iteration exercises the non-converged exit. The contract:
    // still exactly one row per node (min-known-root aggregation), every
    // label is a node id from the same true component, and label <= id —
    // so a downstream dedup join can never duplicate document rows.
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, maxIterations = 1).as[(Long, Long)].collect()
    assert(got.length == 64, "one row per node even without convergence")
    assert(got.map(_._1).distinct.length == 64, "no duplicate node rows")
    assert(got.forall { case (id, c) => c <= id && c >= 1L })
    // and the same input converges to all-1 labels when uncapped
    val full = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    assert(full.forall(_._2 == 1L))
  }

  test("connected-components family runs no job at construction") {
    val dir = java.nio.file.Files.createTempDirectory("cc_lazy").toString
    try {
      Seq((1L, 2L), (3L, 2L), (3L, 4L), (10L, 11L), (7L, 7L)).toDF("id_a", "id_b")
        .write.parquet(s"$dir/pairs")
      Seq(("b", "a"), ("c", "b"), ("y", "x"), ("z", "z")).toDF("id_a", "id_b")
        .write.parquet(s"$dir/spairs")
      Seq((2L, 3L), (4L, 10L), (20L, 21L)).toDF("id_a", "id_b").write.parquet(s"$dir/newpairs")
      (1L to 12L).map(i => (i, i * 7 % 5)).toDF("id", "score").write.parquet(s"$dir/scored")
      // reading a parquet directory infers its schema with a job: read first
      val pairs = spark.read.parquet(s"$dir/pairs")
      val spairs = spark.read.parquet(s"$dir/spairs")
      val newPairs = spark.read.parquet(s"$dir/newpairs")
      val scored = spark.read.parquet(s"$dir/scored")
      val ((cc, scc, inc, keep, split), jobs) = SparkTestBase.jobsDuring((
        Dedup.connectedComponents(pairs),
        Dedup.connectedComponents(spairs),
        Dedup.connectedComponentsIncremental(Dedup.connectedComponents(pairs), newPairs),
        Dedup.keepClusterRepresentatives(scored, pairs, "id", "score"),
        Dedup.clusterAwareSplit(scored.select("id"), pairs, "id", valFraction = 0.5)))
      assert(jobs == 0, s"building the labeling frames submitted $jobs job(s)")

      val labels = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 7L -> 7L)
      assert(cc.as[(Long, Long)].collect().toMap == labels)
      assert(scc.as[(String, String)].collect().toMap ==
        Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x", "z" -> "z"))
      assert(inc.as[(Long, Long)].collect().toMap ==
        labels.map { case (id, c) => id -> (if (c == 10L) 1L else c) } ++
          Map(20L -> 20L, 21L -> 20L))
      // scores i * 7 % 5: {1..4} keeps 2 (score 4), {10, 11} keeps 11 (score 2)
      assert(keep.select("id", "component", "csize").as[(Long, Long, Long)].collect().toSet ==
        Set((2L, 1L, 4L), (11L, 10L, 2L), (7L, 7L, 1L)) ++
          Seq(5L, 6L, 8L, 9L, 12L).map(i => (i, i, 1L)))
      val splitRows = split.select("id", "component", "split").as[(Long, Long, String)].collect()
      assert(splitRows.map(r => r._1 -> r._2).toMap ==
        (1L to 12L).map(i => i -> labels.getOrElse(i, i)).toMap)
      assert(splitRows.groupBy(_._2).values.forall(_.map(_._3).distinct.length == 1))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** Collects a labeling frame itself (a typed view would plan and run a
    * copy), so [[tookLoop]] can read the node that ran. */
  private def labelsOf[T](df: DataFrame): Map[T, T] =
    df.collect().map(r => r.getAs[T](0) -> r.getAs[T](1)).toMap

  /** The executed connected-components node of an already-collected frame. */
  private def ccExec(df: DataFrame): graft.plans.ConnectedComponentsExec = {
    object aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val found = aqe.collect(df.queryExecution.executedPlan) {
      case e: graft.plans.ConnectedComponentsExec => e
    }
    assert(found.length == 1, df.queryExecution.executedPlan.toString)
    found.head
  }
  private def tookLoop(df: DataFrame): Boolean = {
    val e = ccExec(df)
    val (local, rounds) = (e.metrics("localLabels").value, e.metrics("loopRounds").value)
    assert((local == 0) != (rounds == 0), s"exactly one path runs: $local labels, $rounds rounds")
    rounds > 0
  }

  test("connectedComponents: the guard is read at construction, the path chosen at execution") {
    val limitKey = "spark.graft.cc.localEdgeLimit"
    val pairs = (Seq((1L, 2L), (2L, 3L), (9L, 3L), (5L, 6L), (7L, 7L)) ++
      (100L until 130L).map(i => (i + 1, i))).toDF("id_a", "id_b")
    spark.conf.set(limitKey, "0")
    val forced = try Dedup.connectedComponents(pairs) finally spark.conf.unset(limitKey)
    val loop = labelsOf[Long](forced)
    assert(tookLoop(forced), "a frame built with the guard at 0 takes the loop")
    val default = Dedup.connectedComponents(pairs)
    val local = labelsOf[Long](default)
    assert(!tookLoop(default))
    assert(loop == local)
    assert(local(9L) == 1L && local(7L) == 7L && local(130L) == 100L)
  }

  test("connectedComponents: a partition or a total over the guard falls back to the loop") {
    val limitKey = "spark.graft.cc.localEdgeLimit"
    // one slice per partition: partition 0 holds the 21-node chain 0..20,
    // partitions 1-3 a 4-node chain each; (20, 101) and (204, 301) link
    // chains held by different partitions, so the merge must join
    // them: components {0..20, 101..104} and {201..204, 301..304}
    def chain4(b: Long) = Seq((b + 2, b + 1), (b + 3, b + 2), (b + 4, b + 3))
    val slices = Seq((0L until 20L).map(i => (i, i + 1)),
      chain4(100) :+ ((20L, 101L)), chain4(200) :+ ((204L, 204L)), chain4(300) :+ ((204L, 301L)))
    val pairs = spark.sparkContext.parallelize(slices, 4).flatMap(identity).toDF("id_a", "id_b")
    assert(pairs.rdd.glom().map(_.length).collect().toSeq == Seq(20, 4, 4, 4))
    def labelsAt(limit: Long): (Map[Long, Long], Boolean) = {
      spark.conf.set(limitKey, limit.toString)
      val df = try Dedup.connectedComponents(pairs) finally spark.conf.unset(limitKey)
      (labelsOf[Long](df), tookLoop(df))
    }
    val (local, localLoop) = labelsAt(1000)
    assert(!localLoop)
    val (partOver, partLoop) = labelsAt(10) // partition 0 alone holds 21 nodes
    assert(partLoop && partOver == local)
    val (totalOver, totalLoop) = labelsAt(25) // each partition fits, the merge holds 33
    assert(totalLoop && totalOver == local)
    assert(local.size == 33)
    assert(((0L to 20L) ++ (101L to 104L)).forall(local(_) == 0L))
    assert(((201L to 204L) ++ (301L to 304L)).forall(local(_) == 201L))
  }

  test("connectedComponents: string ids label each node with its component's smallest string") {
    val rng = new scala.util.Random(11)
    val names = (0 until 60).map(i => f"n${(i * 37) % 60}%02d")
    val edges = Seq.fill(45)((names(rng.nextInt(60)), names(rng.nextInt(60))))
    // driver-side union-find: union points the larger root at the smaller
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val df = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
    assert(labelsOf[String](df) == expected)
    assert(tookLoop(df), "non-integral ids take the loop")
  }

  test("connectedComponents output joins with itself") {
    val cc = Dedup.connectedComponents(Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b"))
    assert(cc.join(cc, "id").toDF("id", "c1", "c2").as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 1L), (5L, 5L, 5L), (6L, 5L, 5L)))
  }

  test("minhashDedup canonicalizes transitive chains A~B~C without a direct A~C pair") {
    // B shares >=90% shingles with both A and C, but A and C differ enough
    // that only the chain connects them — canonical id must still be A's
    val mid = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val corpus = Seq(
      (10L, s"STARTA $mid"),
      (20L, s"$mid"),
      (30L, s"$mid ENDC"))
      .toDF("doc_id", "text")
    // Jaccard(10,20) = Jaccard(20,30) = 10/11 ≈ 0.909; Jaccard(10,30) = 10/12
    val out = Dedup.minhashDedup(corpus, "doc_id", "text", k = 3, threshold = 0.9)
    val m = out.select("doc_id", "canonical_id").as[(Long, Long)].collect().toMap
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", k = 3, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 20L), (20L, 30L)))
    assert(m(10L) == 10L && m(20L) == 10L && m(30L) == 10L)
  }

  test("knnJoin returns k best bucket-mates per id, symmetric pairs") {
    val knn = Similarity.knnJoin(embs.limit(200), "vec_id", "embedding", k = 3)
    val counts = knn.groupBy("id_a").agg(count(lit(1)).as("n")).select("n").as[Long].collect()
    assert(counts.nonEmpty && counts.forall(_ <= 3))
  }

  test("knnJoin adaptive defaults: >=20-bit band keys, recall solved from the threshold") {
    // the banding math itself: 20-bit keys fixed, tables from the recall target
    val (pl9, bd9) = Similarity.knnBanding(0.9, 0.9)
    assert(pl9 / bd9 == Similarity.KnnRpb, "band keys must stay >= 20 bits")
    val p = 1.0 - math.acos(0.9) / math.Pi
    val eff = 1.0 - math.pow(1.0 - math.pow(p, Similarity.KnnRpb), bd9.toDouble)
    assert(eff >= 0.9, s"solved table count must hit the recall target, got $eff")
    // sharper threshold -> fewer tables needed
    val (_, bd95) = Similarity.knnBanding(0.95, 0.9)
    assert(bd95 < bd9)
    // unattainable low threshold caps the table count instead of exploding
    val (plLo, bdLo) = Similarity.knnBanding(0.45, 0.9)
    assert(bdLo == Similarity.KnnMaxBands && plLo == bdLo * Similarity.KnnRpb)
    // exact clones (cosine 1) share every band key, so the selective default
    // still finds them with certainty — the dedup-graph shape at scale
    val cloned = embs.limit(50).unionByName(
      embs.limit(50).withColumn("vec_id", col("vec_id") + 1000000L))
    val knn = Similarity.knnJoin(cloned, "vec_id", "embedding", k = 1)
    val top = knn.filter(col("id_a") < 1000000L)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.minBy(t => (-t._3, t._2))).toMap
    assert(top.size == 50 && top.forall { case (a, (_, b, c)) =>
      b == a + 1000000L && math.abs(c - 1.0) < 1e-12 },
      "every vector's top-1 under adaptive defaults must be its exact clone at cosine ~1.0")
  }

  test("cdcChunks: partition of the text, and boundaries are offset-invariant") {
    val shared = "the quick brown fox jumps over the lazy dog and keeps running far away " * 8
    val df = Seq(
      (1L, shared),
      (2L, "XXXXX prefix of different length 12345 " + shared), // shifted copy
      (3L, ""), (4L, null.asInstanceOf[String]), (5L, "tiny")).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(df, "doc_id", "text", k = 8).cache()
    // chunks partition each non-empty doc: lengths sum to text length
    val lens = ch.groupBy("doc_id").agg(sum("chunk_len").as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lens(1L) == shared.length && lens(5L) == 4)
    assert(!lens.contains(3L) && !lens.contains(4L)) // empty/null -> no chunks
    // offset invariance: once past the perturbed prefix, doc 2 re-synchronizes
    // on doc 1's boundaries, so nearly all of doc 1's chunk hashes recur in 2
    val h1 = ch.filter(col("doc_id") === 1).select("chunk_hash").as[String].collect().toSet
    val h2 = ch.filter(col("doc_id") === 2).select("chunk_hash").as[String].collect().toSet
    assert(h1.nonEmpty && (h1 intersect h2).size >= h1.size - 2)
    val stats = Dedup.cdcDedupStats(df, "doc_id", "text", k = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats(3L) == ((0L, 0L)) && stats(4L) == ((0L, 0L)))
    assert(stats(1L)._2 >= stats(1L)._1 - 2) // nearly every chunk of 1 is duplicated in 2
    assert(stats(5L) == ((1L, 0L)))
    ch.unpersist()
  }

  test("semDedup drops exactly the larger-id member of each within-cell dup pair") {
    val base = embs.filter(col("embedding").isNotNull).select("vec_id", "embedding")
    val mx = base.agg(max("vec_id")).as[Long].head()
    val clones = base.filter(col("vec_id") === 3L)
      .select(lit(mx + 1).as("vec_id"), col("embedding"))
      .unionByName(base.filter(col("vec_id") === 3L)
        .select(lit(mx + 2).as("vec_id"), col("embedding")))
    val out = Dedup.semDedup(base.unionByName(clones), "vec_id", "embedding",
      clusters = 8, tau = 0.9)
    val byId = out.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    // clones land in the original's cluster; both dropped (3 is the min id)
    assert(byId(mx + 1)._1 == byId(3L)._1 && byId(mx + 2)._1 == byId(3L)._1)
    assert(byId(3L)._2 && !byId(mx + 1)._2 && !byId(mx + 2)._2)
    // exactly one row per input id, and a keep=true representative exists in
    // every cluster that dropped anything
    assert(out.count() == base.count() + 2)
    val dropped = out.filter(!col("keep")).select("cluster").distinct().as[Int].collect().toSet
    val kept = out.filter(col("keep")).select("cluster").distinct().as[Int].collect().toSet
    assert(dropped.subsetOf(kept))
  }

  test("semDedup keep rule is not transitive-greedy: chain keeps the minimum only when linked") {
    // a (id 0) ~ b (id 1) at cosine 1; c (id 2) orthogonal: c untouched
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(df, "vec_id", "embedding", clusters = 2, tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(0L -> true, 1L -> false, 2L -> true))
  }

  private def localWindows(rows: Seq[(Long, String)], l: Int): Seq[(Long, Int, String)] =
    rows.flatMap { case (id, t) =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      (0 to toks.length - l).map(p => (id, p + 1, toks.slice(p, p + l).mkString(" ")))
    }

  private def mergeLocal(ps0: Seq[Int], l: Int): Seq[(Int, Int)] = {
    val ps = ps0.distinct.sorted
    if (ps.isEmpty) return Nil
    val spans = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var (s, e) = (ps.head, ps.head)
    for (p <- ps.tail) {
      if (p - e <= l) e = p
      else { spans += ((s, e - s + l)); s = p; e = p }
    }
    spans += ((s, e - s + l))
    spans.toSeq
  }

  /** Local reference for [[Dedup.repeatedSpans]]: windows of length l that
    * occur >= 2 times anywhere, positions merged per doc at gap <= l. */
  private def bruteSpans(rows: Seq[(Long, String)], l: Int): Set[(Long, Int, Int)] = {
    val wins = localWindows(rows, l)
    val cnt = wins.groupBy(_._3).view.mapValues(_.size).toMap
    wins.filter(w => cnt(w._3) >= 2).groupBy(_._1).flatMap { case (id, ws) =>
      mergeLocal(ws.map(_._2), l).map { case (st, len) => (id, st, len) }
    }.toSet
  }

  test("repeatedSpans equals brute force on the corpus (l=5 and l=3)") {
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq
    for (l <- Seq(3, 5)) {
      val got = Dedup.repeatedSpans(docs, "doc_id", "text", minTokens = l)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(got == bruteSpans(rows, l), s"l=$l")
    }
  }

  test("repeatedSpans: cross-doc, within-doc, and gap<l merge semantics") {
    val df = Seq(
      // doc 1/2 share "a b c d e f" -> windows at two positions each, merged
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e f q"),
      // doc 3 repeats "p q r s t" within itself at gap 7 > 5: two spans
      (3L, "p q r s t z1 z2 p q r s t"),
      // doc 4 is clean: no window occurs twice
      (4L, "u1 u2 u3 u4 u5 u6"),
      // doc 5 shorter than the window: never a candidate
      (5L, "v1 v2")).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(df, "doc_id", "text", minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((1L, 1, 6), (2L, 3, 6), (3L, 1, 5), (3L, 8, 5)))
    assert(got == bruteSpans(Seq(
      (1L, "a b c d e f g h"), (2L, "x y a b c d e f q"),
      (3L, "p q r s t z1 z2 p q r s t"), (4L, "u1 u2 u3 u4 u5 u6"),
      (5L, "v1 v2")), 5))
  }

  test("removeRepeatedSpans cuts exactly the span-covered tokens (brute parity)") {
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq
    val l = 5
    val covered = bruteSpans(rows, l).groupBy(_._1).view.mapValues(
      _.flatMap { case (_, st, len) => st until (st + len) }.toSet).toMap
    val expected = rows.map { case (id, t) =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      val cov = covered.getOrElse(id, Set.empty)
      val kept = toks.zipWithIndex.collect { case (tok, i) if !cov(i + 1) => tok }
      id -> ((kept.mkString(" "), kept.length.toLong))
    }.toMap
    val got = Dedup.removeRepeatedSpans(docs, "doc_id", "text", minTokens = l)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == expected)
    // the cut is real on this corpus: some doc lost tokens, some kept all
    val nToks = rows.map { case (id, t) =>
      id -> t.trim.split("\\s+").count(_.nonEmpty).toLong }.toMap
    assert(got.exists { case (id, (_, n)) => n < nToks(id) })
    assert(got.exists { case (id, (_, n)) => n == nToks(id) })
  }

  test("repeatedSpansIncrementalStored equals brute force; snapshot side joins bucketed") {
    val dir = java.nio.file.Files.createTempDirectory("winsnap").toString
    val l = 5
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq
    val oldRows = rows.filter(_._1 % 3 != 0)
    val newRows = rows.filter(_._1 % 3 == 0)
    Dedup.writeWindowSnapshot(docs.filter(col("doc_id") % 3 =!= 0),
      "t_winsnap", s"$dir/wins", "doc_id", "text", minTokens = l, buckets = 4)
    val stored = graft.io.Bucketed.read(spark, "t_winsnap").hint("merge")
    val out = Dedup.repeatedSpansIncrementalStored(
      docs.filter(col("doc_id") % 3 === 0), stored, "doc_id", "text", minTokens = l)
    val got = out.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

    val oldWins = localWindows(oldRows, l).map(_._3).toSet
    val newWins = localWindows(newRows, l)
    val batchCnt = newWins.groupBy(_._3).view.mapValues(_.size).toMap
    val expected = newWins
      .filter(w => oldWins(w._3) || batchCnt(w._3) >= 2)
      .groupBy(_._1).flatMap { case (id, ws) =>
        mergeLocal(ws.map(_._2), l).map { case (st, len) => (id, st, len) }
      }.toSet
    assert(got == expected)
    assert(got.nonEmpty) // the probe finds real corpus-duplicated spans

    // at-scale shape: the snapshot is read through its bucket layout, and
    // reading the same files as PLAIN parquet (bucket metadata lost) costs
    // exactly one more shuffle in the identical query. Count exchanges in
    // the FINALIZED adaptive plan only — AdaptiveSparkPlanExec.toString
    // prints both the final and the initial plan, double-counting.
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
    }
    def nExchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllMatchIn(finalPlan(df)).length
    assert(finalPlan(out).contains("SelectedBucketsCount"))
    val plain = spark.read.parquet(s"$dir/wins").hint("merge")
    val outPlain = Dedup.repeatedSpansIncrementalStored(
      docs.filter(col("doc_id") % 3 === 0), plain, "doc_id", "text", minTokens = l)
    assert(nExchanges(outPlain) == nExchanges(out) + 1,
      "bucketed snapshot must save exactly the probe-join shuffle on the stored side")
  }

  test("window snapshot append + compact: probe-identical, counts re-aggregated") {
    val dir = java.nio.file.Files.createTempDirectory("winsnap_cmp").toString
    val l = 5
    val a = docs.filter(col("doc_id") % 3 === 1)
    val b = docs.filter(col("doc_id") % 3 === 2)
    val probe = docs.filter(col("doc_id") % 3 === 0)
    // batch posture: write A, append B (duplicate (__wh,__wh2) keys allowed)
    Dedup.writeWindowSnapshot(a, "t_ws_app", s"$dir/app", "doc_id", "text", l, buckets = 4)
    Dedup.appendWindowSnapshot(b, "t_ws_app", "doc_id", "text", l)
    // reference: the same corpus written in one shot
    Dedup.writeWindowSnapshot(a.unionByName(b), "t_ws_one", s"$dir/one",
      "doc_id", "text", l, buckets = 4)
    def spans(table: String): Set[(Long, Int, Int)] =
      Dedup.repeatedSpansIncrementalStored(probe,
          graft.io.Bucketed.read(spark, table).hint("merge"), "doc_id", "text", l)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val viaAppended = spans("t_ws_app")
    assert(viaAppended == spans("t_ws_one"), "appended profile must probe like one-shot")
    assert(viaAppended.nonEmpty)
    // offline compaction: one row per distinct window again, counts summed
    Dedup.compactWindowSnapshot(spark, "t_ws_app", "t_ws_cmp", s"$dir/cmp", l, buckets = 4)
    val cmp = graft.io.Bucketed.read(spark, "t_ws_cmp")
    val one = graft.io.Bucketed.read(spark, "t_ws_one")
    assert(cmp.count() == one.count(), "compaction restores one row per distinct window")
    assert(cmp.exceptAll(one).isEmpty && one.exceptAll(cmp).isEmpty,
      "compacted rows (incl. summed counts) must equal the one-shot write")
    assert(spans("t_ws_cmp") == viaAppended, "probe unchanged by compaction")
    assert(cmp.count() < graft.io.Bucketed.read(spark, "t_ws_app").count(),
      "the corpora share windows, so compaction must actually shrink rows")
    // self-destruction guards: same table / same path refuse loudly
    assertThrows[IllegalArgumentException](
      Dedup.compactWindowSnapshot(spark, "t_ws_app", "t_ws_app", s"$dir/x", l, 4))
    assertThrows[IllegalArgumentException](
      Dedup.compactWindowSnapshot(spark, "t_ws_app", "t_ws_app2", s"$dir/app", l, 4))
  }

  test("int8 quantization: bounded error, clamped range, top-k recall vs exact") {
    import graft.ops.Similarity
    val sc = 0.015625
    val q = Similarity.quantizeI8(col("embedding"), sc)
    // every component within scale/2 of the original unless clamped
    val errs = embs.select(
      aggregate(zip_with(col("embedding"), Similarity.dequantizeToFloat(q),
          (v, qd) => abs(v.cast("double") - qd.cast("double") * sc)),
        lit(0.0), (acc, e) => greatest(acc, e)).as("maxerr"))
      .agg(max(col("maxerr"))).head().getDouble(0)
    assert(errs <= sc / 2 + 1e-9, s"per-component error must be <= scale/2: $errs")
    val bounds = embs.select(explode(q).as("b"))
      .agg(min(col("b")).cast("int"), max(col("b")).cast("int")).head()
    assert(bounds.getInt(0) >= -127 && bounds.getInt(1) <= 127)
    // quantized top-k recalls (almost all of) the exact float top-k
    val query = embs.filter(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0)
    val exact = Similarity.bruteForceTopK(embs, "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSet
    val quant = embs.select(col("vec_id"), q.as("qe"))
    val approx = Similarity.quantizedTopK(quant, "qe", query, 10, sc)
      .select("vec_id").as[Long].collect().toSet
    assert((exact intersect approx).size >= 8,
      s"int8 top-10 must recall >=8 of the exact top-10: exact=$exact approx=$approx")
    assert(approx.contains(0L), "the query vector itself must rank")
  }

  test("kCenterGreedy on real embeddings: monotone selection, partitioning-invariant") {
    val sel = Similarity.kCenterGreedy(embs, "vec_id", "embedding", k = 6)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    assert(sel.length == 6 && sel(0)._2 == 0L && sel(0)._3.isNaN)
    // greedy max-min distances never increase as centers accumulate
    val dists = sel.drop(1).map(_._3)
    assert(dists.zip(dists.tail).forall { case (a, b) => b <= a + 1e-12 },
      s"selection distances must be non-increasing: ${dists.toSeq}")
    assert(dists.forall(d => d > 0 && d <= 2.0))
    // same panel regardless of input partitioning (argmax ties are id-broken)
    val re = Similarity.kCenterGreedy(embs.repartition(7), "vec_id", "embedding", k = 6)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    assert(re.map(_._2).toSeq == sel.map(_._2).toSeq)
  }

  test("window snapshot minTokens mismatch fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("winsnap_mm").toString
    Dedup.writeWindowSnapshot(docs.limit(20), "t_winsnap_mm", s"$dir/w",
      "doc_id", "text", minTokens = 4, buckets = 2)
    val e = intercept[IllegalArgumentException] {
      Dedup.repeatedSpansIncrementalStored(docs.limit(5),
        graft.io.Bucketed.read(spark, "t_winsnap_mm"), "doc_id", "text", minTokens = 5)
    }
    assert(e.getMessage.contains("wcnt_mm2_l5") && e.getMessage.contains("different minTokens"))
  }

  test("topRepeatedWindows: local parity with deterministic tie-break") {
    val l = 3
    val k = 15
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq
    val wins = localWindows(rows, l)
    val expected = wins.groupBy(_._3).view
      .mapValues(ws => (ws.size.toLong, ws.map(_._1).distinct.size.toLong)).toSeq
      .filter(_._2._1 >= 2)
      .map { case (w, (n, d)) => (w, n, d) }
      .sortBy { case (w, n, _) => (-n, w) }
      .take(k)
    val got = Dedup.topRepeatedWindows(docs, "doc_id", "text", minTokens = l, k = k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("keepClusterRepresentatives: best score per transitive cluster, ties to smallest id") {
    // chain 1~2~3 (no direct 1~3 edge): one TRANSITIVE cluster; scores tie
    // at the top (2 and 3) -> smallest id wins; 10 is in no pair ->
    // singleton survivor; 20~21 -> higher score wins
    val rows = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 1L), (20L, 3L), (21L, 7L))
      .toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.keepClusterRepresentatives(rows, pairs, "id", "score")
      .select("id", "component", "csize", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((2L, 1L, 3L, 9L), (10L, 10L, 1L, 1L), (21L, 20L, 2L, 7L)))
  }

  test("contaminatedSpans: exact benchmark windows only, merge, and surgical removal") {
    val bench = Seq("the capital of france is paris", "two plus two equals four indeed").toDF("text")
    val train = Seq(
      (1L, "intro words the capital of france is paris outro words"), // one leak
      (2L, "a b the capital of france is paris two plus two equals four indeed z"), // adjacent -> merge
      (3L, "the capital of SPAIN is madrid nothing leaked here at all"), // no verbatim window
      (4L, "short doc"),
      (5L, "two plus two equals four indeed")) // the whole doc IS the benchmark
      .toDF("doc_id", "text")
    val got = Dedup.contaminatedSpans(train, bench, "doc_id", "text", minTokens = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((1L, 3L.toInt, 6), (2L, 3, 12), (5L, 1, 6)), s"got=$got")
    val cleaned = Dedup.removeContaminatedSpans(train, bench, "doc_id", "text", minTokens = 6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList.sortBy(_._1)
    assert(cleaned(0) == (1L, "intro words outro words", 4L))
    assert(cleaned(1) == (2L, "a b z", 3L))
    assert(cleaned(2)._2 == train.collect()(2).getString(1), "uncontaminated doc untouched")
    assert(cleaned(4) == (5L, "", 0L), "fully-leaked doc cut to empty")
  }

  test("connectedComponentsIncremental equals full recompute: attach, merge, new-new") {
    // old graph: {1,2,3} (chain) and {10,11}; 20 isolated
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val oldIds = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val oldCc = Dedup.connectedComponents(oldEdges)
    val oldLabels = oldIds.join(oldCc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    // new batch: 30 attaches to {1,2,3}; 31 MERGES {1,2,3} with {10,11};
    // 40~41 new-new; old isolated 20 gains a partner 42
    val newPairs = Seq((30L, 3L), (31L, 2L), (31L, 10L), (40L, 41L), (42L, 20L))
      .toDF("id_a", "id_b")
    val inc = Dedup.connectedComponentsIncremental(oldLabels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(oldEdges.unionAll(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, s"incremental=$inc full=$full")
    assert(inc(31L) == 1L && inc(10L) == 1L && inc(11L) == 1L, "merge relabels to the global min")
    assert(inc(40L) == 40L && inc(41L) == 40L, "new-new pair clusters on its own")
    assert(inc(20L) == 20L && inc(42L) == 20L, "old isolated doc gains its partner")
  }

  test("clusterAwareSplit: clusters land wholly in one split, singletons draw independently") {
    val ids = (1L to 40L).toDF("id")
    // chain 1~2~3 transitively one cluster; 20~21 a pair; the rest singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.clusterAwareSplit(ids, pairs, "id", valFraction = 0.5)
      .select("id", "component", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byComp = got.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byComp.values.forall(_.size == 1), "a cluster straddles the split boundary")
    assert(got.filter(t => Set(1L, 2L, 3L).contains(t._1)).map(_._2).toSet == Set(1L))
    assert(got.filter(t => Set(20L, 21L).contains(t._1)).map(_._2).toSet == Set(20L))
    val splits = got.map(_._3).toSet
    assert(splits == Set("train", "val"), s"40 ids at 50% should hit both splits: $splits")
    // decision = deterministicSample's draw replayed on the component label
    val sampled = graft.ops.Sampling.deterministicSample(
      got.map(_._2).distinct.toSeq.toDF("component"), "component", 0.5)
      .as[Long].collect().toSet
    assert(got.forall(t => (t._3 == "val") == sampled.contains(t._2)))
    assertThrows[IllegalArgumentException](
      Dedup.clusterAwareSplit(ids, pairs, "id", valFraction = 1.5))
    // 'component'/'split' are reserved output columns: a pre-existing one
    // would be silently overwritten (split) or make the label join
    // ambiguous (component) — reject loudly instead (round-16 advice)
    for (reserved <- Seq("component", "split")) {
      val clash = ids.withColumn(reserved, lit("x"))
      val e = intercept[IllegalArgumentException](
        Dedup.clusterAwareSplit(clash, pairs, "id", valFraction = 0.5))
      assert(e.getMessage.contains(reserved))
    }
  }

  test("kCenterGreedy matches a local greedy brute force; seed and tie rules pinned") {
    // three direction groups: ids 1,2 near +x; 10,11 near +y; 30 at -x
    val vecs = Seq(
      (1L, Array(1.0f, 0.02f, 0f)), (2L, Array(1.0f, 0.01f, 0f)),
      (10L, Array(0.01f, 1.0f, 0f)), (11L, Array(0.02f, 1.0f, 0f)),
      (30L, Array(-1.0f, 0.05f, 0f))).toDF("vec_id", "v")
    val got = Similarity.kCenterGreedy(vecs, "vec_id", "v", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
    // local replay of the selection rule (per-pair round-6 before the min)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val all = Seq((1L, Array(1.0f, 0.02f, 0f)), (2L, Array(1.0f, 0.01f, 0f)),
      (10L, Array(0.01f, 1.0f, 0f)), (11L, Array(0.02f, 1.0f, 0f)), (30L, Array(-1.0f, 0.05f, 0f)))
    var centers = Vector(all.minBy(_._1))
    var expect = Vector((1, centers.head._1, -1.0))
    while (centers.length < 3) {
      val rest = all.filterNot(p => centers.exists(_._1 == p._1))
      val next = rest.map { p =>
        (p, centers.map(c => r6(1.0 - cos(p._2, c._2))).min)
      }.maxBy { case (p, d) => (d, -p._1) }
      centers :+= next._1
      expect :+= ((centers.length, next._1._1, next._2))
    }
    assert(got.toVector == expect, s"got=${got.toVector} expect=$expect")
    assert(got(0)._2 == 1L, "seed must be the smallest id")
    assert(got(1)._2 == 30L, "-x is farthest from +x")
    // k beyond the corpus: returns every vector once, then stops
    assert(Similarity.kCenterGreedy(vecs, "vec_id", "v", k = 99).count() == 5)
  }

  test("repeatedSpanStats: every doc surfaces; dup_tokens sums disjoint spans") {
    val stats = Dedup.repeatedSpanStats(docs, "doc_id", "text", minTokens = 5)
    assert(stats.count() == docs.count())
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", minTokens = 5)
      .groupBy("doc_id").agg(sum("span_tokens").as("d"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = stats.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    for ((id, nTok, nSpans, dup, frac) <- rows) {
      val (eDup, eN) = spans.getOrElse(id, (0L, 0L))
      assert(dup == eDup && nSpans == eN, s"doc $id")
      assert(dup <= nTok, s"doc $id: spans cover more tokens than the doc has")
      assert(math.abs(frac - math.rint(dup.toDouble / math.max(nTok, 1L) * 1e6) / 1e6) < 1e-12)
    }
    assert(rows.exists(_._4 > 0) && rows.exists(_._4 == 0))
  }

  private def localLev(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length)
  }

  private def bruteEdit(rows: Seq[(Long, String)], d: Int): Set[(Long, Long, Int)] =
    (for {
      (ia, ta) <- rows; (ib, tb) <- rows
      if ia < ib && ta != null && tb != null
      lev = localLev(ta, tb) if lev <= d
    } yield (ia, ib, lev)).toSet

  test("editDistancePairs: brute-force parity on crafted edits, tiny strings, NULLs") {
    // planted pairs covering every alignment shape the PassJoin blocking
    // must certify: substitutions (equal length), indels at the FRONT
    // (shifts every chunk), middle, end, combined, distance exactly d,
    // distance d+1 (excluded), tiny strings (the residual bucket), a
    // tiny-vs-short cross pair, duplicates, and a NULL
    val rows: Seq[(Long, String)] = Seq(
      1L -> "the quick brown fox jump",  // base, 24 chars
      2L -> "the quick brown fox jump",  // exact dup -> distance 0
      3L -> "the quack brawn fox jump",  // 2 substitutions
      4L -> "Xthe quick brown fox jum",  // front insert + tail drop
      5L -> "the quick brown fox",       // 5-char suffix drop -> d=5 only
      6L -> "he quick brown fox jumps",  // front del + tail insert
      7L -> "completely different txt",
      8L -> "ab",                        // tiny
      9L -> "abc",                       // tiny
      10L -> "axbc",                     // tiny, 1 edit from 9
      11L -> "abcdefg",                  // short but > d for d=3
      12L -> null.asInstanceOf[String],
      // multi-member duplicate group: 3/13/14 share a string, so the
      // distinct-string collapse must expand member×member cross pairs
      // (1-13, 2-14, ...) and within-group distance-0 pairs (3-13, 13-14)
      13L -> "the quack brawn fox jump",
      14L -> "the quack brawn fox jump")
    val df = rows.toDF("id", "t")
    for (d <- Seq(2, 3, 4)) {
      val got = Dedup.editDistancePairs(df, "id", "t", d)
        .as[(Long, Long, Int)].collect().toSet
      val want = bruteEdit(rows, d)
      assert(got == want, s"d=$d: got ${got.toSeq.sorted}, want ${want.toSeq.sorted}")
    }
    // d=0 degenerates to exact-dup pairs (both duplicate groups, closed)
    assert(Dedup.editDistancePairs(df, "id", "t", 0)
      .as[(Long, Long, Int)].collect().toSet ==
      Set((1L, 2L, 0), (3L, 13L, 0), (3L, 14L, 0), (13L, 14L, 0)))
  }

  private def bruteJaccard(rows: Seq[(Long, String)], k: Int, t: Double)
      : Set[(Long, Long, Double)] = {
    def set(s: String): Set[String] = {
      val toks = s.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.length < k) Set.empty
      else toks.sliding(k).map(_.mkString(" ")).toSet
    }
    (for {
      (ia, ta) <- rows; (ib, tb) <- rows
      if ia < ib
      sa = set(ta); sb = set(tb)
      if sa.nonEmpty && sb.nonEmpty
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= t
    } yield (ia, ib, j)).toSet
  }

  test("jaccardPairsExact: brute-force parity, exact recall vs minhash, dup groups") {
    val rows: Seq[(Long, String)] = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta iota",   // high overlap with 1
      3L -> "alpha beta gamma delta epsilon zeta eta theta",  // exact dup of 1
      4L -> "alpha beta gamma delta epsilon zeta eta theta",  // another member
      5L -> "totally different words here now ok fine yes",
      6L -> "alpha beta",                                     // < k tokens: no shingles
      7L -> "x alpha beta gamma delta epsilon zeta eta theta" // 1 shifted by a token
    )
    val df = rows.toDF("id", "t")
    for (t <- Seq(0.3, 0.5, 0.9, 1.0)) {
      val got = Dedup.jaccardPairsExact(df, "id", "t", k = 3, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      val want = bruteJaccard(rows, 3, t)
      assert(got == want, s"t=$t: got ${got.toSeq.sorted}, want ${want.toSeq.sorted}")
    }
    // randomized regime over a tiny vocab: hot shingles, near-misses, and
    // EXACT RECALL where minhash banding may drop pairs — the minhash
    // output at the same threshold must be a SUBSET of the exact join
    val rng = new scala.util.Random(11)
    val vocab = Array("a", "b", "c")
    val rand: Seq[(Long, String)] = (0L until 80L).map { i =>
      i -> Array.fill(10 + rng.nextInt(12))(vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val rdf = rand.toDF("id", "t")
    val exact = Dedup.jaccardPairsExact(rdf, "id", "t", k = 3, threshold = 0.25)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact == bruteJaccard(rand, 3, 0.25), "randomized parity failed")
    assert(exact.nonEmpty, "regime check: some pairs must exist")
    val mh = Dedup.minhashPairs(rdf, "id", "t", k = 3, threshold = 0.25)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val exactIds = exact.map(p => (p._1, p._2))
    assert(mh.subsetOf(exactIds),
      s"minhash found pairs the exact join missed: ${mh -- exactIds}")
    // no quadratic plan
    val plan = Dedup.jaccardPairsExact(rdf, "id", "t", 3, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"jaccardPairsExact must plan equi joins only:\n$plan")
    assertThrows[IllegalArgumentException](Dedup.jaccardPairsExact(df, "id", "t", 3, 0.0))
  }

  test("editDistanceJoin: cross-table brute parity, orientation coverage, d=0 exact join") {
    def bruteAB(ls: Seq[(Long, String)], rs: Seq[(Long, String)], d: Int)
        : Set[(Long, Long, Int)] =
      (for {
        (il, tl) <- ls; (ir, tr) <- rs
        if tl != null && tr != null
        lev = localLev(tl, tr) if lev <= d
      } yield (il, ir, lev)).toSet
    val ls: Seq[(Long, String)] = Seq(
      1L -> "record linkage base",
      2L -> "record linkage base",    // duplicate in left
      3L -> "entirely different one",
      4L -> "ab",                     // tiny
      5L -> null.asInstanceOf[String])
    val rs: Seq[(Long, String)] = Seq(
      100L -> "record linkage base",  // exact match across tables
      101L -> "recard linkago base",  // 2 substitutions
      102L -> "Xrecord linkage bas",  // front insert + tail drop
      103L -> "ba",                   // tiny, 2 edits from "ab"
      104L -> "no relation at all x")
    val l = ls.toDF("lid", "lt")
    val r = rs.toDF("rid", "rt")
    for (d <- Seq(1, 2, 3)) {
      val got = Dedup.editDistanceJoin(l, "lid", "lt", r, "rid", "rt", d)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == bruteAB(ls, rs, d), s"d=$d: got ${got.toSeq.sorted}")
    }
    // d=0 is the exact equi-join on the string
    assert(Dedup.editDistanceJoin(l, "lid", "lt", r, "rid", "rt", 0)
      .as[(Long, Long, Int)].collect().toSet ==
      Set((1L, 100L, 0), (2L, 100L, 0)))
    // randomized: both orientations (left string shorter AND longer)
    val rng = new scala.util.Random(23)
    def randRows(n: Int, off: Long): Seq[(Long, String)] = (0 until n).map { i =>
      (off + i) -> Array.fill(5 + rng.nextInt(10))(('a' + rng.nextInt(3)).toChar).mkString
    }
    val rl = randRows(60, 0L); val rr = randRows(60, 1000L)
    val got = Dedup.editDistanceJoin(rl.toDF("lid", "lt"), "lid", "lt",
      rr.toDF("rid", "rt"), "rid", "rt", 2).as[(Long, Long, Int)].collect().toSet
    val want = bruteAB(rl, rr, 2)
    assert(got == want, "randomized cross-table parity failed")
    assert(want.nonEmpty, "regime check")
  }

  test("editDistancePairs/Join: ids stay opaque — string doc ids survive (r17 advice)") {
    // a cast("long") on the id column would null string ids and silently
    // return an EMPTY result; ids must pass through any orderable type
    val df = Seq("doc-a" -> "hello world", "doc-b" -> "hello warld",
      "doc-c" -> "hello world").toDF("id", "t")
    val pairs = Dedup.editDistancePairs(df, "id", "t", 1)
      .as[(String, String, Int)].collect().toSet
    assert(pairs == Set(("doc-a", "doc-b", 1), ("doc-a", "doc-c", 0), ("doc-b", "doc-c", 1)))
    val l = Seq("L1" -> "alpha").toDF("lid", "lt")
    val r = Seq("R1" -> "alpha", "R2" -> "alphq").toDF("rid", "rt")
    val joined = Dedup.editDistanceJoin(l, "lid", "lt", r, "rid", "rt", 1)
      .as[(String, String, Int)].collect().toSet
    assert(joined == Set(("L1", "R1", 0), ("L1", "R2", 1)))
  }

  test("hammingJoin: cross-table brute parity (pigeonhole recall 1), identical sigs, dup members") {
    def ham(a: String, b: String): Int =
      (0 until 16).map(i => java.lang.Integer.bitCount(
        Integer.parseInt(a(i).toString, 16) ^ Integer.parseInt(b(i).toString, 16))).sum
    val rng = new scala.util.Random(23)
    def sig(): String = (0 until 16).map(_ => "0123456789abcdef"(rng.nextInt(16))).mkString
    def flip(s: String, nBits: Int): String = {
      var cur = java.lang.Long.parseUnsignedLong(s, 16)
      (0 until nBits).foreach(_ => cur ^= 1L << rng.nextInt(64))
      f"$cur%016x"
    }
    val base = (0 until 40).map(_ => sig())
    val ls: Seq[(Long, String)] =
      base.zipWithIndex.map { case (s, i) => (i.toLong, s) } ++
        Seq(100L -> base(0)) // duplicate member in left
    val rs: Seq[(Long, String)] =
      base.take(20).zipWithIndex.map { case (s, i) => (500L + i, flip(s, 1 + rng.nextInt(4))) } ++
        Seq(900L -> base(0), 901L -> sig()) // identical cross sig + noise
    for (mh <- Seq(0, 2, 5, 9)) {
      val got = Dedup.hammingJoin(ls.toDF("lid", "ls"), "lid", "ls",
          rs.toDF("rid", "rs"), "rid", "rs", maxHamming = mh)
        .as[(Long, Long, Int)].collect().toSet
      val want = (for { (il, a) <- ls; (ir, b) <- rs; h = ham(a, b) if h <= mh }
        yield (il, ir, h)).toSet
      assert(got == want, s"mh=$mh got=${got.size} want=${want.size}")
      if (mh >= 2) assert(want.nonEmpty, "regime check")
    }
    // the duplicate left member pairs with the identical right sig at 0
    val at0 = Dedup.hammingJoin(ls.toDF("lid", "ls"), "lid", "ls",
        rs.toDF("rid", "rs"), "rid", "rs", maxHamming = 0)
      .as[(Long, Long, Int)].collect().toSet
    assert(at0.contains((0L, 900L, 0)) && at0.contains((100L, 900L, 0)))
  }

  test("minhashJoin: full-banding brute parity, identical-list path, recall subset") {
    def shSet(s: String, k: Int): Set[String] = {
      val toks = s.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.length < k) Set.empty else toks.sliding(k).map(_.mkString(" ")).toSet
    }
    def brute(ls: Seq[(Long, String)], rs: Seq[(Long, String)], k: Int, t: Double)
        : Set[(Long, Long, Double)] =
      (for { (il, ta) <- ls; (ir, tb) <- rs
        sa = shSet(ta, k); sb = shSet(tb, k) if sa.nonEmpty && sb.nonEmpty
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= t
      } yield (il, ir, j)).toSet
    val ls: Seq[(Long, String)] = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta", // dup in left
      3L -> "one two three four five six",
      4L -> "ab cd")                                         // < k tokens
    val rs: Seq[(Long, String)] = Seq(
      100L -> "alpha beta gamma delta epsilon zeta eta theta", // identical list
      101L -> "alpha beta gamma delta epsilon zeta eta iota",  // near
      102L -> "nothing shared here at all folks",
      103L -> "one two three four five six")
    // bands == numHashes (1 row/band): any shared shingle can hit a band;
    // at threshold this recovers the exact result on this fixture
    val got = Dedup.minhashJoin(ls.toDF("lid", "lt"), "lid", "lt",
        rs.toDF("rid", "rt"), "rid", "rt", k = 3, numHashes = 16, bands = 16, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute(ls, rs, 3, 0.3), got.toSeq.sorted.toString)
    // production banding (4x4): every reported pair is genuine (exact
    // jaccard re-verified) and a subset of the exact join = recall <= 1
    val coarse = Dedup.minhashJoin(ls.toDF("lid", "lt"), "lid", "lt",
        rs.toDF("rid", "rt"), "rid", "rt", k = 3, numHashes = 16, bands = 4, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(coarse.subsetOf(brute(ls, rs, 3, 0.3)))
    // identical-list cross pairs always surface regardless of banding
    assert(coarse.exists(p => p._1 == 1L && p._2 == 100L && p._3 == 1.0))
    assert(coarse.exists(p => p._1 == 2L && p._2 == 100L && p._3 == 1.0))
    assert(coarse.exists(p => p._1 == 3L && p._2 == 103L && p._3 == 1.0))
  }

  test("jaccardJoin: cross-table brute parity, identical-set path, orientations") {
    def bruteAB(ls: Seq[(Long, String)], rs: Seq[(Long, String)], k: Int, t: Double)
        : Set[(Long, Long, Double)] = {
      def set(s: String): Set[String] = {
        val toks = s.trim.split("\\s+").filter(_.nonEmpty)
        if (toks.length < k) Set.empty else toks.sliding(k).map(_.mkString(" ")).toSet
      }
      (for { (il, ta) <- ls; (ir, tb) <- rs
        sa = set(ta); sb = set(tb) if sa.nonEmpty && sb.nonEmpty
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= t
      } yield (il, ir, j)).toSet
    }
    val ls: Seq[(Long, String)] = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta", // dup in left
      3L -> "one two three four five six",
      4L -> "ab cd")                                         // < k tokens
    val rs: Seq[(Long, String)] = Seq(
      100L -> "alpha beta gamma delta epsilon zeta eta theta", // identical set
      101L -> "alpha beta gamma delta epsilon zeta eta iota",  // near
      102L -> "nothing shared here at all folks",
      103L -> "one two three four five six")
    val l = ls.toDF("lid", "lt"); val r = rs.toDF("rid", "rt")
    for (t <- Seq(0.3, 0.6, 1.0)) {
      val got = Dedup.jaccardJoin(l, "lid", "lt", r, "rid", "rt", k = 3, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == bruteAB(ls, rs, 3, t), s"t=$t: ${got.toSeq.sorted}")
    }
    // randomized over a tiny vocab — both orientations and hot shingles
    val rng = new scala.util.Random(17)
    def randRows(n: Int, off: Long): Seq[(Long, String)] = (0 until n).map { i =>
      (off + i) -> Array.fill(8 + rng.nextInt(10))(("abc")(rng.nextInt(3)).toString).mkString(" ")
    }
    val rl = randRows(50, 0L); val rr = randRows(50, 500L)
    val got = Dedup.jaccardJoin(rl.toDF("lid", "lt"), "lid", "lt",
      rr.toDF("rid", "rt"), "rid", "rt", k = 3, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val want = bruteAB(rl, rr, 3, 0.3)
    assert(got == want, "randomized cross-table jaccard parity failed")
    assert(want.nonEmpty, "regime check")
  }

  test("embeddingJoin: cross-table brute parity at full banding, exact-dup path, zero vectors") {
    val rng = new scala.util.Random(31)
    def vec(): Array[Float] = Array.fill(8)(rng.nextGaussian().toFloat)
    val lv: Seq[(Long, Array[Float])] =
      (0L until 40L).map(i => i -> vec()) :+ (40L -> Array.fill(8)(0f))
    val rv: Seq[(Long, Array[Float])] =
      (0 until 5).map(i => (100L + i) -> lv(i)._2) ++            // exact dups of left
      (5 until 10).map(i => (100L + i) -> lv(i)._2.map(_ + 0.01f)) ++ // near dups
      (10 until 15).map(i => (100L + i) -> vec()) :+
      (115L -> Array.fill(8)(0f))                                 // zero vector
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val brute = (for { (il, va) <- lv; (ir, vb) <- rv
      c = cos(va, vb) if c >= 0.8 } yield (il, ir) -> c).toMap
    // bands == planes gives 1-bit band keys — every pair shares a bucket,
    // so the LSH layer cannot drop anything and parity must be EXACT
    val got = Dedup.embeddingJoin(
      lv.toDF("lid", "lvec"), "lid", "lvec",
      rv.toDF("rid", "rvec"), "rid", "rvec",
      dim = 8, planes = 32, bands = 32, threshold = 0.8)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got.keySet == brute.keySet,
      s"pair sets differ: extra=${got.keySet -- brute.keySet} missing=${brute.keySet -- got.keySet}")
    got.foreach { case (k, c) => assert(math.abs(c - brute(k)) < 1e-9, s"$k: $c vs ${brute(k)}") }
    // the 5 planted exact dups ride the content-key path at cosine 1
    for (i <- 0 until 5) assert(math.abs(got((i.toLong, 100L + i)) - 1.0) < 1e-12)
    // zero vectors never pair (cosine defined as 0)
    assert(!got.keySet.exists(k => k._1 == 40L || k._2 == 115L))
  }

  test("editDistancePairs: randomized parity and an equi-join-only plan") {
    // random strings over a 3-letter alphabet make near-misses common —
    // the adversarial regime for partition blocking (chunks collide a lot,
    // candidates must still dedupe and refine exactly)
    val rng = new scala.util.Random(7)
    val rows: Seq[(Long, String)] = (0L until 120L).map { i =>
      val len = 6 + rng.nextInt(12)
      i -> Array.fill(len)(('a' + rng.nextInt(3)).toChar).mkString
    }
    val df = rows.toDF("id", "t")
    for (d <- Seq(1, 3)) {
      val got = Dedup.editDistancePairs(df, "id", "t", d)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == bruteEdit(rows, d), s"randomized parity failed at d=$d")
    }
    assert(bruteEdit(rows, 3).nonEmpty, "regime check: some pairs must exist")
    // the whole point of the blocking: NO quadratic join anywhere
    val plan = Dedup.editDistancePairs(df, "id", "t", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"editDistancePairs must plan equi joins only:\n$plan")
  }

  test("randomProject: JL distortion bound, determinism, null passthrough") {
    val rng = new scala.util.Random(41)
    def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    val rows = (0 until 60).map(i => (i.toLong, vec()))
    val df = rows.toDF("vec_id", "embedding")
    val proj = graft.ops.Similarity.randomProject(df, "embedding", outDim = 32)
      .select(col("vec_id"), col("proj")).as[(Long, Array[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum)
    }
    val errs = for {
      i <- 0 until 30; j <- (i + 1) until 30
      a = rows(i)._2.map(_.toDouble).toSeq; b = rows(j)._2.map(_.toDouble).toSeq
    } yield math.abs(cos(a, b) - cos(proj(i.toLong).toSeq, proj(j.toLong).toSeq))
    // JL at outDim=32: mean pairwise cosine error well under 0.2
    assert(errs.sum / errs.size < 0.2, s"mean cosine distortion ${errs.sum / errs.size}")
    // deterministic: same spec -> bit-identical projection
    val again = graft.ops.Similarity.randomProject(df, "embedding", outDim = 32)
      .select(col("vec_id"), col("proj")).as[(Long, Array[Double])].collect().toMap
    assert(proj.forall { case (k, v) => v.sameElements(again(k)) })
    // null vector stays null
    val withNull = (rows :+ ((999L, null.asInstanceOf[Array[Float]]))).toDF("vec_id", "embedding")
    val n = graft.ops.Similarity.randomProject(withNull, "embedding", outDim = 4)
      .filter(col("vec_id") === 999L).select(col("proj")).collect()
    assert(n.head.isNullAt(0))
  }

  // ---- round 22 optimization pins ------------------------------------

  test("cosineWithNorms is bit-identical to cosine, including zero-vector guards") {
    val rows = Seq(
      (1L, Array(1.0f, 2.5f, -3.0f)), (2L, Array(0.0f, 0.0f, 0.0f)),
      (3L, Array(-1.5f, 0.25f, 2.0f)), (4L, Array(1e-8f, -1e8f, 42.0f)))
      .toDF("id", "v")
    val a = rows.select(col("id").as("ia"), col("v").as("va"),
      Similarity.norm(col("v")).as("na"))
    val b = rows.select(col("id").as("ib"), col("v").as("vb"),
      Similarity.norm(col("v")).as("nb"))
    val pairs = a.crossJoin(b)
    val mismatches = pairs.filter(
      Similarity.cosine(col("va"), col("vb")) =!=
        Similarity.cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")))
      .count()
    assert(mismatches == 0,
      "precomputed-norm cosine must equal the inline form bit-for-bit")
  }

  test("embeddingPairs: vectors whose float renderings concatenate equally do not collapse") {
    // [1.02, 0.0] and [1.0, 20.0] both render "1.020.0" under the old
    // empty-separator content key, which conflated them into one exact-dup
    // group and emitted a FALSE within-group pair (self-cosine 1.0) at any
    // threshold, though their true cosine is ~0.05. The U+0001-separated
    // vecKey keeps them distinct, and no pair reaches 0.9.
    val d = Seq((1L, Array(1.02f, 0.0f)), (2L, Array(1.0f, 20.0f)))
      .toDF("vec_id", "emb")
    val got = Dedup.embeddingPairs(d, "vec_id", "emb",
      planes = 8, bands = 4, threshold = 0.9)
    assert(got.count() == 0,
      "rendering-collision vectors must not be treated as exact duplicates")
  }

  test("ScratchCache: canonically-equal plans register once; clearCache re-registers") {
    import org.apache.spark.storage.StorageLevel
    val mk = () => docs.select(col("doc_id")).limit(7)
    val df1 = graft.ops.ScratchCache(mk())
    assert(df1.storageLevel != StorageLevel.NONE)
    val n1 = graft.ops.ScratchCache.liveCount
    val df2 = graft.ops.ScratchCache(mk()) // fresh frame, same canonical plan
    assert(graft.ops.ScratchCache.liveCount == n1,
      "a canonically-equal plan must not burn a second FIFO slot")
    assert(df2.storageLevel != StorageLevel.NONE, "and must still read as cached")
    spark.sharedState.cacheManager.clearCache()
    val df3 = graft.ops.ScratchCache(mk())
    assert(df3.storageLevel != StorageLevel.NONE,
      "after an external clearCache the same plan must RE-cache, not be believed cached")
    spark.sharedState.cacheManager.clearCache()
  }
}

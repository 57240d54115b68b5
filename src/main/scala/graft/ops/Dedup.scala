package graft.ops

import graft.functions.TextFunctions._
import graft.plans.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed as a
  * shuffle-bounded distributed plan:
  *
  *  - exact: hash-groupBy on content digest (one shuffle on md5 — uniform
  *    keys, no skew)
  *  - MinHash+LSH: shingle → minhash signature → band keys → bucket
  *    self-join (shuffle on band key only; candidate pairs verified with
  *    exact Jaccard via native array_intersect/array_union). Two signature
  *    engines: the md5 spec (oracle-reproducible) and xxhash64 (codegen'd
  *    fast path for the 100 TB pipeline) — both feed the same band-join.
  *  - SimHash: 64-bit signature → 4×16-bit band keys → bucket join →
  *    hamming verify
  *  - n-gram Jaccard: direct verified-pair computation on LSH candidates
  *  - embedding cosine: MULTI-TABLE random-hyperplane LSH (bands of planes,
  *    candidates = union over tables — a pair within the cosine threshold
  *    escapes only if it disagrees in every table, so recall is
  *    1-(1-p^r)^b instead of the p^planes of a single table) → cosine
  *    verify with the native VecDot/VecNorm kernels.
  */
object Dedup {

  /** Spread a NARROW input before expensive map work without changing the
    * no-shuffle posture on already-parallel inputs: repartition only when
    * the physical plan has pathologically few partitions (a single small
    * parquet file arrives as ONE partition and serializes every downstream
    * map stage onto one core — q119's profile read 2×0.5 s single-task
    * stages; a corpus-scale input is already thousands of splits and must
    * NOT pay a data-wide shuffle just to run a map).
    *
    * The partition-count probe (`toRdd.getNumPartitions`) is gated on the
    * physical plan being EXCHANGE-FREE: under AQE, materializing the RDD of
    * a plan that contains an exchange EXECUTES every upstream shuffle stage
    * at plan-construction time — real jobs, run eagerly, whose results the
    * later action does not reuse (r21 advisor, medium). An exchange-free
    * (scan-shaped) plan has no stages to materialize, so the probe stays a
    * pure compile. Inputs that already carry an exchange keep their
    * partitioning untouched — they are by construction not the
    * single-small-file cliff this guard exists for. */
  private[ops] def spreadNarrow(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // a cached (InMemoryTableScan) leaf is equally unsafe to probe: building
    // its RDD forces the cached child plan's buffers, which under AQE runs
    // that plan's shuffle stages eagerly — and a cached frame's partitioning
    // comes from its (already spread) child plan, not a single small file
    val scanShaped = !df.queryExecution.sparkPlan.exists(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange] ||
        p.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
    if (!scanShaped) df
    else {
      val n = df.queryExecution.toRdd.getNumPartitions
      if (n < math.min(par, 8)) df.repartition(par) else df
    }
  }

  /** 16-byte md5 content key of a float-vector column — the exact-duplicate
    * collapse identity shared by [[embeddingPairs]], [[embeddingJoin]] and
    * [[semDedup]]. U+0001-separated (an empty separator conflates e.g.
    * [1.02, 0.0] with [1.0, 20.0] — both render "1.020.0") with null
    * elements rendered explicitly as U+0002 (concat_ws silently SKIPS
    * nulls, so [1.0, null, 2.0] would otherwise collide with [1.0, 2.0] —
    * r21 advisor). Null-free, non-pathological vectors keep distinct keys
    * either way; this closes the adversarial corners. */
  private def vecKey(c: Column): Column =
    md5(concat_ws("\u0001", transform(c, x => coalesce(x.cast("string"), lit("\u0002")))))

  /** Exact dedup: one representative row (min of `idCol`) per distinct value
    * of `textCol`, plus the duplicate count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("dup_count", count(lit(1)).over(Window.partitionBy(md5(col(textCol)))))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Shared LSH band-join core: `sig` has (__id, __sh, __sig) where __sig is
    * an array (any element type — cast to string for the band key). The band
    * join carries ONLY (band, key, id) — the shingle arrays would otherwise
    * be shuffled once per band; they re-attach by id after pair dedup.
    *
    * Exact duplicates are collapsed BEFORE banding: rows with identical
    * shingle content (md5 of the shingle list — the same content-identity
    * precedent as [[exact]]) band once per DISTINCT document, and member
    * pairs expand back afterward. Identical documents share every band key,
    * so the expanded pair set is provably the one direct banding produces —
    * but candidate volume inside a bucket stays quadratic in DISTINCT
    * content only, not in duplication. On a web corpus (or a replication
    * scale test) where hot documents repeat thousands of times, direct
    * banding makes m copies contribute m² candidate rows per bucket per
    * band; collapsed, they contribute 1, and the m·(m−1)/2 true pairs
    * materialize once, output-bound, in the expansion join. */
  private def bandedJaccardPairs(sig: DataFrame, bands: Int, rowsPerBand: Int,
                                 threshold: Double): DataFrame = {
    // ONE cache over the full (id, shingles, signature) table: keyed and
    // reps used to re-derive from the RAW `sig` plan, so each consumer
    // re-ran tokenize + shingle + the minhash signature (the operator's
    // most expensive map work); the columnar cache serves every consumer
    // its pruned columns instead
    val sigT = ScratchCache(sig)
    val shingleTable = sigT.select(col("__id"), col("__sh"))
    // U+0001-separated content key: unambiguous (a "|" would conflate
    // ("ab","c") with ("a","bc"))
    val keyed = sigT.select(col("__id"), md5(concat_ws("\u0001", col("__sh"))).as("__gk"))
    val groups = keyed.groupBy(col("__gk")).agg(min(col("__id")).as("__rid"))
    // memb feeds the within self-join and both sides of the cross
    // expansion — cache it so the md5-over-shingles keying runs once
    val memb = ScratchCache(keyed.join(groups, Seq("__gk")).select(col("__rid"), col("__id")))
    val reps = sigT.join(groups.select(col("__rid").as("__id")), Seq("__id"), "left_semi")
    val repPairs = bandRepPairs(reps, bands, rowsPerBand)
    jaccardVerifyExpand(repPairs, shingleTable, "__sh", groups, memb, threshold)
  }

  /** LSH band candidates over a rep table carrying (`__id` orderable,
    * `__sig` array): every distinct (`__ra` < `__rb`) pair sharing at least
    * one band key. Only (band, key, id) is shuffled — never the shingles.
    * A null signature (empty shingle list) yields a null band array, which
    * posexplode drops. */
  private def bandRepPairs(reps: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = reps.select(col("__id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws("|", transform(
          slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand)), x => x.cast("string"))))))
        .as(Seq("__band", "__key")))
    val a = banded.select(col("__band"), col("__key"), col("__id").as("__ra"))
    val b = banded.select(col("__band"), col("__key"), col("__id").as("__rb"))
    a.join(b, Seq("__band", "__key"))
      .filter(col("__ra") < col("__rb"))
      .select("__ra", "__rb")
      .dropDuplicates("__ra", "__rb")
  }

  /** Shared tail of the Jaccard pair joins ([[minhashPairs]]' banding and
    * [[jaccardPairsExact]]'s prefix filter): VERIFY AT THE REP LEVEL, then
    * expand — members carry their rep's exact content, so jaccard(member_a,
    * member_b) ≡ jaccard(rep_a, rep_b); one verification per
    * distinct-content pair instead of one per member pair. On a
    * duplication-heavy corpus the member-level candidate set is
    * |repPairs|·m² while the verified output is a (usually far smaller)
    * subset; verifying first makes the expansion output-bound. */
  private def jaccardVerifyExpand(repPairs: DataFrame, contentTable: DataFrame,
                                  contentCol: String, groups: DataFrame,
                                  memb: DataFrame, threshold: Double): DataFrame = {
    def jac(sa: Column, sb: Column): Column =
      when(size(array_union(sa, sb)) === 0, 0.0)
        .otherwise(size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb)))
    val repVerified = repPairs
      .join(contentTable.select(col("__id").as("__ra"), col(contentCol).as("__c_a")), Seq("__ra"))
      .join(contentTable.select(col("__id").as("__rb"), col(contentCol).as("__c_b")), Seq("__rb"))
      .withColumn("jaccard", jac(col("__c_a"), col("__c_b")))
      .filter(col("jaccard") >= threshold)
      .select("__ra", "__rb", "jaccard")
    // members of the same content group pair with each other; their jaccard
    // is the self-similarity of the group's content (1.0 for non-empty
    // shingle lists), computed through the same expression for parity
    val selfJac = contentTable
      .join(groups.select(col("__rid").as("__id")), Seq("__id"), "left_semi")
      .select(col("__id").as("__rid"), jac(col(contentCol), col(contentCol)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val within = memb.as("x").join(memb.as("y"),
        col("x.__rid") === col("y.__rid") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"), col("x.__rid").as("__rid"))
      .join(selfJac, Seq("__rid"))
      .select("id_a", "id_b", "jaccard")
    // cross-group expansion of the verified pairs: disjoint from `within`
    // and internally distinct — no extra dedup shuffle
    val cross = repVerified
      .join(memb.select(col("__rid").as("__ra"), col("__id").as("__ma")), Seq("__ra"))
      .join(memb.select(col("__rid").as("__rb"), col("__id").as("__mb")), Seq("__rb"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("jaccard"))
    within.unionByName(cross)
  }

  /** EXACT set-similarity self-join: every pair whose k-shingle SETS have
    * Jaccard ≥ `threshold`, with recall 1 — the exact counterpart of
    * [[minhashPairs]] (whose banding can miss a qualifying pair that
    * disagrees in every band). Prefix filtering (Chaudhuri/Ganti/Kaushik
    * ICDE 2006; Bayardo/Ma/Srikant, WWW 2007 "Scaling Up All Pairs
    * Similarity Search" — public algorithms):
    *
    *  - order every set's shingles by GLOBAL rarity (document frequency
    *    ascending, shingle ascending — rarest first);
    *  - Jaccard ≥ t forces |A∩B| ≥ t·max(|A|,|B|) ≥ ceil(t·|A|), and two
    *    sorted sets with overlap ≥ α must intersect within their first
    *    (size − α + 1) elements — so candidates = sets sharing ANY token of
    *    each other's (n − ceil(t·n) + 1)-prefix, an EQUI join on the
    *    shingle (rarest-first ordering makes prefixes maximally selective);
    *  - a size filter (min ≥ t·max) prunes candidates before the exact
    *    `array_intersect`/`array_union` verification.
    *
    * Same duplication-proof collapse + rep-level verify + output-bound
    * member expansion as the minhash path ([[jaccardVerifyExpand]]). Docs
    * with fewer than k tokens have empty shingle sets and never pair
    * (`threshold` must be > 0).
    *
    * Scale posture: one groupBy for shingle frequencies, one per-set
    * window for prefix ranks (partitioned by doc — bounded), one equi
    * self-join on prefix shingles (the published candidate bound: prefix
    * tokens are the globally rarest, so bucket sizes are the SMALLEST
    * df values — AQE skew-split covers adversarial hot shingles), verify
    * once per distinct-content candidate pair. Use [[minhashPairs]] when
    * approximate recall suffices — LSH bands cost O(bands) keys/row vs
    * the prefix's O((1−t)·n); use this when the answer must be complete
    * (dedup certification, eval-leak audits). */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]; got $threshold")
    val sets = shingled(df, idCol, textCol, k)
      .select(col("__id"), array_distinct(col("__sh")).as("__set"))
      .filter(size(col("__set")) > 0)
    val setTable = ScratchCache(sets)
    // U+0001-separated content key, same convention as the banded path
    val keyed = setTable.select(col("__id"), md5(concat_ws("\u0001", col("__set"))).as("__gk"))
    val groups = keyed.groupBy(col("__gk")).agg(min(col("__id")).as("__rid"))
    val memb = ScratchCache(keyed.join(groups, Seq("__gk")).select(col("__rid"), col("__id")))
    val reps = setTable.join(groups.select(col("__rid").as("__id")), Seq("__id"), "left_semi")
    val repPairs = prefixRepPairs(reps, threshold)
    jaccardVerifyExpand(repPairs, setTable, "__set", groups, memb, threshold)
  }

  /** The prefix-filter candidate machinery shared by [[jaccardPairsExact]]
    * and [[jaccardJoin]]: one row per DISTINCT set in (`__id` orderable,
    * `__set`) → every candidate rep pair that could reach Jaccard ≥
    * `threshold` (complete by the prefix-filter theorem; size-filtered). */
  private def prefixRepPairs(reps: DataFrame, threshold: Double): DataFrame = {
    val ex = reps.select(col("__id"), size(col("__set")).as("__n"),
      explode(col("__set")).as("__g"))
    val freq = ex.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col("__id")).orderBy(col("__df").asc, col("__g").asc)
    // cached: both self-join sides consume the prefix table — without the
    // cache the explode + frequency join + rank window all ran TWICE
    // (q160 warm profile: ~2.3 s of its 5.9 s was the duplicated subtree)
    val prefix = ScratchCache(ex.join(freq, Seq("__g"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(col("__g"), col("__id"), col("__n"), col("__rn")))
    val a = prefix.select(col("__g"), col("__id").as("__ra"),
      col("__n").as("__na"), col("__rn").as("__pa"))
    val b = prefix.select(col("__g"), col("__id").as("__rb"),
      col("__n").as("__nb"), col("__rn").as("__pb"))
    // PPJoin positional filter (Xiao et al., WWW 2008): jaccard >= t needs
    // overlap alpha >= t/(1+t)·(na+nb); for the FIRST common token in the
    // shared rarity order (position pa in A, pb in B) every other common
    // token lies after it on BOTH sides, so overlap <= 1 + min(na−pa,
    // nb−pb). A pair is kept iff ANY of its prefix-token occurrences
    // passes — the first-common-token occurrence of a true match always
    // does, so recall stays 1 while verify volume drops.
    a.join(b, Seq("__g"))
      .filter(col("__ra") < col("__rb"))
      .filter(least(col("__na"), col("__nb")).cast("double") >=
        lit(threshold) * greatest(col("__na"), col("__nb")).cast("double") - lit(1e-9))
      .filter((lit(1L) + least(col("__na") - col("__pa"), col("__nb") - col("__pb"))).cast("double") >=
        lit(threshold / (1.0 + threshold)) * (col("__na") + col("__nb")).cast("double") - lit(1e-9))
      .select("__ra", "__rb")
      .dropDuplicates("__ra", "__rb")
  }

  /** CROSS-TABLE [[jaccardPairsExact]] — decontamination / linkage by SET
    * similarity with recall 1: every (left, right) pair whose k-shingle
    * sets have Jaccard ≥ `threshold`. The distinct sets of BOTH tables go
    * through one shared prefix-filter candidate pass, Jaccard verifies at
    * the rep level, and verified set pairs expand to left×right members in
    * both orientations; identical sets across the tables pair through the
    * content-key equi join directly (Jaccard 1). Output:
    * (id_l, id_r, jaccard). */
  def jaccardJoin(left: DataFrame, leftId: String, leftText: String,
                  right: DataFrame, rightId: String, rightText: String,
                  k: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]; got $threshold")
    def setsOf(df: DataFrame, idc: String, tc: String) =
      shingled(df, idc, tc, k)
        .select(col("__id"), array_distinct(col("__sh")).as("__set"))
        .filter(size(col("__set")) > 0)
    val sl = setsOf(left, leftId, leftText)
    val sr = setsOf(right, rightId, rightText)
    def gkc(c: Column) = md5(concat_ws("\u0001", c))
    val keyedL = ScratchCache(sl.select(col("__id").as("__ml"), gkc(col("__set")).as("__gk")))
    val keyedR = ScratchCache(sr.select(col("__id").as("__mr"), gkc(col("__set")).as("__gk")))
    val reps = ScratchCache(sl.select(col("__set")).unionByName(sr.select(col("__set")))
      .select(gkc(col("__set")).as("__id"), col("__set"))
      .dropDuplicates("__id"))
    val repPairs = prefixRepPairs(reps, threshold)
    crossVerifyExpand(repPairs, reps, "__set", keyedL, keyedR, threshold)
  }

  /** CROSS-TABLE [[minhashPairs]] — the approximate (LSH-recall) sibling of
    * [[jaccardJoin]], for when the exact prefix filter's candidate volume
    * is too hot at corpus scale: both tables' distinct shingle LISTS are
    * signed once (md5 minhash spec), banded once, candidates come from the
    * band equi-join over the combined rep table, exact Jaccard verifies at
    * the rep level, and verified pairs expand to left×right members in both
    * orientations; identical lists across the tables pair through the
    * content-key equi join directly. The collapse is recall-neutral vs
    * banding every row (members share their rep's signature, hence every
    * band key). Output: (id_l, id_r, jaccard). */
  def minhashJoin(left: DataFrame, leftId: String, leftText: String,
                  right: DataFrame, rightId: String, rightText: String,
                  k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                  threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]; got $threshold")
    def sh(df: DataFrame, idc: String, tc: String) = shingled(df, idc, tc, k)
    val sl = sh(left, leftId, leftText)
    val sr = sh(right, rightId, rightText)
    def gkc(c: Column) = md5(concat_ws("\u0001", c))
    val keyedL = ScratchCache(sl.select(col("__id").as("__ml"), gkc(col("__sh")).as("__gk")))
    val keyedR = ScratchCache(sr.select(col("__id").as("__mr"), gkc(col("__sh")).as("__gk")))
    val reps = ScratchCache(sl.select(col("__sh")).unionByName(sr.select(col("__sh")))
      .select(gkc(col("__sh")).as("__id"), col("__sh"))
      .dropDuplicates("__id")
      .withColumn("__sig", minhashMd5U(col("__sh"), lit(numHashes))))
    val repPairs = bandRepPairs(reps, bands, numHashes / bands)
    crossVerifyExpand(repPairs, reps, "__sh", keyedL, keyedR, threshold)
  }

  /** Shared tail of [[jaccardJoin]] and [[minhashJoin]]: verify exact
    * Jaccard on the candidate REP pairs, emit identical-content cross
    * pairs via the content-key equi join, and expand verified rep pairs to
    * left×right members in both orientations. `reps` is keyed by content
    * md5 (`__id`), `keyedL`/`keyedR` map member ids to content keys. */
  private def crossVerifyExpand(repPairs: DataFrame, reps: DataFrame,
                                contentCol: String, keyedL: DataFrame,
                                keyedR: DataFrame, threshold: Double): DataFrame = {
    def jac(sa: Column, sb: Column): Column =
      when(size(array_union(sa, sb)) === 0, 0.0)
        .otherwise(size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb)))
    // cached: BOTH orientation expansions consume the verified pairs —
    // uncached, the candidate join + jaccard verify ran twice per action
    // (the hammingJoin precedent at its repVerified)
    val repVerified = ScratchCache(repPairs
      .join(reps.select(col("__id").as("__ra"), col(contentCol).as("__c_a")), Seq("__ra"))
      .join(reps.select(col("__id").as("__rb"), col(contentCol).as("__c_b")), Seq("__rb"))
      .withColumn("jaccard", jac(col("__c_a"), col("__c_b")))
      .filter(col("jaccard") >= threshold)
      .select("__ra", "__rb", "jaccard"))
    val selfJac = reps.select(col("__id").as("__gk"),
        jac(col(contentCol), col(contentCol)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val same = keyedL.join(keyedR, Seq("__gk")).join(selfJac, Seq("__gk"))
      .select(col("__ml").as("id_l"), col("__mr").as("id_r"), col("jaccard"))
    def orient(pl: String, pr: String) = repVerified
      .join(keyedL.select(col("__gk").as(pl), col("__ml")), Seq(pl))
      .join(keyedR.select(col("__gk").as(pr), col("__mr")), Seq(pr))
      .select(col("__ml").as("id_l"), col("__mr").as("id_r"), col("jaccard"))
    same.unionByName(orient("__ra", "__rb")).unionByName(orient("__rb", "__ra"))
  }

  private def shingled(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // small corpora often arrive as one parquet file = one partition; the
    // signature computation is the expensive stage, so spread it first.
    // Tokens are projected into their own column BEFORE shingling — inlining
    // the split would re-run the regex once per shingle (see shinglesOfTokens)
    // rows with fewer than k tokens can never pair (their shingle set is
    // empty and their signature null — and concat_ws would fold a null band
    // slice to a CONSTANT key, bucketing all such rows together); drop them
    // here on the cheap token-count predicate
    // spread the RAW text only when the input is pathologically narrow,
    // then tokenize: with the projection before the exchange the regex
    // tokenizer ran inside the (often single-file → single-partition) scan
    // task — measured 5.6 s in one task on the sf0.1 cold profile — while
    // everything downstream was already spread. At corpus scale the parquet
    // scan is already thousands of splits, and the old UNCONDITIONAL
    // repartition(defaultParallelism) was a full-corpus raw-text shuffle
    // that could even SHRINK scan parallelism (r21 verdict #4) — the
    // spreadNarrow guard keeps the single-file fix without the data-wide
    // exchange (guide §2.4).
    // The token-count filter sits behind a Fence: unfenced,
    // PushDownPredicates pushed it below the repartition, re-running the
    // full tokenize (serially, pre-spread) inside the scan task — the exact
    // single-task hotspot the spread exists to avoid (the q135 profile read
    // 2.7 s in that one task, ~80% of the query). On unspread inputs the
    // fence still keeps the tokenize from being copied into the filter.
    Fence(spreadNarrow(df.select(col(idCol).as("__id"), col(textCol).as("__txt")))
      .select(col("__id"), tokens(col("__txt")).as("__t")))
      .filter(size(col("__t")) >= k)
      .select(col("__id"), shinglesOfTokens(col("__t"), k).as("__sh"))
  }

  /** Persistable MinHash signature table — the state an INCREMENTAL
    * near-dup pipeline keeps between crawl snapshots: (idCol, minhash_sig)
    * with the md5 signature spec, one row per document with ≥ k tokens.
    * Write this to parquet once per snapshot; new batches then probe it
    * via [[minhashPairsIncremental]] without ever re-reading old TEXT —
    * the signature (numHashes × 32-byte hex strings) is the only thing
    * that persists or shuffles. */
  def minhashSignatureTable(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 3, numHashes: Int = 16): DataFrame =
    shingled(df, idCol, textCol, k)
      // no isNotNull filter: shingled() already drops sub-k-token docs, so
      // __sh is non-empty and the signature never null — the redundant
      // filter was pushed below shingled's repartition and re-ran the FULL
      // signature UDF serially inside the scan task (2.7 s single-task on
      // the q135 profile)
      .select(col("__id").as(idCol), minhashMd5U(col("__sh"), lit(numHashes)).as("minhash_sig"))

  /** [[minhashSignatureTable]] with the engine-native xxhash64 signature
    * (whole-stage-codegen'd, no per-shingle digest UDF — the
    * [[minhashPairsFast]] relationship). [[minhashPairsIncremental]] is
    * signature-agnostic (banding and the component-match estimate only
    * need equality), so snapshots stored with either spec probe
    * identically — just never mix the two specs across snapshots. */
  def minhashSignatureTableFast(df: DataFrame, idCol: String, textCol: String,
                                k: Int = 3, numHashes: Int = 16): DataFrame =
    shingled(df, idCol, textCol, k)
      // no isNotNull filter — same argument as [[minhashSignatureTable]]
      .select(col("__id").as(idCol), minhashFastU(col("__sh"), lit(numHashes)).as("minhash_sig"))

  /** Incremental near-dup probe: band-join a NEW batch's signatures
    * against old + new, emit canonical (id_a, id_b, est_jaccard) pairs
    * with the signature-estimated Jaccard (matching components /
    * numHashes) at or above `threshold`. Old-old pairs are never emitted
    * (the old corpus is already deduped); ids must be unique across both
    * tables (caller contract — crawl snapshots use disjoint id ranges).
    *
    * The estimate replaces the exact-Jaccard verification of
    * [[minhashPairs]] BY DESIGN: verification needs both documents' text,
    * and the entire point of the stored-signature shape is that a new
    * batch joins a 100 TB corpus's signatures — ≈ 0.5 KB/doc — instead of
    * the corpus. E[estimate] = true Jaccard with variance j(1−j)/n.
    *
    * Unlike [[minhashPairs]] this path has no exact-duplicate collapse
    * (collapse keys need shingle content, which deliberately does not
    * persist): a corpus-hot boilerplate document with m stored copies
    * costs m rows per band bucket here. Snapshots produced by an
    * exact-dedup pass (the normal pipeline order) don't carry such
    * copies; if yours does, collapse identical SIGNATURES to a
    * representative before storing. */
  def minhashPairsIncremental(newSigs: DataFrame, oldSigs: DataFrame, idCol: String,
                              sigCol: String = "minhash_sig", numHashes: Int = 16,
                              bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val (pairs, banding) = minhashPairsIncrementalTracked(newSigs, oldSigs, idCol,
      sigCol, numHashes, bands, threshold)
    trackBandingCache(banding)
    pairs
  }

  /** Bounded FIFO of banding caches created by the PLAIN
    * [[minhashPairsIncremental]] wrapper, so a caller probing in a loop
    * without the Tracked handle still cannot accumulate one CacheManager
    * entry per call for the session's lifetime: beyond the newest
    * [[MaxLiveBandingCaches]] entries the oldest is unpersisted. Unpersist
    * is always SAFE — a consumer still holding the old frame recomputes the
    * banding instead of reading the cache — so the bound trades at worst a
    * recompute on a pathological evaluation order for a hard memory cap.
    * Callers that want exact per-batch release (streaming) keep using
    * [[minhashPairsIncrementalTracked]]. */
  private val MaxLiveBandingCaches = 8
  private val liveBandingCaches = new java.util.ArrayDeque[DataFrame]()
  private def trackBandingCache(df: DataFrame): Unit = liveBandingCaches.synchronized {
    liveBandingCaches.addLast(df)
    while (liveBandingCaches.size() > MaxLiveBandingCaches) {
      try liveBandingCaches.removeFirst().unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
  private[graft] def liveBandingCacheCount: Int =
    liveBandingCaches.synchronized(liveBandingCaches.size())

  /** [[minhashPairsIncremental]] plus a handle on its cached banding, so a
    * REPEATED caller can `unpersist` the second element once the batch's
    * pairs are consumed — without that, one CacheManager entry accumulates
    * per probe for the session's lifetime (round-12 advice;
    * StreamingDedup.minhashIncremental's foreachBatch does exactly this).
    * Public because ANY long-lived incremental-ingest loop calling the
    * probe per batch needs the release handle; one-shot batch callers can
    * use the plain method and let the session end reclaim the single
    * entry. */
  def minhashPairsIncrementalTracked(
      newSigs: DataFrame, oldSigs: DataFrame, idCol: String,
      sigCol: String = "minhash_sig", numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // SPEC GUARDS — a mixed-spec probe would silently return garbage
    // (disjoint band keys -> missed pairs, or mis-scaled estimates):
    // 1. md5 signatures are array<string>, xxhash fast signatures are
    //    array<bigint>; mixing them across snapshots would be silently
    //    string-coerced by the union below — reject at call time instead.
    val newT = newSigs.schema(sigCol).dataType
    val oldT = oldSigs.schema(sigCol).dataType
    require(newT == oldT,
      s"signature spec mismatch: $sigCol is $newT in the new batch but $oldT in the stored " +
        "snapshot — md5 (minhashSignatureTable) and xxhash (minhashSignatureTableFast) " +
        "signatures must never mix across snapshots")
    // 2. a snapshot written with a different numHashes would band only a
    //    prefix and mis-scale est_jaccard; the width check is fused into
    //    the band-key projection so it cannot be pruned and fails loudly
    //    at execution on the first offending row.
    def banded(df: DataFrame) = bandedSigs(df, idCol, sigCol, numHashes, bands)
    // the banded new side feeds both the probe side and the new∪old side —
    // cache it so the signature banding runs once, not twice. cache() and
    // not localCheckpoint: the columnar cache materializes PIPELINED inside
    // the first consuming job, while either checkpoint flavor costs an
    // extra full materialization pass (measured +35% on q135). The entry is
    // returned by the Tracked variant so repeated probes
    // can unpersist it per batch.
    val nbd = banded(newSigs).cache()
    val nb = nbd.select(col("__band"), col("__key"), col("__id").as("__idn"))
    val ab = nbd.unionByName(banded(oldSigs))
      .select(col("__band"), col("__key"), col("__id").as("__ida"))
    val cand = nb.join(ab, Seq("__band", "__key"))
      .filter(col("__idn") =!= col("__ida"))
      .select(least(col("__idn"), col("__ida")).as("id_a"),
        greatest(col("__idn"), col("__ida")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // NOT cached: both per-pair signature lookups consume this union, but
    // the probe's contract (StreamingDedupSpec pins it) is that its ONLY
    // CacheManager entry is the returned banding handle — a lingering
    // scratch entry per micro-batch would accumulate for a stream's
    // lifetime. Batch callers that probe the same snapshot repeatedly
    // (q135) cache their signature tables caller-side instead.
    val sigs = newSigs.select(col(idCol).as("__sid"), col(sigCol).as("__sig"))
      .unionByName(oldSigs.select(col(idCol).as("__sid"), col(sigCol).as("__sig")))
      .dropDuplicates("__sid")
    val pairs = cand
      .join(sigs.select(col("__sid").as("id_a"), col("__sig").as("__sa")), Seq("id_a"))
      .join(sigs.select(col("__sid").as("id_b"), col("__sig").as("__sb")), Seq("id_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("__sa"), col("__sb"), (x, y) => x === y), b => b))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    (pairs, nbd)
  }

  /** Band-key projection shared by the incremental probes: explode each
    * signature into `bands` md5 band keys — (__id, __band, __key) — with
    * the numHashes width check fused into the projection (cannot be
    * pruned; fails loudly on the first offending row). */
  private def bandedSigs(df: DataFrame, idCol: String, sigCol: String,
                         numHashes: Int, bands: Int): DataFrame = {
    val rpb = numHashes / bands
    df.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .select(col("__id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => when(size(col("__sig")) === numHashes,
            md5(concat_ws("|", transform(
              slice(col("__sig"), b * rpb + 1, lit(rpb)), x => x.cast("string")))))
            .otherwise(raise_error(concat(
              lit(s"minhash spec mismatch: probe expects numHashes=$numHashes but stored " +
                s"signature has "), size(col("__sig")).cast("string"), lit(" components"))))))
          .as(Seq("__band", "__key")))
  }

  /** Persist a [[minhashSignatureTable]] snapshot as a BUCKETED table
    * (hash-bucketed + sorted on `idCol` via [[graft.io.Bucketed]]) — the
    * storage layout [[minhashPairsIncrementalStored]] is shaped for: the
    * probe's per-id signature lookups then reach the snapshot scan with no
    * Exchange on the stored side. Pick `buckets` once per corpus (≈ cores ×
    * a small multiple) and keep it stable across snapshots. */
  def writeSignatureSnapshot(sigs: DataFrame, table: String, path: String,
                             idCol: String, buckets: Int): Unit =
    graft.io.Bucketed.write(sigs, table, path, idCol, buckets)

  /** Read a signature snapshot back WITH its bucket metadata (reading the
    * parquet path directly would lose the layout and reintroduce the
    * stored-side shuffle). */
  def readSignatureSnapshot(spark: org.apache.spark.sql.SparkSession,
                            table: String): DataFrame =
    graft.io.Bucketed.read(spark, table)

  /** [[minhashPairsIncremental]] restructured for a SMALL new batch probing
    * a HUGE stored snapshot (the 100 TB steady state) — same results, but
    * the stored side is never exchanged:
    *
    *  - band-candidate join: the new side's banded keys are explicitly
    *    `broadcast()`, so the snapshot's banding scan streams through a
    *    BroadcastHashJoin with no shuffle of the (corpus-sized) stored side;
    *  - signature lookups: each pair id is first resolved against the
    *    (broadcast) new batch, then LEFT-joined against the stored snapshot
    *    on the id itself — when the snapshot was written with
    *    [[writeSignatureSnapshot]] (bucketed by id), that equi-join reads
    *    the bucketed layout and only the candidate side moves.
    *
    * The plain [[minhashPairsIncremental]] remains the right call when the
    * two sides are comparable in size (its symmetric shuffle beats
    * broadcasting a non-small new batch). Contract is identical: ids unique
    * across both tables, old-old pairs never emitted, signature specs must
    * match. */
  def minhashPairsIncrementalStored(newSigs: DataFrame, storedSigs: DataFrame,
                                    idCol: String, sigCol: String = "minhash_sig",
                                    numHashes: Int = 16, bands: Int = 4,
                                    threshold: Double = 0.5): DataFrame = {
    requireSameSigSpec(newSigs, storedSigs, sigCol)
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    storedProbe(newSigs, storedSigs,
      bandedSigs(storedSigs, idCol, sigCol, numHashes, bands)
        .select(col("__band"), col("__key"), col("__id").as("__ida")),
      idCol, sigCol, numHashes, bands, threshold)
  }

  /** Column name carrying the banding spec of a stored banded snapshot —
    * a probe with mismatched numHashes/bands then fails loudly at
    * analysis instead of silently missing every pair on disjoint keys. */
  private def bandedKeyCol(numHashes: Int, bands: Int): String = s"key_${numHashes}x$bands"

  /** Persist the BANDED projection of a signature snapshot — one row per
    * (band, band-key, id), bucketed by the band key via
    * [[graft.io.Bucketed]]. [[minhashPairsIncrementalBanded]] probes then
    * skip re-banding the corpus entirely: at 100 TB the per-probe
    * posexplode + per-slice md5 over every stored signature dwarfs the
    * (already exchange-free) candidate join, and this moves that work to
    * snapshot-write time, once. Storage is ~bands rows × (int + 32-char
    * key + id) per document NEXT TO the signature snapshot (which the
    * probe still needs for the estimate lookup — keep both). */
  /** The banded projection [[writeBandedSnapshot]] persists — (band,
    * key_NxB, id) with the banding spec fused into the key column's name —
    * exposed so an in-memory incremental pipeline (streaming foreachBatch)
    * can accumulate the same table across batches and probe it with
    * [[minhashPairsIncrementalBanded]] without a filesystem snapshot. */
  def bandedSnapshotProjection(sigs: DataFrame, idCol: String,
                               sigCol: String = "minhash_sig",
                               numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val kc = bandedKeyCol(numHashes, bands)
    bandedSigs(sigs, idCol, sigCol, numHashes, bands)
      .select(col("__band").as("band"), col("__key").as(kc), col("__id").as(idCol))
  }

  def writeBandedSnapshot(sigs: DataFrame, table: String, path: String,
                          idCol: String, sigCol: String = "minhash_sig",
                          numHashes: Int = 16, bands: Int = 4,
                          buckets: Int = 64): Unit = {
    val kc = bandedKeyCol(numHashes, bands)
    val b = bandedSnapshotProjection(sigs, idCol, sigCol, numHashes, bands)
    graft.io.Bucketed.write(b, table, path, kc, buckets)
  }

  /** [[minhashPairsIncrementalStored]] probing a PRE-BANDED snapshot
    * ([[writeBandedSnapshot]]): identical pairs, but the stored side's
    * banding is read, not recomputed — the snapshot scan carries no
    * explode and no hashing, and still reaches its join un-exchanged.
    * `storedSigs` (the signature snapshot) is still required for the
    * estimate lookup; the two tables must come from the same snapshot
    * write (ids in one and not the other yield missed pairs / null-sig
    * drops, the usual stale-index contract). */
  def minhashPairsIncrementalBanded(newSigs: DataFrame, storedSigs: DataFrame,
                                    storedBanded: DataFrame, idCol: String,
                                    sigCol: String = "minhash_sig",
                                    numHashes: Int = 16, bands: Int = 4,
                                    threshold: Double = 0.5): DataFrame = {
    requireSameSigSpec(newSigs, storedSigs, sigCol)
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val kc = bandedKeyCol(numHashes, bands)
    require(storedBanded.columns.contains(kc),
      s"banded snapshot spec mismatch: expected column $kc but the stored banded table has " +
        s"[${storedBanded.columns.mkString(", ")}] — was it written with a different " +
        "numHashes/bands than this probe?")
    storedProbe(newSigs, storedSigs,
      storedBanded.select(col("band").as("__band"), col(kc).as("__key"),
        col(idCol).as("__ida")),
      idCol, sigCol, numHashes, bands, threshold)
  }

  private def requireSameSigSpec(newSigs: DataFrame, storedSigs: DataFrame,
                                 sigCol: String): Unit = {
    val newT = newSigs.schema(sigCol).dataType
    val oldT = storedSigs.schema(sigCol).dataType
    require(newT == oldT,
      s"signature spec mismatch: $sigCol is $newT in the new batch but $oldT in the stored " +
        "snapshot — md5 (minhashSignatureTable) and xxhash (minhashSignatureTableFast) " +
        "signatures must never mix across snapshots")
  }

  /** Shared tail of the stored-snapshot probes: candidates from the banded
    * join (new side broadcast), per-id signature lookups (new batch
    * broadcast, stored side joined on its own bucket key), estimate +
    * threshold. `oldBanded` must already be (__band, __key, __ida). */
  private def storedProbe(newSigs: DataFrame, storedSigs: DataFrame,
                          oldBanded: DataFrame, idCol: String, sigCol: String,
                          numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    // banded new side feeds the probe AND the new-new candidate join —
    // localCheckpoint (not cache) for the same foreachBatch posture as
    // minhashPairsIncremental; the new batch is small by contract, so the
    // eager materialization costs one pass over the BATCH, not the corpus
    val nbd = bandedSigs(newSigs, idCol, sigCol, numHashes, bands).localCheckpoint()
    val nb = nbd.select(col("__band"), col("__key"), col("__id").as("__idn"))
    val newBanded = nbd.select(col("__band"), col("__key"), col("__id").as("__ida"))
    val cand = broadcast(nb).join(oldBanded, Seq("__band", "__key"))
      .unionByName(nb.join(newBanded, Seq("__band", "__key")))
      .filter(col("__idn") =!= col("__ida"))
      .select(least(col("__idn"), col("__ida")).as("id_a"),
        greatest(col("__idn"), col("__ida")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // per-id signature lookup: new batch broadcast, stored snapshot joined
    // on its own bucket key (ids unique across sides -> exactly one hit)
    val newL = newSigs.select(col(idCol).as("__sid"), col(sigCol).as("__sig"))
    // width guard fused into the stored-side lookup projection: the PRE-
    // BANDED probe never runs bandedSigs over storedSigs, so without this a
    // signature snapshot written with a different numHashes than the banded
    // table would silently mis-scale est_jaccard via zip_with null-padding.
    // NULL signatures pass through (missing ids already yield null via the
    // left join); the guard only rejects present-but-mis-sized rows. The
    // projection preserves the bucketed scan's output partitioning on the
    // id, so the exchange-free stored-side join is untouched.
    val oldL = storedSigs.select(col(idCol).as("__sid"),
      when(col(sigCol).isNull || size(col(sigCol)) === numHashes, col(sigCol))
        .otherwise(raise_error(concat(
          lit(s"minhash spec mismatch: probe expects numHashes=$numHashes but stored " +
            "signature snapshot has "),
          size(col(sigCol)).cast("string"), lit(" components")))).as("__sig"))
    def withSig(df: DataFrame, pairCol: String, out: String): DataFrame =
      df.join(broadcast(newL.select(col("__sid").as(pairCol), col("__sig").as(out + "_n"))),
          Seq(pairCol), "left")
        .join(oldL.select(col("__sid").as(pairCol), col("__sig").as(out + "_o")),
          Seq(pairCol), "left")
        .withColumn(out, coalesce(col(out + "_n"), col(out + "_o")))
        .drop(out + "_n", out + "_o")
    withSig(withSig(cand, "id_a", "__sa"), "id_b", "__sb")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("__sa"), col("__sb"), (x, y) => x === y), b => b))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Candidate near-duplicate pairs via MinHash LSH (md5 signature spec —
    * engine-independent, oracle-reproducible), verified with exact
    * shingle-set Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * numHashes must be divisible by bands; rows per band bucket shuffle on
    * the band key, so the only quadratic work is within buckets. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                   threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // no isNotNull filter on __sig: a null signature (empty shingle set)
    // yields a null band array, which posexplode already drops — filtering
    // here would just evaluate the signature UDF a second time
    val sig = shingled(df, idCol, textCol, k)
      .withColumn("__sig", minhashMd5U(col("__sh"), lit(numHashes)))
    bandedJaccardPairs(sig, bands, numHashes / bands, threshold)
  }

  /** [[minhashPairs]] with the engine-native xxhash64 signature
    * (whole-stage-codegen'd — no per-shingle digest UDF). The verified pair
    * set coincides with the md5 path whenever both bandings surface the
    * same candidates (always, in practice, for the high-Jaccard near-dup
    * pairs LSH is tuned for); the exact-Jaccard verification step is
    * identical. This is the 100 TB path. */
  def minhashPairsFast(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                       threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sig = shingled(df, idCol, textCol, k)
      .withColumn("__sig", minhashFastU(col("__sh"), lit(numHashes)))
    bandedJaccardPairs(sig, bands, numHashes / bands, threshold)
  }

  /** Distributed connected components over an undirected pair list, via the
    * alternating large-star / small-star algorithm (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond" — public MapReduce
    * formulation, re-expressed as DataFrame window aggregations).
    *
    * Input: candidate pairs (`aCol`, `bCol`) — e.g. the output of
    * [[minhashPairs]] / [[simhashPairs]] / [[embeddingPairs]]. Output: one
    * row per node that appears in any pair, with its `component` label (=
    * the smallest node id reachable from it). Dedup pipelines need the
    * TRANSITIVE closure: near-dup chains A~B, B~C with no direct A~C pair
    * must still collapse to one cluster, which a one-hop min-neighbor map
    * gets wrong.
    *
    * Path choice, made at execution time: the result is one
    * [[graft.plans.ConnectedComponents]] plan node, so building it runs no
    * Spark job. When it executes, integral ids first take a bounded LOCAL
    * path: one job runs a min-root union-find in each partition of the
    * pairs (self-loops included) and returns its star forest; one task
    * merges the forests with the same union-find, and the driver
    * parallelizes the merged labels, which are IDENTICAL to the
    * star-contraction fixpoint (component = min member id). The guard
    * `spark.graft.cc.localEdgeLimit` (default 1 000 000), read once when
    * the frame is built, bounds union-find NODES: a partition or the merge
    * holding more gives up at once, so task and driver memory stay bounded.
    * A pair graph from a dedup pass has about as many nodes as near-dup
    * documents, far fewer than the corpus, so it usually fits.
    * Graphs past the guard, and non-integral ids, run the distributed loop
    * below inside the same execution, over the pairs' rows.
    *
    * Loop scale posture: each round computes per-node neighborhood minima via
    * `groupBy(u).agg(min(v))` (map-side partial aggregation — a hub node's
    * min reaches the reducer as one pre-combined row per upstream
    * partition, never its full neighborhood) joined back on `u`; that
    * equi-join is the only place a hub's edges co-locate, and AQE
    * skew-split can break it up (unlike the window formulation this
    * replaced, which pinned the whole neighborhood into one task). No step
    * ever collects a component onto the driver or into a single row, and
    * intermediate edge counts are bounded by the input (large-star emits
    * one edge per larger-neighbor, small-star one per smaller-neighbor
    * plus one per node). Rounds are O(log n) by the paper's potential
    * argument; each round is `localCheckpoint`ed so round k's plan does
    * not re-execute rounds 1..k-1 (same lineage-truncation posture as the
    * nearest-join rounds), and the previous round's checkpoint blocks are
    * unpersisted once the new round is materialized, so executor storage
    * stays O(current edge set) instead of growing with round count.
    * Convergence is an edge-set fixpoint checked cheaply: both sides are
    * distinct-normalized, so equal counts plus one empty set difference
    * imply equality (the count gate short-circuits exceptAll on every
    * shrinking round). If `maxIterations` is hit before the fixpoint the
    * result is still well-defined — final labels aggregate min-per-node,
    * so a node with residual multi-edges gets its smallest known root (a
    * coarser, never-duplicated labeling) and a warning is logged. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                          maxIterations: Int = 50): DataFrame = {
    // both ends share the type an (a, b) array would give them, as the
    // node ids of the output do
    val idType = pairs.select(array(col(aCol), col(bCol))).schema.head.dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val init = pairs.select(col(aCol).cast(idType).as("u"), col(bCol).cast(idType).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
    val localLimit =
      try pairs.sparkSession.conf.get("spark.graft.cc.localEdgeLimit", "1000000").toLong
      catch { case _: NumberFormatException => 1000000L }
    graft.plans.ConnectedComponents(init, localLimit, maxIterations)
  }

  /** INCREMENTAL [[connectedComponents]] — fold a new batch's near-dup
    * pairs into an existing labeling without the historical edge list
    * (the crawl-snapshot steady state: per batch, relabel over |corpus|
    * label rows + |batch| edges instead of every pair ever found).
    *
    * `oldLabels` is a complete (id, component) labeling as produced by
    * [[connectedComponents]] (or a previous call here) — each label is the
    * min member id of its cluster, so the labeling IS the old graph,
    * compressed to one height-1 star edge per node with connectivity and
    * min ids preserved. Folding the stars in with the new pairs therefore
    * yields labels IDENTICAL to a full recompute over (all old edges ∪
    * new pairs): new docs attach to old clusters, a new doc touching two
    * old clusters merges them (both relabel to the global min), and
    * new-new pairs cluster among themselves. Output: (id, component) for
    * every id in `oldLabels` or `newPairs`.
    *
    * Scale posture: the star side is already height-1, so the
    * large-star/small-star loop converges in a round or two regardless of
    * how deep the original clusters' merge history was; per-batch cost is
    * bound by the label table (one ~16-byte row per corpus doc — the same
    * tier economics as the minhash signature snapshot, which is exactly
    * where the new pairs come from via
    * [[minhashPairsIncremental]]). */
  def connectedComponentsIncremental(oldLabels: DataFrame, newPairs: DataFrame,
                                     aCol: String = "id_a", bCol: String = "id_b",
                                     maxIterations: Int = 50): DataFrame = {
    val star = oldLabels.select(col("id").as(aCol), col("component").as(bCol))
    connectedComponents(star.unionByName(newPairs.select(col(aCol), col(bCol))),
      aCol, bCol, maxIterations)
  }

  /** Quality-aware survivor selection over a near-dup pair graph: keep ONE
    * document per transitive cluster — the highest `scoreCol`, ties broken
    * toward the smallest id (deterministic across retries/repartitions).
    * The usual final step of near-dup dedup when copies differ in quality
    * (boilerplate-stripped vs raw, truncated vs full): min-id
    * canonicalization ([[minhashDedup]]) keeps an arbitrary copy; this
    * keeps the best one. Documents in no pair survive as their own
    * singleton cluster. Output: the surviving rows of `df` plus
    * `component` (cluster label) and `csize` (cluster population).
    *
    * Scale posture: connected components over the pair graph (edge-bound,
    * see [[connectedComponents]]), then one shuffle each for the label
    * join, the per-component `min_by` winner (map-side partial agg — at
    * most one candidate row per component per partition reaches the
    * shuffle), and the winner's row-recovery join, all on cluster/id keys
    * — never on text. `scoreCol` must be numeric (it is negated for the
    * min_by ordering). */
  def keepClusterRepresentatives(df: DataFrame, pairs: DataFrame,
                                 idCol: String, scoreCol: String,
                                 aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("component").as("__cc"))
    val labeled = df.join(labels, Seq(idCol), "left")
      .withColumn("component", coalesce(col("__cc"), col(idCol))).drop("__cc")
    val winners = labeled.groupBy(col("component"))
      .agg(min_by(col(idCol), struct(negate(col(scoreCol)), col(idCol))).as(idCol),
        count(lit(1)).as("csize"))
    labeled.join(winners, Seq(idCol, "component"))
  }

  /** Leakage-free train/validation split over a near-dup pair graph:
    * every TRANSITIVE near-dup cluster lands wholly in one split, so no
    * document's near-duplicate can leak from train into the held-out set
    * (the eval-contamination failure mode of splitting by row hash —
    * reference: "Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022, which found dup-mediated train/test
    * leakage throughout public corpora). The split decision is the same
    * deterministic md5 draw as [[graft.ops.Sampling.deterministicSample]],
    * but keyed on the CLUSTER label (the component's min id), not the
    * row id: stable across retries, repartitions, and re-runs, and
    * documents in no pair split independently as their own singleton
    * cluster. Output: `df` plus `component` and `split`
    * ('val' for ~`valFraction` of clusters, else 'train').
    *
    * Scale posture: connected components over the pair graph (edge-bound),
    * one broadcast-able label join on ids, and a map-side literal
    * threshold compare — the corpus text never shuffles. */
  def clusterAwareSplit(df: DataFrame, pairs: DataFrame, idCol: String,
                        valFraction: Double, salt: String = "s",
                        aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    require(valFraction >= 0 && valFraction <= 1,
      s"valFraction must be in [0,1]; got $valFraction")
    // 'component'/'split' are RESERVED output columns: a pre-existing
    // 'component' would make the label join ambiguous and a pre-existing
    // 'split' would be silently overwritten by withColumn
    for (reserved <- Seq("component", "split"))
      require(!df.columns.contains(reserved),
        s"clusterAwareSplit writes a '$reserved' column; input already has one — rename it first")
    val labels = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("component").as("__cc"))
    df.join(labels, Seq(idCol), "left")
      .withColumn("component", coalesce(col("__cc"), col(idCol))).drop("__cc")
      .withColumn("split",
        when(graft.ops.Sampling.isSampled(col("component"), valFraction, salt),
          lit("val")).otherwise(lit("train")))
  }

  /** Cluster representative per near-dup group: each document is labeled
    * with the smallest id in its TRANSITIVE near-dup cluster (connected
    * components over the verified pair graph — chains A~B~C collapse to one
    * cluster even without a direct A~C pair). Rows with no near-dup pair
    * keep their own id. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                   threshold: Double = 0.5): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, k, numHashes, bands, threshold)
    val labels = connectedComponents(pairs)
      .select(col("id").as(idCol), col("component").as("__canon"))
    df.join(labels, Seq(idCol), "left")
      .withColumn("canonical_id", coalesce(col("__canon"), col(idCol)))
      .drop("__canon")
  }

  /** SimHash near-dup pairs: the 64-bit signature is banded with the
    * multi-index-hashing plan of [[hammingBandPlan]] — maxHamming/2 + 1
    * bit-exact chunks with single-bit probe expansion, so any pair within
    * hamming distance `maxHamming` shares ≥1 (band, key) bucket and is
    * found by the bucket equi-join with recall 1. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(df.withColumn("__graft_sig", simhash64(col(textCol))),
      idCol, "__graft_sig", maxHamming)

  /** 64-bit long of a 16-hex-char signature: two conv'd 32-bit halves
    * recombined with shifts (a single conv of all 16 chars would pass
    * through a decimal string wider than a signed long for high-bit
    * signatures). Case-insensitive like hex itself. */
  private def hexSigToLong(c: Column): Column =
    shiftleft(conv(substring(c, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(c, 9, 8), 16, 10).cast("long"))

  /** [[hexSigToLong]] with a loud malformed-signature guard: `conv` parses
    * garbage quietly (a non-hex sig would land on an arbitrary long and
    * silently pair with whatever shares it — the pre-round-18 hex path
    * THREW from the verify UDF instead), so anything that is not exactly
    * 16 hex chars raises. Nulls stay null (they drop like the other ops). */
  private def hexSigToLongChecked(c: Column): Column =
    when(c.isNull, lit(null).cast("long"))
      .when(c.rlike("^[0-9a-fA-F]{16}$"), hexSigToLong(c))
      .otherwise(raise_error(concat(
        lit("hamming signature must be exactly 16 hex chars, got: "), c)))

  /** Band key = bits [from, until) of the 64-bit signature. BIT-exact
    * chunking keeps every band key ~64/bands bits wide; the previous
    * hex-aligned chunks left two of the nine maxHamming=8 bands with
    * 4-bit (16-bucket) keys, whose buckets were nearly unselective at
    * corpus scale (round-18, q172 evidence). The pigeonhole argument only
    * needs a fixed partition of the 64 bits into contiguous chunks, so
    * recall is unchanged. */
  private def sigBandKey(sigL: Column, from: Int, until: Int): Column =
    if (until - from >= 64) sigL
    else shiftrightunsigned(sigL, 64 - until).bitwiseAND(lit((1L << (until - from)) - 1))

  /** Chunk boundaries + probe expansion flag for 64-bit hamming banding.
    *
    * maxHamming <= 1: classic pigeonhole — maxHamming+1 exact-match chunks
    * already keep band keys >= 32 bits wide.
    *
    * maxHamming >= 2: exact chunking would need maxHamming+1 chunks and the
    * key narrows to 64/(maxHamming+1) bits; those buckets stop selecting
    * once the DISTINCT-signature count outgrows 2^keyBits and candidates
    * grow ~quadratically (round-17 SCALE: 11.2 ratio on the hamming join).
    * Instead use the single-bit query expansion of multi-index hashing
    * (Norouzi, Punjani, Fleet, "Fast search in Hamming space with
    * multi-index hashing", CVPR 2012): c = maxHamming/2 + 1 chunks — if
    * every chunk had >= 2 differing bits the total would be >= 2c >
    * maxHamming, so some chunk differs in <= 1 bit. The index side emits
    * its c exact chunk keys; the probe side emits each chunk key plus all
    * single-bit flips. The <= 1 differing bit lives on one specific side,
    * but both signatures take both roles, so every qualifying pair meets
    * in both orientations. Band keys stay 64/c bits (~2x the selectivity
    * exponent of exact chunking) and the probe expansion is bounded by
    * sum(chunkWidth + 1) = 64 + c rows per signature for ANY maxHamming. */
  private def hammingBandPlan(maxHamming: Int): (IndexedSeq[Int], Boolean) = {
    val expand = maxHamming >= 2
    val chunks = if (expand) maxHamming / 2 + 1 else maxHamming + 1
    ((0 to chunks).map(i => 64 * i / chunks), expand)
  }

  /** One (band, key) struct per banding row of a signature: exact chunk
    * keys for the index role; exact + every single-bit flip per chunk for
    * the probe role (`flips = true`). */
  private def sigBandStructs(sigL: Column, bound: IndexedSeq[Int], flips: Boolean): Column = {
    val structs = (0 until bound.length - 1).flatMap { i =>
      val k = sigBandKey(sigL, bound(i), bound(i + 1))
      val w = bound(i + 1) - bound(i)
      val variants =
        if (flips) k +: (0 until w).map(j => k.bitwiseXOR(lit(1L << j))) else Seq(k)
      variants.map(v => struct(lit(i).as("b"), v.as("k")))
    }
    array(structs: _*)
  }

  /** Verified near-dup pairs over DISTINCT 64-bit signatures: every
    * unordered pair of `__sigL` values within `maxHamming` bits, emitted
    * once as (__la, __lb, hamming) with __la < __lb. `reps` must be one
    * row per distinct signature (column `__sigL`: long). Equal signatures
    * (hamming 0) are NOT emitted — they never produce __la < __lb — and
    * are the caller's identical-signature fast path. Verification is
    * codegen'd bit_count(xor) on the longs; candidates dedupe on the pair
    * BEFORE the (cheap) verify so multi-band collisions cost once. */
  private def verifiedSigPairs(reps: DataFrame, maxHamming: Int): DataFrame = {
    val (bound, expand) = hammingBandPlan(maxHamming)
    val index = reps.select(col("__sigL").as("__la"),
        explode(sigBandStructs(col("__sigL"), bound, flips = false)).as("__bk"))
      .select(col("__bk.b").as("__band"), col("__bk.k").as("__key"), col("__la"))
    val probe = reps.select(col("__sigL").as("__lb"),
        explode(sigBandStructs(col("__sigL"), bound, flips = expand)).as("__bk"))
      .select(col("__bk.b").as("__band"), col("__bk.k").as("__key"), col("__lb"))
    // both sides descend from the same aggregate, so Catalyst's size
    // estimates can't see the ~65x explode asymmetry and may elect to
    // BROADCAST the big probe side. Pin a shuffle-hash join building on
    // the index side (always the small one: c rows/sig vs 64+c) — and
    // never driver-bound, unlike a broadcast, at corpus-scale rep counts.
    // join strategy by MEASURED rep count (callers pass a cached reps
    // frame, so the count, capped by a limit, warms the cache the main job
    // reuses): a small distinct-signature set
    // broadcasts the index side and the probe explode never shuffles at
    // all; past the threshold pin shuffle-hash building on the index side
    // — never driver-bound, and never Catalyst's own choice, whose size
    // estimates can't see the ~65x explode asymmetry and elected to
    // broadcast the big PROBE side (measured 19 s on an 87k-candidate
    // join, round 18)
    val SmallReps = 200000L
    val joined =
      if (reps.limit((SmallReps + 1).toInt).count() <= SmallReps)
        broadcast(index).join(probe, Seq("__band", "__key"))
      else index.hint("shuffle_hash").join(probe, Seq("__band", "__key"))
    // verify BEFORE the dedup shuffle: bit_count(xor) is a codegen'd
    // two-instruction check, so false candidates die map-side inside the
    // join stage and only true pairs (hit in at most c bands) pay the
    // dropDuplicates exchange
    joined
      .filter(col("__la") < col("__lb"))
      .withColumn("hamming", bit_count(col("__la").bitwiseXOR(col("__lb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("__la", "__lb", "hamming").dropDuplicates("__la", "__lb")
  }

  /** Near-dup pairs for ANY 16-hex-char (64-bit) signature column within
    * `maxHamming` bits — the banded engine under [[simhashPairs]], exposed
    * for other signature families (perceptual image hashes, audio
    * fingerprints). Same recall-1 guarantee ([[hammingBandPlan]]) and the
    * same duplication-proof collapse on the signature value.
    *
    * LAZY (round 20): constructing the result runs NO job. The
    * broadcast-vs-shuffle-hash candidate-join choice needs a bounded count
    * (capped at 200k rows over the cached distinct-signature frame —
    * Catalyst's size estimates mis-plan the ~65x explode asymmetry, so the
    * engine measures instead), and that count now runs at the caller's
    * FIRST ACTION via [[LazyPlan]], memoized for later actions. The same
    * holds for [[hammingJoin]]/[[simhashPairs]], which share this engine.
    * [[hammingPairsPlanned]] is the strategy-resolved variant for plan
    * inspection (it runs the bounded count at construction). */
  def hammingPairs(df: DataFrame, idCol: String, sigCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    val idT = df.schema(idCol).dataType // analysis-time: missing column fails fast
    df.schema(sigCol)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a", idT),
      org.apache.spark.sql.types.StructField("id_b", idT),
      org.apache.spark.sql.types.StructField("hamming", org.apache.spark.sql.types.IntegerType)))
    LazyPlan(df.sparkSession, schema)(() => hammingPairsPlanned(df, idCol, sigCol, maxHamming))
  }

  /** The strategy-resolved plan behind [[hammingPairs]]: runs the bounded
    * rep count AT CONSTRUCTION to pick broadcast vs shuffle-hash, so its
    * `queryExecution` shows the real join plan (specs and PLANS.md dump
    * this variant; the public API defers the count to first action). */
  private[graft] def hammingPairsPlanned(df: DataFrame, idCol: String, sigCol: String,
                                         maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    // spread a NARROW input (a single small file, a coalesced upstream)
    // across the cores before the signature collapse — but only then: for
    // an input that is already adequately partitioned (a bucketed
    // signature table, a big scan) the round-robin repartition was one
    // avoidable full exchange of the corpus (round-13 verdict), and the
    // groupBy below shuffles on its own key anyway
    val base = df.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
    val par = df.sparkSession.sparkContext.defaultParallelism
    // an upstream that already shuffled is spread across
    // spark.sql.shuffle.partitions by construction — and probing its
    // partition count via .rdd would force AQE stage materialization (a
    // plan-time job); only scan-rooted NARROW inputs are probed (their
    // .rdd is pure lineage, no job) and widened when genuinely narrow
    // Walk from the ROOT down: the first partitioning-determining node wins.
    // A narrow coalesce(n) ABOVE a shuffle re-concentrates its output onto n
    // partitions, so "contains a shuffle anywhere" was wrong both ways
    // (round-14 advice): Some(true) = spread adequately, Some(false) =
    // concentrated (repartition), None = pure narrow scan lineage — only
    // then is `.rdd` probed (pure lineage, no AQE stage materialization).
    def spreadState(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[Boolean] =
      p match {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition if !r.shuffle =>
          Some(r.numPartitions * 2 >= par)
        case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => Some(true)
        case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => Some(true)
        case _: org.apache.spark.sql.catalyst.plans.logical.Join => Some(true)
        case _: org.apache.spark.sql.catalyst.plans.logical.Sort => Some(true)
        case _: org.apache.spark.sql.catalyst.plans.logical.Window => Some(true)
        case _: org.apache.spark.sql.catalyst.plans.logical.Distinct => Some(true)
        case _: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => Some(true)
        case _ => p.children.iterator.map(spreadState).collectFirst { case Some(s) => s }
      }
    val spread = spreadState(base.queryExecution.analyzed) match {
      case Some(true)  => base
      case Some(false) => base.repartition(par)
      case None if base.rdd.getNumPartitions * 2 < par => base.repartition(par)
      case None => base
    }
    // cache the PARSED signature projection (16 bytes/row): the upstream
    // is often an expensive signature computation (simhash over text,
    // pHash over an image decode) and it feeds both the member map and
    // the rep collapse — without the cache each consumer re-runs the
    // decode (measured 2x on the image-pHash gate, round 18)
    val sig = ScratchCache(spread.filter(col("__sig").isNotNull)
      .select(col("__id"), hexSigToLongChecked(col("__sig")).as("__sigL")))
    // duplication-proof like the other banded paths, with the signature
    // VALUE (its 64-bit parse — case-insensitive like hamming itself) as
    // the collapse key: the output's hamming distance is a pure function
    // of the two signatures, so rows sharing one are interchangeable —
    // band once per DISTINCT signature, verify hamming once per signature
    // pair, expand member pairs output-bound
    // groups feeds the member map, both banding roles, and two rep-id
    // lookups — cache it once (distinct signatures + one id each)
    val groups = ScratchCache(
      sig.groupBy(col("__sigL")).agg(min(col("__id")).as("__rid")))
    val memb = sig.join(groups, Seq("__sigL")).select(col("__rid"), col("__id"))
    val repVerified = verifiedSigPairs(groups.select(col("__sigL")), maxHamming)
      .join(groups.select(col("__sigL").as("__la"), col("__rid").as("__ra")), Seq("__la"))
      .join(groups.select(col("__sigL").as("__lb"), col("__rid").as("__rb")), Seq("__lb"))
      .select("__ra", "__rb", "hamming")
    // same-signature members: hamming 0 by definition (maxHamming >= 0
    // always admits them, matching the direct path)
    val within = memb.as("x").join(memb.as("y"),
        col("x.__rid") === col("y.__rid") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"), lit(0).as("hamming"))
    val cross = repVerified
      .join(memb.select(col("__rid").as("__ra"), col("__id").as("__ma")), Seq("__ra"))
      .join(memb.select(col("__rid").as("__rb"), col("__id").as("__mb")), Seq("__rb"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("hamming"))
    within.unionByName(cross)
  }

  /** CROSS-TABLE [[hammingPairs]] — near-dup linkage between two tables'
    * 16-hex-char (64-bit) signature columns within `maxHamming` bits
    * (simhash decontamination, pHash/audio-fingerprint snapshot diffing).
    * The DISTINCT signatures of BOTH tables band once through the shared
    * multi-index plan ([[hammingBandPlan]]: any pair within `maxHamming`
    * shares a (band, key) bucket), candidates come
    * from the band equi-join, hamming verifies once per signature pair,
    * and verified pairs expand to left×right members in both orientations;
    * identical signatures across the tables pair through the signature
    * equi join directly (hamming 0). Output: (id_l, id_r, hamming).
    *
    * LAZY like [[hammingPairs]]: the bounded strategy-count runs at the
    * first action, not at construction ([[hammingJoinPlanned]] is the
    * plan-inspectable eager variant). */
  def hammingJoin(left: DataFrame, leftId: String, leftSig: String,
                  right: DataFrame, rightId: String, rightSig: String,
                  maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    val lT = left.schema(leftId).dataType; val rT = right.schema(rightId).dataType
    left.schema(leftSig); right.schema(rightSig)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_l", lT),
      org.apache.spark.sql.types.StructField("id_r", rT),
      org.apache.spark.sql.types.StructField("hamming", org.apache.spark.sql.types.IntegerType)))
    LazyPlan(left.sparkSession, schema)(() =>
      hammingJoinPlanned(left, leftId, leftSig, right, rightId, rightSig, maxHamming))
  }

  /** The strategy-resolved plan behind [[hammingJoin]] (bounded count at
    * construction; see [[hammingPairsPlanned]]). */
  private[graft] def hammingJoinPlanned(left: DataFrame, leftId: String, leftSig: String,
                                        right: DataFrame, rightId: String, rightSig: String,
                                        maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    // cached like jaccardJoin/minhashJoin's keyed sides: the upstream is
    // often an expensive signature computation (simhash/pHash) and each
    // side feeds the rep union, the identical-sig join and one expansion
    val sl = ScratchCache(left.select(col(leftId).as("__ml"),
        hexSigToLongChecked(col(leftSig)).as("__sigL"))
      .filter(col("__sigL").isNotNull))
    val sr = ScratchCache(right.select(col(rightId).as("__mr"),
        hexSigToLongChecked(col(rightSig)).as("__sigL"))
      .filter(col("__sigL").isNotNull))
    // reps feeds BOTH banding roles (differently-exploded subtrees defeat
    // exchange reuse) and repVerified feeds both orientation expansions —
    // cache each once: reps is the distinct-signature set (8 bytes/row),
    // repVerified is output-bound (verified pairs only)
    val reps = ScratchCache(
      sl.select(col("__sigL")).unionByName(sr.select(col("__sigL"))).distinct())
    val repVerified = ScratchCache(verifiedSigPairs(reps, maxHamming))
    val same = sl.join(sr, Seq("__sigL"))
      .select(col("__ml").as("id_l"), col("__mr").as("id_r"), lit(0).as("hamming"))
    def orient(pl: String, pr: String) = repVerified
      .join(sl.select(col("__sigL").as(pl), col("__ml")), Seq(pl))
      .join(sr.select(col("__sigL").as(pr), col("__mr")), Seq(pr))
      .select(col("__ml").as("id_l"), col("__mr").as("id_r"), col("hamming"))
    same.unionByName(orient("__la", "__lb")).unionByName(orient("__lb", "__la"))
  }

  /** Exact n-gram Jaccard similarity for all LSH candidate pairs (wrapper
    * naming the n-gram-Jaccard dedup mode of the pipeline). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
                        threshold: Double = 0.5): DataFrame =
    minhashPairs(df, idCol, textCol, k = n, threshold = threshold)

  /** EXACT edit-distance near-dup pairs: every unordered pair within
    * Levenshtein distance `maxEdits`, found WITHOUT an all-pairs join via
    * the partition-based blocking of PassJoin (Li, Deng, Feng, "PASS-JOIN:
    * a partition-based method for similarity joins", VLDB 2012):
    *
    *  - the SHORTER string of a qualifying pair splits into `maxEdits + 1`
    *    contiguous chunks; ≤ maxEdits edits total means (pigeonhole) at
    *    least one chunk is edit-free, i.e. appears VERBATIM in the longer
    *    string, displaced by at most maxEdits positions (each indel before
    *    the chunk shifts it by one);
    *  - so the index side emits its maxEdits+1 chunks keyed by
    *    (own length, band, chunk string), and the probe side emits every
    *    substring that could BE such a chunk: for each candidate shorter
    *    length `la` in [len−maxEdits, len] and band, the substrings of the
    *    band's chunk length starting within ±maxEdits of the band's chunk
    *    start. Candidates meet on an EQUI key — a hash join Catalyst can
    *    shuffle or broadcast, never a nested loop;
    *  - candidates dedupe on the id pair BEFORE the refine, which is the
    *    thresholded native `levenshtein(a, b, maxEdits)` (early-exits past
    *    the threshold, codegen). Precision 1, recall 1.
    *
    * Strings shorter than maxEdits+1 characters can't donate a non-empty
    * chunk per band; any pair involving one has BOTH sides ≤ 2·maxEdits
    * chars, so that residual bucket self-joins on a banded-length equi key
    * (bounded: strings of a text corpus almost never fit 2·maxEdits chars;
    * each compare is O(maxEdits²)). NULL texts drop.
    *
    * Scale posture: duplication-proof — rows collapse to DISTINCT strings
    * before blocking (edit distance is a pure function of the two strings),
    * so exact-duplicate-heavy corpora pay blocking and refine per distinct
    * string pair and only the output-bound member expansion grows with
    * duplication. Blocking and probe expansion are map-side (≤
    * (maxEdits+1)²·(2·maxEdits+1) probe keys per row — `maxEdits` ≤ 8 by
    * contract, this is a SHORT-key op: dedupe titles, URLs, names, or
    * text prefixes, not whole documents); the only shuffles are the
    * hash join on the chunk key and the candidate-pair dedup. A pathological
    * hot chunk (all rows sharing one substring) degrades to that bucket's
    * candidates only — AQE skew-split applies; the refine never sees a pair
    * the blocking didn't certify. Output: (id_a < id_b, edit_distance).
    *
    * Reference scope note: GeoPandas has no string-similarity surface; this
    * is a beyond-reference pipeline operator (record linkage / fuzzy key
    * dedup) built on the published PassJoin blocking. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxEdits: Int): DataFrame = {
    require(maxEdits >= 0 && maxEdits <= 8,
      s"maxEdits must be in [0, 8] (probe expansion is O(maxEdits^3) keys/row); got $maxEdits")
    val d = maxEdits
    val bands = d + 1
    // ids stay OPAQUE (any orderable type), matching the other Dedup ops —
    // a cast("long") here would silently null string doc ids and the
    // pair filters would then drop everything (round-17 advice)
    val rows = df.select(col(idCol).as("__id"),
        col(textCol).cast("string").as("__t"))
      .filter(col("__t").isNotNull && col(idCol).isNotNull)
    // duplication-proof like the banded dedup paths, with the string itself
    // as the collapse key: edit distance is a pure function of the two
    // strings, so rows sharing a string are interchangeable — block and
    // refine once per DISTINCT string, then expand member pairs
    // output-bound (identical-string member pairs are distance 0 by
    // definition and never reach the refine)
    val groups = rows.groupBy(col("__t")).agg(min(col("__id")).as("__id"))
    val base = groups.withColumn("__L", length(col("__t")))
    val repVerified = editRepVerified(base, d)
    // expand: verified distinct-string pairs fan out to member pairs on the
    // string key; identical-string member pairs are distance 0 directly
    val within = rows.select(col("__t"), col("__id").as("__ma"))
      .join(rows.select(col("__t"), col("__id").as("__mb")), Seq("__t"))
      .filter(col("__ma") < col("__mb"))
      .select(col("__ma").as("id_a"), col("__mb").as("id_b"),
        lit(0).as("edit_distance"))
    val cross = repVerified
      .join(rows.select(col("__t").as("__pa"), col("__id").as("__ma")), Seq("__pa"))
      .join(rows.select(col("__t").as("__pb"), col("__id").as("__mb")), Seq("__pb"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("edit_distance"))
    within.unionByName(cross)
  }

  /** The PassJoin core shared by [[editDistancePairs]] and
    * [[editDistanceJoin]]: given one row per DISTINCT string (`__id`
    * orderable, `__t`, `__L`), every unordered distinct-string pair within
    * `d` edits as (__pa, __pb, edit_distance). */
  private def editRepVerified(base0: DataFrame, d: Int): DataFrame = {
    // cached: the index side, the probe side and the tiny-string residual
    // all scan the distinct-string table — uncached, the upstream distinct
    // (and editDistanceJoin's two-table union + md5 keying) re-ran three
    // times per action
    val base = ScratchCache(base0)
    val bands = d + 1
    // chunk boundary of an `la`-char string at band i: floor(la*i/(d+1))
    def bnd(la: Column, i: Column): Column =
      floor(la * i / lit(bands)).cast("int")

    // ---- main path: pairs whose shorter side has > d chars ----
    val long = base.filter(col("__L") > d)
    // index side: the d+1 chunks of each string, keyed by own length
    val idx = long
      .select(col("__id"), col("__t"), col("__L"),
        explode(sequence(lit(0), lit(d))).as("__band"))
      .select(col("__id").as("__ida"), col("__t").as("__ta"),
        col("__L").as("__la"), col("__band"),
        col("__t").substr(bnd(col("__L"), col("__band")) + 1,
          bnd(col("__L"), col("__band") + 1) - bnd(col("__L"), col("__band"))).as("__chunk"))
    // probe side: every substring that could be a chunk of a shorter-or-
    // equal partner: la in [L-d, L] (≥ d+1), band 0..d, start within ±d
    // of that band's chunk start in the la-split
    val probe = long
      .select(col("__id"), col("__t"), col("__L"),
        explode(sequence(greatest(col("__L") - d, lit(d + 1)), col("__L"))).as("__la"))
      .select(col("__id"), col("__t"), col("__L"), col("__la"),
        explode(sequence(lit(0), lit(d))).as("__band"))
      .select(col("__id"), col("__t"), col("__L"), col("__la"), col("__band"),
        explode(sequence(lit(-d), lit(d))).as("__shift"))
      .select(col("__id").as("__idb"), col("__t").as("__tb"),
        col("__la"), col("__band"),
        (bnd(col("__la"), col("__band")) + col("__shift")).as("__start"),
        (bnd(col("__la"), col("__band") + 1) - bnd(col("__la"), col("__band"))).as("__cl"),
        col("__L"))
      .filter(col("__start") >= 0 && col("__start") + col("__cl") <= col("__L"))
      .select(col("__idb"), col("__tb"), col("__la"), col("__band"),
        col("__tb").substr(col("__start") + 1, col("__cl")).as("__chunk"))
      .dropDuplicates("__idb", "__la", "__band", "__chunk")
    val mainCand = idx.join(probe, Seq("__la", "__band", "__chunk"))
      .filter(col("__ida") =!= col("__idb"))

    // ---- residual: pairs whose shorter side has ≤ d chars (both ≤ 2d) ----
    val tiny = base.filter(col("__L") <= 2 * d)
    val tinyCand =
      if (d == 0) tiny.limit(0).select(col("__id").as("__ida"), col("__t").as("__ta"),
        col("__id").as("__idb"), col("__t").as("__tb"))
      else tiny
        .select(col("__id").as("__ida"), col("__t").as("__ta"),
          explode(sequence(col("__L"), col("__L") + d)).as("__lb"))
        .join(tiny.select(col("__id").as("__idb"), col("__t").as("__tb"),
          col("__L").as("__lb")), Seq("__lb"))
        .filter(col("__ida") =!= col("__idb"))
        .select(col("__ida"), col("__ta"), col("__idb"), col("__tb"))

    // refine once per distinct-string pair (rep ids dedupe the candidates)
    mainCand.select(col("__ida"), col("__ta"), col("__idb"), col("__tb"))
      .unionByName(tinyCand)
      .select(least(col("__ida"), col("__idb")).as("__ra"),
        greatest(col("__ida"), col("__idb")).as("__rb"),
        when(col("__ida") < col("__idb"), col("__ta")).otherwise(col("__tb")).as("__pa"),
        when(col("__ida") < col("__idb"), col("__tb")).otherwise(col("__ta")).as("__pb"))
      .dropDuplicates("__ra", "__rb")
      .withColumn("edit_distance", levenshtein(col("__pa"), col("__pb"), d))
      .filter(col("edit_distance") >= 0)
      .select("__pa", "__pb", "edit_distance")
  }

  /** CROSS-TABLE [[editDistancePairs]] — the record-linkage / fuzzy-key
    * decontamination shape: every (left row, right row) pair whose string
    * keys are within `maxEdits` Levenshtein edits. Same PassJoin blocking,
    * same duplication-proof collapse — the DISTINCT strings of BOTH tables
    * block and refine together once, and verified string pairs expand to
    * left×right member pairs on the string key (identical strings across
    * the tables emit distance 0 directly, so `maxEdits = 0` degenerates to
    * the exact equi-join). Output: (id_l, id_r, edit_distance) — every
    * orientation where the left member's string is within `maxEdits` of
    * the right member's. */
  def editDistanceJoin(left: DataFrame, leftId: String, leftText: String,
                       right: DataFrame, rightId: String, rightText: String,
                       maxEdits: Int): DataFrame = {
    require(maxEdits >= 0 && maxEdits <= 8,
      s"maxEdits must be in [0, 8]; got $maxEdits")
    // member ids are pure passthrough — keep them opaque (any type) rather
    // than casting to long, which would null out string ids (round-17 advice)
    val rowsL = left.select(col(leftId).as("__id"),
      col(leftText).cast("string").as("__t")).filter(col("__t").isNotNull)
    val rowsR = right.select(col(rightId).as("__id"),
      col(rightText).cast("string").as("__t")).filter(col("__t").isNotNull)
    // reps over the UNION of both tables' distinct strings; the rep id is
    // the md5 of the string (orderable, table-independent)
    val reps = rowsL.select(col("__t")).unionByName(rowsR.select(col("__t"))).distinct()
      .select(md5(col("__t")).as("__id"), col("__t"), length(col("__t")).as("__L"))
    // cached: both orientation expansions consume the verified pairs —
    // uncached, the whole PassJoin block + levenshtein refine ran twice
    // per action (q161 profile: two identical 174 MB candidate stages)
    val verified = ScratchCache(editRepVerified(reps, maxEdits))
    val membL = rowsL.select(col("__t"), col("__id").as("__ml"))
    val membR = rowsR.select(col("__t"), col("__id").as("__mr"))
    val same = membL.join(membR, Seq("__t"))
      .select(col("__ml").as("id_l"), col("__mr").as("id_r"), lit(0).as("edit_distance"))
    // a verified pair is unordered over the union's strings — expand both
    // orientations (left member on the __pa string, and on the __pb string)
    def orient(pl: String, pr: String) = verified
      .join(membL.select(col("__t").as(pl), col("__ml")), Seq(pl))
      .join(membR.select(col("__t").as(pr), col("__mr")), Seq(pr))
      .select(col("__ml").as("id_l"), col("__mr").as("id_r"), col("edit_distance"))
    same.unionByName(orient("__pa", "__pb")).unionByName(orient("__pb", "__pa"))
  }

  /** Embedding near-dup pairs via MULTI-TABLE random-hyperplane LSH.
    *
    * `planes` total hyperplanes split into `bands` hash tables of
    * planes/bands each; a pair is a candidate if it lands in the same
    * bucket of ANY table. At threshold t with per-plane agreement
    * p = 1 - arccos(t)/π, recall is 1 - (1 - p^(planes/bands))^bands —
    * e.g. ≥ 0.999998 at t=0.95 with the 192/24 defaults, vs ~0.43 for the
    * single-table 8-plane variant this replaces. Candidates are verified
    * with exact cosine (native VecDot/VecNorm kernels), so precision is 1;
    * the band join carries only (band, key, id) and the quadratic work is
    * bucket-bounded over DISTINCT vectors — exact duplicates collapse to a
    * representative before banding, cosine is verified once per distinct
    * pair, and member pairs expand output-bound afterward (see the
    * bandedJaccardPairs scale note) — the 100 TB-safe shape. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     dim: Int = 0, planes: Int = 192, bands: Int = 24,
                     seed: Long = 42L, threshold: Double = 0.95): DataFrame = {
    require(planes % bands == 0, "planes must be divisible by bands")
    val rpb = planes / bands
    val actualDim =
      if (dim > 0) dim
      else df.select(size(col(vecCol)).as("__d")).filter(col("__d") > 0).limit(1)
        .collect().headOption.map(_.getInt(0)).getOrElse(0)
    val keysU = hyperplaneKeysU(planes, bands, actualDim, seed)
    // spreadNarrow, not an unconditional repartition: a corpus-scale
    // embedding table is already thousands of scan splits and must not pay
    // a data-wide vector shuffle just to run the banding UDF (the shingled
    // posture, r21 verdict #4); a single small parquet file still spreads
    val base = ScratchCache(spreadNarrow(
      df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
        .filter(col("__v").isNotNull)))
    // collapse exact-duplicate vectors before banding (same argument as
    // bandedJaccardPairs: identical vectors share every band key, so
    // rep-level pairs + member expansion reproduce the direct pair set
    // exactly, while bucket candidate volume stays quadratic in DISTINCT
    // vectors only — duplicated embeddings are the norm in web corpora).
    // Identity key = md5 over the stringified floats, NOT the raw array:
    // a string equi-join stays a codegen'd hash join, whereas array-typed
    // keys degrade the memb/reps joins out of the hash-join path.
    val keyed = base.select(col("__id"), vecKey(col("__v")).as("__gk"))
    val groups = keyed.groupBy(col("__gk")).agg(min(col("__id")).as("__rid"))
    val memb = ScratchCache(keyed.join(groups, Seq("__gk")).select(col("__rid"), col("__id")))
    val reps = base.join(groups.select(col("__rid").as("__id")), Seq("__id"), "left_semi")
    // band join carries only (band, key, rep id); vectors re-attach by id
    val banded = reps.select(col("__id"),
      posexplode(keysU(col("__v"))).as(Seq("__band", "__key")))
    val a = banded.select(col("__band"), col("__key"), col("__id").as("__ra"))
    val b = banded.select(col("__band"), col("__key"), col("__id").as("__rb"))
    val repPairs = a.join(b, Seq("__band", "__key"))
      .filter(col("__ra") < col("__rb"))
      .select("__ra", "__rb")
      .dropDuplicates("__ra", "__rb")
    // VERIFY AT THE REP LEVEL, then expand: members are bit-identical to
    // their rep, so cosine(member_a, member_b) ≡ cosine(rep_a, rep_b) —
    // one cosine per distinct-vector pair instead of one per member pair.
    // On correlated data the rep candidate set can be a sizable fraction of
    // all rep pairs; multiplying that by m² member fanout BEFORE the verify
    // was measured at 53M verifications for a 240k output (16× replicated
    // sf0.1) — verifying first makes the expansion output-bound.
    // norms are attached ONCE PER SIDE (cosineWithNorms — bit-identical
    // arithmetic): the verify used to run the VecNorm kernel twice per
    // candidate pair, ~3× the necessary FLOPs on the (by-design large at
    // low thresholds, e.g. the q65 recall gate) candidate set
    def sideN(ic: String, vc: String, nc: String) = reps.select(
      col("__id").as(ic), col("__v").as(vc), Similarity.norm(col("__v")).as(nc))
    val repVerified = repPairs
      .join(sideN("__ra", "__va", "__na"), Seq("__ra"))
      .join(sideN("__rb", "__vb", "__nb"), Seq("__rb"))
      .withColumn("cosine", Similarity.cosineWithNorms(
        col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select("__ra", "__rb", "cosine")
    val selfCos = reps
      .select(col("__id").as("__rid"), Similarity.cosine(col("__v"), col("__v")).as("cosine"))
      .filter(col("cosine") >= threshold) // drops NaN (zero vectors), like the pair path
    val within = memb.as("x").join(memb.as("y"),
        col("x.__rid") === col("y.__rid") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"), col("x.__rid").as("__rid"))
      .join(selfCos, Seq("__rid"))
      .select("id_a", "id_b", "cosine")
    val cross = repVerified
      .join(memb.select(col("__rid").as("__ra"), col("__id").as("__ma")), Seq("__ra"))
      .join(memb.select(col("__rid").as("__rb"), col("__id").as("__mb")), Seq("__rb"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("cosine"))
    within.unionByName(cross)
  }

  /** The multi-table random-hyperplane band-key UDF shared by
    * [[embeddingPairs]] and [[embeddingJoin]] — deterministic in `seed`,
    * so both sides of a cross-table join (and an oracle re-run) band
    * identically. */
  /** MEMOIZED per (planes, bands, dim, seed): the returned UDF's function
    * reference must be STABLE across calls — plan canonicalization compares
    * ScalaUDF functions by reference, so a fresh closure per call makes two
    * otherwise-identical plans unequal and every downstream cache lookup
    * (the knnJoin pair cache, bench rep-over-rep reuse) miss. The closure
    * is a pure function of the key, so sharing is safe. */
  private val hyperplaneKeysUCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int, Long),
      org.apache.spark.sql.expressions.UserDefinedFunction]()
  private def hyperplaneKeysU(planes: Int, bands: Int, dim: Int, seed: Long)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    hyperplaneKeysUCache.computeIfAbsent((planes, bands, dim, seed), _ =>
      hyperplaneKeysUBuild(planes, bands, dim, seed))
  private def hyperplaneKeysUBuild(planes: Int, bands: Int, dim: Int, seed: Long)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val rpb = planes / bands
    val planeVals: Array[Array[Double]] = {
      val rng = new java.util.Random(seed)
      Array.fill(planes, dim)(rng.nextGaussian())
    }
    val nb = bands
    udf((v: Seq[Float]) =>
      if (v == null) null
      else {
        val out = new Array[Int](nb)
        var t = 0
        while (t < nb) {
          var key = 0
          var j = 0
          while (j < rpb) {
            val plane = planeVals(t * rpb + j)
            var s = 0.0
            var i = 0
            while (i < math.min(v.length, plane.length)) { s += v(i) * plane(i); i += 1 }
            key = (key << 1) | (if (s >= 0) 1 else 0)
            j += 1
          }
          out(t) = key
          t += 1
        }
        out
      })
  }

  /** CROSS-TABLE [[embeddingPairs]] — the SEMANTIC decontamination /
    * retrieval shape: every (left row, right row) pair whose embeddings
    * have cosine ≥ `threshold` (e.g. flag training documents semantically
    * near any benchmark item, the embedding analog of the verbatim q153
    * span decontamination). Same multi-table hyperplane LSH: the DISTINCT
    * vectors of BOTH tables band together once (content-keyed collapse),
    * candidates meet on the (band, key) equi join, cosine verifies at the
    * rep level, and verified vector pairs expand to left×right members in
    * both orientations — bit-identical vectors across the tables emit
    * through the content-key equi join directly (recall 1 for exact
    * matches regardless of banding). Output: (id_l, id_r, cosine). */
  def embeddingJoin(left: DataFrame, leftId: String, leftVec: String,
                    right: DataFrame, rightId: String, rightVec: String,
                    dim: Int = 0, planes: Int = 192, bands: Int = 24,
                    seed: Long = 42L, threshold: Double = 0.95): DataFrame = {
    require(planes % bands == 0, "planes must be divisible by bands")
    val baseL = left.select(col(leftId).as("__id"), col(leftVec).as("__v"))
      .filter(col("__v").isNotNull)
    val baseR = right.select(col(rightId).as("__id"), col(rightVec).as("__v"))
      .filter(col("__v").isNotNull)
    val actualDim =
      if (dim > 0) dim
      else baseL.unionByName(baseR).select(size(col("__v")).as("__d"))
        .filter(col("__d") > 0).limit(1).collect().headOption.map(_.getInt(0)).getOrElse(0)
    val keysU = hyperplaneKeysU(planes, bands, actualDim, seed)
    def gk(c: Column) = vecKey(c)
    // ScratchCache, not bare .cache(): the plan consumes these subtrees
    // through differently-pruned branches (exchange reuse can't dedup them
    // — measured 6.6x slower uncached), but a bare cache would leak one
    // CacheManager entry per call for the session's lifetime
    val keyedL = ScratchCache(baseL.select(col("__id").as("__ml"), gk(col("__v")).as("__gk")))
    val keyedR = ScratchCache(baseR.select(col("__id").as("__mr"), gk(col("__v")).as("__gk")))
    // reps over the UNION of both tables' distinct vectors; rep id = the
    // content key itself (orderable, table-independent)
    val reps = ScratchCache(baseL.select(col("__v")).unionByName(baseR.select(col("__v")))
      .select(gk(col("__v")).as("__id"), col("__v"))
      .dropDuplicates("__id"))
    val banded = reps.select(col("__id"),
      posexplode(keysU(col("__v"))).as(Seq("__band", "__key")))
    val a = banded.select(col("__band"), col("__key"), col("__id").as("__ra"))
    val b = banded.select(col("__band"), col("__key"), col("__id").as("__rb"))
    val repPairs = a.join(b, Seq("__band", "__key"))
      .filter(col("__ra") < col("__rb"))
      .select("__ra", "__rb")
      .dropDuplicates("__ra", "__rb")
    // cached: BOTH orientation expansions consume the verified pairs —
    // uncached, the band join + cosine verify ran twice per action
    // norms attached once per side (the embeddingPairs cosineWithNorms
    // posture — bit-identical arithmetic, 1/3 the per-pair verify FLOPs)
    def sideN(ic: String, vc: String, nc: String) = reps.select(
      col("__id").as(ic), col("__v").as(vc), Similarity.norm(col("__v")).as(nc))
    val repVerified = ScratchCache(repPairs
      .join(sideN("__ra", "__va", "__na"), Seq("__ra"))
      .join(sideN("__rb", "__vb", "__nb"), Seq("__rb"))
      .withColumn("cosine", Similarity.cosineWithNorms(
        col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select("__ra", "__rb", "cosine"))
    // bit-identical vectors across tables: cosine is the self-cosine
    // (1.0, or 0.0 for the zero vector — dropped by the same filter)
    val selfCos = reps.select(col("__id").as("__gk"),
        Similarity.cosine(col("__v"), col("__v")).as("cosine"))
      .filter(col("cosine") >= threshold)
    val same = keyedL.join(keyedR, Seq("__gk")).join(selfCos, Seq("__gk"))
      .select(col("__ml").as("id_l"), col("__mr").as("id_r"), col("cosine"))
    // verified pairs are unordered over the union's vectors — expand both
    // orientations on the content key
    def orient(pl: String, pr: String) = repVerified
      .join(keyedL.select(col("__gk").as(pl), col("__ml")), Seq(pl))
      .join(keyedR.select(col("__gk").as(pr), col("__mr")), Seq(pr))
      .select(col("__ml").as("id_l"), col("__mr").as("id_r"), col("cosine"))
    same.unionByName(orient("__ra", "__rb")).unionByName(orient("__rb", "__ra"))
  }

  /** Paragraph-level (span) dedup, Dolma-style: drop every paragraph whose
    * trimmed content occurs more than `maxOccurrences` times ACROSS THE
    * CORPUS, and reassemble each document from its surviving paragraphs in
    * original order. Unlike document-level dedup this removes boilerplate
    * (headers, navigation, license blocks) that rides inside otherwise
    * unique documents.
    *
    * Scale posture: one shuffle on the paragraph key (md5-uniform) for the
    * corpus-wide count. The hot-key set (count > max) is small on clean
    * corpora but corpus-scale in the worst case (heavy boilerplate), so the
    * hot lookup is planned as a plain LEFT join that AQE may broadcast when
    * the hot side is small and otherwise degrades to a shuffle join on the
    * md5-uniform paragraph key — correct either way. Reassembly is ONE
    * groupBy on doc id (bounded by document size): hot paragraphs are
    * flagged, not dropped, so every input document appears in the output by
    * construction — a doc whose paragraphs are ALL corpus-hot survives with
    * `n_paras_kept = 0, cleaned = ''` rather than silently vanishing.
    * Blank paragraphs are kept — they are structure, not content. */
  def dropRepeatedParagraphs(df: DataFrame, idCol: String, textCol: String,
                             maxOccurrences: Long = 1, sep: String = "\n"): DataFrame = {
    val parts = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__p")))
      .withColumn("__key", trim(col("__p")))
    val hot = parts.filter(col("__key") =!= "")
      .groupBy(col("__key")).agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > maxOccurrences)
      .select(col("__key"), lit(true).as("__hot"))
    parts.join(hot, Seq("__key"), "left")
      .groupBy(col(idCol))
      .agg(count(when(col("__hot").isNull, 1)).as("n_paras_kept"),
        concat_ws(sep, transform(
          filter(array_sort(collect_list(struct(col("__pos"), col("__p"), col("__hot")))),
            s => s.getField("__hot").isNull),
          s => s.getField("__p"))).as("cleaned"))
  }

  /** Benchmark decontamination: for each corpus document, the number of its
    * DISTINCT word n-grams that appear in ANY probe (benchmark) document;
    * rows with `overlap >= minOverlap` are the contamination candidates a
    * pipeline would drop or flag.
    *
    * Scale posture: benchmark sets are small by nature (eval suites, not
    * corpora), so the probe n-gram set is broadcast and the corpus side is
    * a map-side semi-join — the 100 TB corpus is never shuffled, and each
    * doc contributes only its distinct n-grams (bounded by doc length). */
  def contaminationOverlap(docs: DataFrame, probes: DataFrame,
                           idCol: String, textCol: String,
                           n: Int = 2, minOverlap: Int = 1): DataFrame = {
    def grams(df: DataFrame, as: String): DataFrame = df
      .select(col(idCol).as(as), tokens(col(textCol)).as("__t"))
      .select(col(as),
        explode(array_distinct(shinglesOfTokens(col("__t"), n))).as("__sh"))
    val d = grams(docs, "__id")
    val p = grams(probes, "__pid").select(col("__sh")).distinct()
    d.join(broadcast(p), Seq("__sh"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
      .select(col("__id").as(idCol), col("overlap"))
  }

  /** Content-defined chunking (CDC): split each document at positions where
    * the rolling window hash "lands on zero" — here, where the md5 of the
    * trailing `k` characters ends in `boundaryHex` (boundary probability
    * 16^-len(boundaryHex), so the expected chunk length is
    * 16^len(boundaryHex) characters). Because a boundary depends only on
    * the LOCAL window content, shared passages chunk identically in every
    * document regardless of their offset — the property that makes
    * chunk-hash dedup catch copied spans that whole-document or
    * fixed-stride chunk hashing miss (the storage-dedup construction of
    * Muthitacharoen et al., LBFS SOSP'01, re-expressed over text columns).
    *
    * Emits one row per chunk: (idCol, chunk_idx, chunk_hash, chunk_len).
    * Chunk BODIES are never emitted — at corpus scale only the 16-byte
    * hash shuffles, and a consumer re-derives any chunk locally from
    * (doc, cuts). Rows with NULL or empty text produce no chunks. The
    * rolling pass is one UDF with a THREAD-LOCAL MessageDigest (the
    * minhashMd5U precedent — the native md5 expression constructs a fresh
    * digest per call, which at one call per character position measured
    * ~5× slower on the q119 gate); map-side, no shuffle. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                k: Int = 8, boundaryHex: String = "0"): DataFrame = {
    require(k > 0, s"k must be positive; got $k")
    require(boundaryHex.nonEmpty && boundaryHex.length < 32, "boundaryHex must be 1..31 hex chars")
    val u = cdcChunksUCache.computeIfAbsent((k, boundaryHex), { case (kk, bh) =>
      udf((text: String) => Dedup.cdcChunkRows(text, kk, bh))
    })
    spreadNarrow(df.filter(col(textCol).isNotNull && length(col(textCol)) > 0))
      .select(col(idCol), explode(u(col(textCol))).as("__c"))
      .select(col(idCol), col("__c.chunk_idx").as("chunk_idx"),
        col("__c.chunk_hash").as("chunk_hash"), col("__c.chunk_len").as("chunk_len"))
  }

  /** One CDC chunk row (see [[cdcChunks]]). */
  case class CdcChunk(chunk_idx: Int, chunk_hash: String, chunk_len: Int)

  // memoized per (k, boundaryHex) — the hyperplaneKeysU argument: stable
  // function references keep re-built plans canonically equal, so cache
  // lookups over the chunk table keep hitting
  private val cdcChunksUCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, String), org.apache.spark.sql.expressions.UserDefinedFunction]()

  /** The per-document rolling pass: boundary after char i (1-based, i ≥ k)
    * iff md5 of chars (i-k, i] ends in `boundaryHex`; chunk hash = md5 of
    * the chunk's chars. Hashes are over UTF-8 bytes of the CHAR substring —
    * identical to the native md5(substr(...)) spec the oracle mirrors. */
  private[graft] def cdcChunkRows(text: String, k: Int, boundaryHex: String): Seq[CdcChunk] = {
    if (text == null || text.isEmpty) return Seq.empty
    val md = graft.functions.Md5.tl.get()
    def hex(s: String): String = {
      md.reset()
      graft.functions.Hex.toHex(md.digest(s.getBytes("UTF-8")))
    }
    val l = text.length
    val cuts = scala.collection.mutable.ArrayBuffer(0)
    var i = k
    while (i <= l) {
      if (hex(text.substring(i - k, i)).endsWith(boundaryHex)) cuts += i
      i += 1
    }
    if (cuts.last != l) cuts += l
    (0 until cuts.length - 1).map { j =>
      val c = text.substring(cuts(j), cuts(j + 1))
      CdcChunk(j, hex(c), c.length)
    }
  }

  /** Chunk-level duplication profile per document: `n_chunks` CDC chunks,
    * of which `n_dup_chunks` have content that also appears in at least
    * one OTHER document — the signal a pipeline thresholds to drop
    * boilerplate-heavy or largely-copied documents (span-level dedup at
    * chunk granularity, robust to offset shifts).
    *
    * Scale posture: chunking is map-side; the duplicate-hash set is one
    * groupBy on the uniform md5 chunk key (count DISTINCT owners, map-side
    * partial); the membership join is a hash equi-join on the same key.
    * Documents with no chunks (empty text) surface with zero counts. */
  def cdcDedupStats(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, boundaryHex: String = "0"): DataFrame = {
    val ch = cdcChunks(df, idCol, textCol, k, boundaryHex)
    val dup = ch.groupBy(col("chunk_hash"))
      .agg(countDistinct(col(idCol)).as("__n"))
      .filter(col("__n") >= 2)
      .select(col("chunk_hash"), lit(true).as("__dup"))
    val perDoc = ch.join(dup, Seq("chunk_hash"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("__dup"), 1)).as("n_dup_chunks"))
    df.select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" — public arXiv:2303.09540):
    * cluster the embedding space with k-means, then search for semantic
    * duplicates (cosine ≥ `tau`) only WITHIN each cluster, keeping one
    * representative per duplicate group. The clustering bounds the pair
    * search: no cross-cluster pair is ever scored, so the quadratic work is
    * per-cell, not corpus-wide — the paper's core scale argument.
    *
    * Determinism spec (the whole chain is plain-SQL-reproducible, like the
    * IVF index it shares code with): centroids are
    * [[Similarity.ivfCentroids]] — md5-id-sampled seeds refined by one
    * Lloyd step with per-dimension means rounded to 1e-6 (summation-order
    * independent) — and the keep rule is "drop a row iff a SMALLER id in
    * its cluster is within `tau`" (the deterministic stand-in for the
    * paper's keep-low-centroid-similarity rule; it keeps exactly one row
    * per duplicate clique — the minimum id — and never empties a clique).
    *
    * Output: one row per non-null-vector input row — (idCol, cluster,
    * keep). Scale posture: centroid assignment is map-side (broadcast
    * centroids); the only shuffle is the equi-join on the cluster id, and
    * a hot cell (embedding-space hub) is an AQE skew-split candidate like
    * any skewed equi-join. `clusters` should grow with the corpus
    * (n / target cell size) to hold the per-cell pair bound. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               clusters: Int = 16, tau: Double = 0.9): DataFrame = {
    require(clusters > 0, s"clusters must be positive; got $clusters")
    val cents = Similarity.ivfCentroids(df, idCol, vecCol, clusters)
    // duplication-proof (round 20): cosine is a pure function of the two
    // vectors, so rows sharing an EXACT embedding are interchangeable in
    // the pair search — collapse to one representative per distinct vector
    // (min id, one window shuffle), run the within-cell pairwise join on
    // REPRESENTATIVES only, and re-attach members by the slim rep-id key.
    // Without the collapse a clique of n exact-dup embeddings (exact-dup
    // content at corpus scale) paid n^2 within-cell pairs: the @64x
    // replication soak read 161 s where the collapsed plan is near-flat.
    // Semantics are EXACTLY the original "some smaller id within tau in my
    // cell" rule: a non-rep member always has its rep (smaller id, cosine
    // cos(v,v)) ahead of it, and a rep is dropped iff a smaller-rep
    // distinct vector within tau shares its cell (any member of that group
    // with a smaller id implies its min id is smaller).
    val base = df.filter(col(vecCol).isNotNull).select(col(idCol), col(vecCol))
    // rep assignment via the 16-byte md5 CONTENT key (same convention as
    // embeddingPairs) instead of a window partitioned by the raw float
    // array: the exchange then shuffles/compares a fixed-width string key,
    // never the full vector as a partition key (r20 verdict #2). The key
    // is unambiguous (U+0001-separated float renderings); value-equal
    // vectors that differ only in -0.0/0.0 split into two reps, but the
    // pairwise rule still drops the larger rep (cosine = 1 ≥ tau, same
    // cell), so keep/drop semantics are unchanged.
    val keyed = base.withColumn("__gk", vecKey(col(vecCol)))
    val groups = keyed.groupBy(col("__gk")).agg(min(col(idCol)).as("__rid"))
    val withRid = ScratchCache(keyed.join(groups, Seq("__gk"))
      .select(col(idCol), col(vecCol), col("__rid")))
    // cached: the assignment UDF otherwise re-runs on both pair-join sides
    // AND the output re-attach (3 scans + 3 assignment passes)
    val reps = ScratchCache(Similarity.withIvfCell(
      withRid.filter(col(idCol) === col("__rid")), vecCol, cents, "cluster")
      .select(col("__rid"), col("cluster"), col(vecCol)))
    // norms attached once per side (cosineWithNorms — bit-identical
    // arithmetic, 1/3 the per-pair verify FLOPs on the within-cell join)
    val a = reps.select(col("__rid").as("__ra"), col("cluster"), col(vecCol).as("__va"),
      Similarity.norm(col(vecCol)).as("__na"))
    val b = reps.select(col("__rid").as("__rb"), col("cluster").as("__cb"), col(vecCol).as("__vb"),
      Similarity.norm(col(vecCol)).as("__nb"))
    val dupRep = a.join(b, col("cluster") === col("__cb") && col("__ra") < col("__rb"))
      .filter(Similarity.cosineWithNorms(
        col("__va"), col("__vb"), col("__na"), col("__nb")) >= tau)
      .select(col("__rb").as("__rid")).distinct()
      .withColumn("__repdup", lit(true))
    withRid
      .join(reps.select(col("__rid"), col("cluster")), Seq("__rid"))
      .join(dupRep, Seq("__rid"), "left")
      .select(col(idCol), col("cluster"),
        // cosine(v, v) (not a bare true) keeps the zero-vector edge exact:
        // a NaN cosine never reaches tau, matching the pairwise rule
        (!when(col(idCol) =!= col("__rid"),
            Similarity.cosine(col(vecCol), col(vecCol)) >= tau)
          .otherwise(coalesce(col("__repdup"), lit(false)))).as("keep"))
  }

  /** The `hashes` Bloom-filter bucket indices of a document's content key
    * (md5 of the text), as a distinct int array in [0, bits). Bucket i =
    * the first 5 hex chars (20 bits) of md5("i:" ++ contentKey) mod `bits`
    * — native codegen md5/conv, no UDF, and the same arithmetic is
    * replayable in plain SQL (the [[graft.ops.Sampling.hashHex]] idiom). */
  def bloomBuckets(textC: org.apache.spark.sql.Column, bits: Int, hashes: Int): org.apache.spark.sql.Column = {
    require(bits > 0 && bits <= (1 << 20), s"bits must be in (0, 2^20]; got $bits")
    require(hashes > 0, s"hashes must be positive; got $hashes")
    val key = md5(textC)
    array_distinct(array((0 until hashes).map { i =>
      conv(substring(md5(concat(lit(s"$i:"), key)), 1, 5), 16, 10).cast("int") % bits
    }: _*))
  }

  /** Relational Bloom filter over a corpus snapshot: the DISTINCT set of
    * [[bloomBuckets]] indices across every document. This is the
    * incremental-dedup sketch a crawl pipeline keeps between snapshots —
    * "have I seen this exact content before?" answered without joining the
    * new batch against the old corpus.
    *
    * Scale posture: the sketch is AT MOST `bits` rows regardless of corpus
    * size (the whole point — a 100 TB corpus reduces to a ≤`bits`-row
    * table, broadcastable to every probe). Building it is one map-side
    * bucket projection + a distinct on a bounded-cardinality key (partial
    * aggregation collapses each partition to ≤`bits` rows before the
    * shuffle). Like any Bloom filter: false positives possible (rate ≈
    * fill^hashes), false negatives impossible. */
  def bloomSketch(corpus: DataFrame, textCol: String,
                  bits: Int = 4096, hashes: Int = 3): DataFrame =
    corpus.select(explode(bloomBuckets(col(textCol), bits, hashes)).as("bucket"))
      .distinct()

  /** Probe a new batch against a [[bloomSketch]]: one row per batch
    * document, (idCol, possibly_seen). `possibly_seen = true` iff ALL of
    * the document's buckets are present in the sketch — exact duplicates
    * of sketched content are always flagged (no false negatives);
    * a novel document is falsely flagged with probability ≈ fill^hashes.
    *
    * Scale posture: the sketch side is ≤ `bits` rows → broadcast hash
    * join; the probe is map-side after the bucket explode (≤ `hashes`
    * rows per document) and one groupBy on the batch id. The batch never
    * joins the corpus. */
  def bloomNovel(batch: DataFrame, sketch: DataFrame, idCol: String, textCol: String,
                 bits: Int = 4096, hashes: Int = 3): DataFrame =
    batch
      .select(col(idCol), explode_outer(bloomBuckets(col(textCol), bits, hashes)).as("bucket"))
      .join(broadcast(sketch.withColumn("__hit", lit(1))), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg((min(coalesce(col("__hit"), lit(0))) === 1).as("possibly_seen"))

  /** Exact substring (repeated-span) detection — the span-granular exact
    * dedup of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" (public arXiv:2107.06499), re-expressed as a
    * shuffle-bounded Spark plan instead of a suffix array: a token window
    * of length `minTokens` that occurs ≥ 2 times ANYWHERE in the corpus
    * (any document, any offset, including twice in one document) marks its
    * positions as duplicated; per document, marked positions whose token
    * intervals overlap or touch (position gap ≤ `minTokens`) merge into
    * maximal spans. Emits one row per maximal span:
    * (idCol, span_start, span_tokens) with `span_start` the 1-based token
    * index. Exactly the spans a pipeline cuts out (or thresholds on) to
    * remove verbatim-copied passages that document-level dedup misses.
    *
    * Scale posture (the suffix array of the paper is a single-machine
    * construction; this is the distributed equivalent): windows are
    * map-side (tokenize + slice, one row per token position — linear in
    * corpus tokens). Repetition is decided in two stages so the wide rows
    * never shuffle twice: (1) count window occurrences by their 64-bit
    * xxhash — an 8-byte key with map-side partial aggregation — and keep
    * hashes with count ≥ 2 (in a deduplicated corpus a small minority);
    * (2) equi-join windows back to that candidate set on the hash (AQE
    * broadcasts it when small) and confirm count ≥ 2 on the 16-byte md5
    * CONTENT key of the window within the surviving subset — the repo-wide
    * md5-as-content-identity convention ([[exact]]), so an xxhash64
    * collision cannot create a false span and the confirm never shuffles
    * the window strings themselves. The merge is one window function
    * partitioned by
    * document (gaps-and-islands), bounded by per-document token count. */
  /** One row per token window of length `l`: (idCol, __pos 1-based, __w
    * window string, __wh xxhash64(__w)). Map-side only. */
  private def tokenWindows(df: DataFrame, idCol: String, textCol: String,
                           l: Int): DataFrame = {
    require(l >= 1, s"minTokens must be >= 1; got $l")
    // spread + fence: the shingled() pattern — tokenize after the (narrow-
    // input-only) spread, and keep the size filter from being pushed back
    // below it, where it would re-run the tokenizer serially in the scan
    Fence(spreadNarrow(df.select(col(idCol), col(textCol)))
      .select(col(idCol), tokens(col(textCol)).as("__t")))
      .filter(size(col("__t")) >= l)
      .select(col(idCol), explode(sequence(lit(1), size(col("__t")) - (l - 1))).as("__pos"),
        col("__t"))
      .withColumn("__w", concat_ws(" ", slice(col("__t"), col("__pos"), lit(l))))
      .select(col(idCol), col("__pos"), col("__w"), xxhash64(col("__w")).as("__wh"))
  }

  /** Merge duplicated window positions (idCol, __pos) into maximal spans:
    * gaps-and-islands over one window partition per document. */
  private def mergeSpanPositions(hits: DataFrame, idCol: String, l: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    hits
      .withColumn("__flag",
        when(col("__pos") - lag(col("__pos"), 1).over(byDoc) <= l, 0).otherwise(1))
      .withColumn("__grp", sum(col("__flag")).over(byDoc))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("__pos")).cast("int").as("span_start"),
        (max(col("__pos")) - min(col("__pos")) + l).cast("int").as("span_tokens"))
      .drop("__grp")
  }

  /** Window rows joined down to those whose window string occurs >= 2 times
    * in `df`: the two-stage (hash count, then exact string confirm)
    * candidate pipeline shared by [[repeatedSpans]] and
    * [[topRepeatedWindows]]. */
  private def repeatedWindowRows(df: DataFrame, idCol: String, textCol: String,
                                 l: Int): DataFrame =
    repeatedWindowRowsFromWins(tokenWindows(df, idCol, textCol, l))

  /** Output carries an extra `__m` column = md5(__w), the 16-byte window
    * content key the confirm stage groups and joins on. The confirm used to
    * group and join on the window STRING itself, so every candidate row
    * shuffled its window text as the exchange KEY twice (r21 verdict #4);
    * md5-as-content-identity is the repo-wide convention ([[exact]], the
    * bandedJaccardPairs/semDedup collapse keys), and with it the
    * span-position consumers ([[repeatedSpans]]) shuffle no strings at all —
    * column pruning drops `__w` below the confirm join once `__m` is
    * computed map-side. */
  /** `cacheCand` ScratchCaches the candidate-window subset: it feeds BOTH
    * the md5-confirm aggregate and the final join-back, and uncached each
    * consumer re-ran the full tokenize+window pass over the corpus (q145
    * profile: two ~10-14 task-second window stages for one visible pass).
    * The subset is bounded by duplication (in a deduplicated corpus a small
    * minority of windows repeat), so the cache is scale-safe — unlike the
    * full window table, which is one row per corpus token and is
    * deliberately never cached. The INCREMENTAL per-batch face passes
    * false: streaming batch bodies stay cache-free beyond their tracked
    * fold state (the r21 q135/q140 contract). */
  private def repeatedWindowRowsFromWins(wins: DataFrame,
                                         cacheCand: Boolean = true): DataFrame = {
    val candHashes = wins.groupBy(col("__wh")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select(col("__wh"))
    val cand0 = wins.join(candHashes, Seq("__wh"))
      .withColumn("__m", md5(col("__w")))
    val cand = if (cacheCand) ScratchCache(cand0) else cand0
    val repKeys = cand.groupBy(col("__m")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select(col("__m"))
    cand.join(repKeys, Seq("__m"))
  }

  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int = 5): DataFrame =
    mergeSpanPositions(
      repeatedWindowRows(df, idCol, textCol, minTokens)
        .select(col(idCol), col("__pos")),
      idCol, minTokens)

  /** Cut the [[repeatedSpans]] spans OUT of each document — the removal
    * step of Lee et al.'s ExactSubstr dedup (every occurrence of a
    * duplicated span is dropped, their default). Emits every input
    * document: (idCol, cleaned, n_tokens_kept), where `cleaned` is the
    * surviving tokens joined with single spaces (whitespace is normalized
    * by construction — spans are defined over the token stream, so the
    * original inter-token whitespace has no meaning after cutting).
    * Documents with no spans pass through with all tokens kept.
    *
    * Scale posture: spans per doc collapse to one bounded array
    * (collect_list after the spans groupBy — bounded by doc token count /
    * minTokens), the cut is a native HOF filter+exists over the token
    * array (no range join, no UDF), and the only new shuffle beyond
    * [[repeatedSpans]] is the spans' own per-doc groupBy + the equi-join
    * back to the corpus. */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          minTokens: Int = 5): DataFrame =
    cutSpans(df, repeatedSpans(df, idCol, textCol, minTokens), idCol, textCol)

  /** Cut (idCol, span_start, span_tokens) spans out of each document's
    * token stream — the shared removal tail of [[removeRepeatedSpans]] and
    * [[removeContaminatedSpans]]: spans collapse to one bounded per-doc
    * array, the cut is a native HOF filter+exists (no range join, no UDF),
    * and every input document surfaces. */
  private def cutSpans(df: DataFrame, spans: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val sp = spans
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("st"),
        col("span_tokens").as("ln"))).as("__sp"))
    val toks = tokens(col(textCol))
    val kept = when(col("__sp").isNull, toks)
      .otherwise(filter(toks, (_, i) =>
        !exists(col("__sp"), s =>
          s.getField("st") <= i + 1 && i + 1 < s.getField("st") + s.getField("ln"))))
    df.join(sp, Seq(idCol), "left")
      .select(col(idCol), concat_ws(" ", kept).as("cleaned"),
        size(kept).cast("long").as("n_tokens_kept"))
  }

  /** Span-level benchmark decontamination — the surgical form of
    * [[contaminationOverlap]] (which flags whole documents): maximal
    * training-doc token spans whose `minTokens`-gram windows appear
    * VERBATIM anywhere in the benchmark suite, merged per document exactly
    * like [[repeatedSpans]]. The Lee et al. 2022 / GPT-3 appendix-C
    * posture: cut the leaked benchmark text, keep the document. Matching
    * is exact-string (hash prefilter on the 8-byte window key, then a
    * string confirm — the two-stage discipline of the repeated-span
    * pipeline, no false positives).
    *
    * Scale posture: the benchmark side is tiny by construction (eval
    * suites, not corpora) — its distinct window keys broadcast; the corpus
    * tokenizes map-side and only rows whose hash matches a benchmark
    * window reach the string confirm + the per-doc merge window. The
    * corpus never shuffles wide. */
  def contaminatedSpans(df: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        benchTextCol: String = "text",
                        minTokens: Int = 8): DataFrame = {
    val benchKeys = tokenWindows(
        bench.select(lit(0L).as("__bid"), col(benchTextCol)), "__bid", benchTextCol, minTokens)
      .select(col("__wh"), col("__w").as("__bw")).distinct()
    val hits = tokenWindows(df, idCol, textCol, minTokens)
      .join(benchKeys, Seq("__wh"))
      .filter(col("__w") === col("__bw"))
      .select(col(idCol), col("__pos"))
    mergeSpanPositions(hits, idCol, minTokens)
  }

  /** Cut the [[contaminatedSpans]] spans out of each training document;
    * emits every input doc as (idCol, cleaned, n_tokens_kept). */
  def removeContaminatedSpans(df: DataFrame, bench: DataFrame,
                              idCol: String, textCol: String,
                              benchTextCol: String = "text",
                              minTokens: Int = 8): DataFrame =
    cutSpans(df, contaminatedSpans(df, bench, idCol, textCol, benchTextCol, minTokens),
      idCol, textCol)

  /** Per-document duplication profile from [[repeatedSpans]]: token count,
    * tokens inside repeated spans (maximal spans are disjoint by
    * construction, so a plain sum is exact), and the duplicated fraction —
    * the signal a pipeline thresholds to drop mostly-copied documents, or
    * aggregates into the corpus-level "what fraction of our tokens are
    * verbatim duplicates" number. Every input document surfaces, including
    * those with no spans (zeros) and those shorter than `minTokens`. */
  def repeatedSpanStats(df: DataFrame, idCol: String, textCol: String,
                        minTokens: Int = 5): DataFrame = {
    val perDoc = repeatedSpans(df, idCol, textCol, minTokens)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__ns"), sum(col("span_tokens")).cast("long").as("__dup"))
    df.select(col(idCol), tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__ns"), lit(0L)).cast("long").as("n_spans"),
        coalesce(col("__dup"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("__dup"), lit(0L)) /
          greatest(col("n_tokens"), lit(1L)), 6).as("dup_frac"))
  }

  /** Corpus boilerplate report: the `k` most-repeated token windows —
    * (window, n_occurrences, n_docs), ordered by occurrences desc with the
    * window string as the deterministic tie-break. The triage view over
    * [[repeatedSpans]]'s signal: which exact passages dominate the
    * duplication (license headers, navigation chrome, templated intros),
    * to decide between span removal and a targeted blocklist.
    *
    * Scale posture: the same two-stage hash-count / string-confirm
    * pipeline as [[repeatedSpans]] (wide strings shuffle only for the
    * candidate subset), then a global top-k over the aggregated window
    * rows (TakeOrderedAndProject — only k rows reach the driver side of
    * the sort, never the window population). */
  def topRepeatedWindows(df: DataFrame, idCol: String, textCol: String,
                         minTokens: Int = 5, k: Int = 20): DataFrame =
    repeatedWindowRows(df, idCol, textCol, minTokens)
      // aggregate on the 16-byte content key; min(__w) over a group whose
      // members are md5-identical IS the window string, and as a partial
      // (map-side) aggregate it ships one string per key per partition
      // instead of one per occurrence (§2.3 shuffle keys, not payloads)
      .groupBy(col("__m"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col("__w")).as("window"))
      .select(col("window"), col("n_occurrences"), col("n_docs"))
      .orderBy(col("n_occurrences").desc, col("window"))
      .limit(k)

  /** The second 64-bit window hash for the stored snapshot tier — with
    * [[tokenWindows]]' `__wh` (xxhash64) it forms a 128-bit key, so a
    * stored window can be matched without storing its string. Built from a
    * DIFFERENT hash family than `__wh` — two 32-bit Murmur3 lanes (Spark's
    * codegen'd `hash`, plain and salted) packed into one long — so the two
    * halves fail independently rather than being xxhash64-of-the-same-bytes
    * twice. For random inputs the combined collision odds are ~2⁻¹²⁸;
    * neither family is cryptographic, so an adversarial corpus could still
    * engineer collisions the string-free stored tier cannot confirm away —
    * callers needing adversarial robustness should keep the plain
    * [[repeatedSpans]] path (exact string confirm). Still far stronger
    * than the usual production substitutes (Bloom-filter dedup à la
    * BFF/Dolma); the paper's suffix array is exact but single-node. */
  private def saltedWinHash(w: Column): Column =
    shiftleft(hash(w).cast("long"), 32)
      .bitwiseOR(hash(lit("graft:win2"), w).cast("long").bitwiseAND(lit(0xFFFFFFFFL)))

  /** `mm2` names the __wh2 hash family (two packed Murmur3 lanes, see
    * [[saltedWinHash]]); it is fused into the column name alongside the
    * window length so a snapshot persisted under a DIFFERENT family or
    * spec fails loudly at probe time instead of silently matching
    * nothing — bump the tag whenever the family changes. */
  private def winCntCol(minTokens: Int): String = s"wcnt_mm2_l$minTokens"

  /** Persist the corpus's window-hash profile for INCREMENTAL exact
    * substring dedup: one row per distinct (128-bit hash pair) window —
    * (__wh, __wh2, wcnt_mm2_l<minTokens> = occurrences) — bucketed by `__wh`.
    * The window-length spec is fused into the count column's NAME, so a
    * probe with a different `minTokens` fails loudly instead of silently
    * matching nothing (the [[writeBandedSnapshot]] convention). Window
    * STRINGS are never stored: at 100 TB the profile is ~24 bytes per
    * distinct window vs the corpus text, and the 128-bit key stands in for
    * string equality (see [[saltedWinHash]]). */
  def writeWindowSnapshot(df: DataFrame, table: String, path: String,
                          idCol: String, textCol: String,
                          minTokens: Int = 5, buckets: Int = 32): Unit =
    graft.io.Bucketed.write(
      windowSnapshotProjection(df, idCol, textCol, minTokens),
      table, path, "__wh", buckets)

  /** Append a new batch's window profile to a [[writeWindowSnapshot]]
    * table — the per-batch arm of the incremental exact-substring tier
    * (window the batch ONCE at arrival, never again). Appends may
    * duplicate (__wh, __wh2) keys across batches; the probe tolerates
    * that (hits are position-distinct before the span merge), and
    * [[compactWindowSnapshot]] restores one-row-per-window offline. */
  def appendWindowSnapshot(df: DataFrame, table: String,
                           idCol: String, textCol: String,
                           minTokens: Int = 5): Unit =
    graft.io.Bucketed.append(
      windowSnapshotProjection(df, idCol, textCol, minTokens), table)

  /** Offline compaction for an append-grown [[writeWindowSnapshot]] table:
    * re-aggregate duplicate (__wh, __wh2) rows (counts sum exactly — the
    * projection is a plain occurrence count) and rewrite single-layout
    * into `toTable`/`toPath`. Reads through the bucket metadata and writes
    * bucketed on the same key, so the shuffle-free probe plan is identical
    * before and after; callers swap table names when the write commits
    * (write-new-then-drop-old — never compact a table onto its own path).
    * Probe results are unchanged by construction: same distinct windows,
    * same counts, fewer rows and one file layout per bucket. */
  def compactWindowSnapshot(spark: org.apache.spark.sql.SparkSession,
                            fromTable: String, toTable: String, toPath: String,
                            minTokens: Int = 5, buckets: Int = 32): Unit = {
    val cnt = winCntCol(minTokens)
    require(fromTable != toTable,
      s"compaction must write to a NEW table ($fromTable -> itself would " +
        "drop the table out from under the plan that reads it)")
    val fromLoc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(fromTable)).location.getPath
    require(!java.nio.file.Paths.get(toPath).toAbsolutePath.normalize.toString
        .equals(java.nio.file.Paths.get(fromLoc).toAbsolutePath.normalize.toString),
      s"compaction must write to a NEW path (source files live at $fromLoc)")
    val src = graft.io.Bucketed.read(spark, fromTable)
    require(src.columns.contains(cnt),
      s"window snapshot column $cnt not found in $fromTable (columns: " +
        s"${src.columns.mkString(", ")}) — wrong minTokens or hash family?")
    graft.io.Bucketed.write(
      src.groupBy(col("__wh"), col("__wh2")).agg(sum(col(cnt)).as(cnt)),
      toTable, toPath, "__wh", buckets)
  }

  /** The window-hash profile [[writeWindowSnapshot]] stores: one row per
    * distinct (128-bit hash pair) window of `df` — (__wh, __wh2,
    * wcnt_mm2_l<minTokens>). Exposed so incremental folds (the streaming face)
    * can accumulate profiles without a catalog table; a probe accepts a
    * profile with DUPLICATE (__wh, __wh2) rows (append-only fold) — hits
    * are position-distinct before the span merge. */
  def windowSnapshotProjection(df: DataFrame, idCol: String, textCol: String,
                               minTokens: Int = 5): DataFrame =
    tokenWindows(df, idCol, textCol, minTokens)
      .select(col("__wh"), saltedWinHash(col("__w")).as("__wh2"))
      .groupBy(col("__wh"), col("__wh2"))
      .agg(count(lit(1)).as(winCntCol(minTokens)))

  /** Incremental [[repeatedSpans]] for a NEW batch against a stored
    * [[writeWindowSnapshot]] profile: a new document's window is
    * duplicated when it occurs in the stored corpus (any count ≥ 1) OR
    * ≥ 2 times within the new batch itself (exact string confirm, batch
    * is local); positions merge to maximal spans exactly like the plain
    * path. Emits (idCol, span_start, span_tokens) for the new docs only.
    *
    * Scale posture — the 100 TB steady state: the corpus's windows are
    * NEVER recomputed per batch (the profile was paid once at write); the
    * stored side is read through its bucket layout, so the probe join
    * shuffles only the new batch's (8+8+8-byte) hash rows into the
    * snapshot's bucketing and the snapshot itself has no Exchange. The
    * batch-internal stage is the plain two-stage pipeline on the (small)
    * batch alone. */
  def repeatedSpansIncrementalStored(newDf: DataFrame, stored: DataFrame,
                                     idCol: String, textCol: String,
                                     minTokens: Int = 5): DataFrame = {
    val cnt = winCntCol(minTokens)
    require(stored.columns.contains(cnt),
      s"window snapshot column $cnt not found (stored columns: " +
        s"${stored.columns.mkString(", ")}) — was the snapshot written with " +
        s"a different minTokens or an older __wh2 hash family?")
    val wins = tokenWindows(newDf, idCol, textCol, minTokens)
      .withColumn("__wh2", saltedWinHash(col("__w")))
    // corpus face: equi-join on the stored BUCKET column (__wh) keeps the
    // snapshot Exchange-free. The 128-bit confirm (__wh2) must NOT be an
    // equality between the two sides' columns: Catalyst would lift
    // `__wh2 === __swh2` into the join as a second equi-key, widening the
    // key set to (__wh, __wh2) — which no longer matches the bucket spec,
    // so the planner disables the bucketed scan and shuffles BOTH sides
    // (observed). Spelling it `xor == 0` (equal iff for 64-bit longs)
    // keeps it a non-equi join residual and __wh the only join key.
    val storedHits = wins.join(
        stored.select(col("__wh"), col("__wh2").as("__swh2")), Seq("__wh"))
      .filter(col("__wh2").bitwiseXOR(col("__swh2")) === 0L)
      .select(col(idCol), col("__pos"))
    // batch face: windows repeated within the new batch itself (same
    // window DataFrame definition as the probe — one windowing spec, two
    // plan branches). cacheCand=false: this body runs per STREAMING batch
    // (StreamingDedup.repeatedSpansBatchFn) and must not register cache
    // entries per batch — the batch side is small by design, recompute is
    // the contract.
    val batchHits = repeatedWindowRowsFromWins(wins.drop("__wh2"), cacheCand = false)
      .select(col(idCol), col("__pos"))
    mergeSpanPositions(storedHits.union(batchHits).distinct(), idCol, minTokens)
  }
}

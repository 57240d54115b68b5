package graft
import org.apache.spark.sql.SparkSession

object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** 1/5/15-min load averages — the contention telltale. BENCH_r06/r07 proved
    * that host load, not code, drove 0.14x-17.3x phantom per-query deltas on
    * identical binaries; recording load before/after lets the next reader
    * discount a contaminated run instead of chasing fake regressions. */
  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: Throwable => "" }

  /** Count by executing the FULL physical plan (every output column, every
    * join). A plain `df.count()` lets Catalyst prune work the query's
    * consumers would pay for — in particular a final left join against a
    * unique-keyed aggregate (the `distinct-ids ⋈ per-id-stats` shape many
    * gates end in) is ELIMINATED under count, so the expensive aggregate
    * never ran and the measurement lied (found via q116, whose top-k forces
    * the same subtree q114's count silently skipped — 0.23 s vs ~5 s). All
    * measurement harnesses (Bench/Scale/ScaleSuite) count through this. */
  private[graft] def fullCount(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Per-query medians from a previous bench artifact — either our own
    * bench_full.json or a driver BENCH_r*.json (whose "tail" field holds a
    * truncated copy of the stdout line). Regex-extracted so a half-captured
    * tail still yields every complete pair; index_build keys carry a ":path"
    * suffix and therefore never match. Known benign imprecision: the pair
    * that straddles the driver's ~2k-char truncation boundary can be cut
    * mid-digits (e.g. "0.833" captured as "0.83") — the error is below
    * ms-rounding and only feeds the re-measure trigger, never a reported
    * number. Artifacts from before the round-11 measurement change
    * (action=full_plan; earlier rounds' plain count() let Catalyst prune
    * whole subtrees) are rejected — their lower numbers are not comparable
    * and would trigger phantom remeasures on every query. */
  private[graft] def parsePrev(p: java.nio.file.Path): Map[String, Double] =
    try {
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      // whitespace-tolerant: driver artifacts are pretty-printed
      if ("\"action\"\\s*:\\s*\"full_plan\"".r.findFirstIn(text).isEmpty) Map.empty
      else {
        // \s* after the colon: the driver artifact's "parsed" block is
        // pretty-printed ("q24": 0.31) while tails/bench_full are compact
        val re = """"(q\d+[A-Za-z0-9_]*)"\s*:\s*([0-9]+\.?[0-9]*(?:[eE][+-]?[0-9]+)?)""".r
        re.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }

  /** Every driver bench artifact in cwd (BENCH_r*.json), oldest first. */
  private def allDriverBenches(): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    try {
      val cwd = java.nio.file.Paths.get(".")
      java.nio.file.Files.list(cwd).iterator().asScala
        .filter(_.getFileName.toString.matches("BENCH_r\\d+\\.json"))
        .toSeq.sortBy(_.getFileName.toString)
    } catch { case _: Throwable => Seq.empty }
  }

  /** Key-wise MINIMUM over a set of per-query median maps — the
    * best-historical baseline the remeasure trigger compares against.
    * Round-20 verdict: comparing against ONLY the previous round let a
    * contaminated prior median launder a still-hot current one (q163's
    * r19 median was 7.30 s on a loaded host, so r20's 6.15 s looked like
    * an improvement and was never remeasured under the idle gate — while
    * the same code measured 2.36 s idle). min over every comparable
    * artifact makes the trigger blind to one bad round. */
  private[graft] def bestOf(maps: Seq[Map[String, Double]]): Map[String, Double] =
    maps.foldLeft(Map.empty[String, Double]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) =>
        a.updated(k, a.get(k).fold(v)(math.min(_, v)))
      }
    }

  private def fmt3(v: Double): String = (math.rint(v * 1000) / 1000).toString

  /** Error text embedded in the JSON artifacts: printable-ASCII subset minus
    * quote and backslash, so a message carrying control characters or
    * backslashes can never produce an unparseable line (the old
    * takeWhile(_ != '"') let both through). */
  private[graft] def jsonSafe(s: String): String =
    s.filter(c => c >= 0x20 && c <= 0x7e && c != '"' && c != '\\')

  /** Why a query deserves ONE fresh re-measurement, or None.
    * "regressed" = median >1.25x the previous artifact's median, with a
    * 0.10 s floor (round-8 review: the old 0.15 floor silently exempted
    * every sub-150 ms query from regression detection; below 0.10 s the
    * numbers are JVM-noise-dominated and a ratio alone would re-measure
    * half the suite). The threshold was 2x through round 12 and 1.5x in
    * round 13 — each let a band of load-contamination artifacts ship as
    * apparent regressions (r12: q65/q53/q28 at 1.5-2.2x; r13:
    * q67/q10/q54/q61/q40/q59 at 1.3-1.6x, all 1x-flat in the quiet soak).
    * At 1.25x the trigger covers every band the quiet-soak comparison has
    * ever flagged (q67's r13 ratio was 1.299 — strictly-1.3 would have
    * missed it); the cost is a handful of extra re-runs on genuinely
    * moved queries.
    * "spread" = this run's own reps span >4x max/min —
    * contention inside the measurement itself, no previous file needed. */
  private[graft] def triggerReason(times: Seq[Double], prevMed: Option[Double]): Option[String] = {
    if (times.isEmpty) return None
    val med = median(times)
    val regressed = prevMed.exists(p => p > 0 && med > 1.25 * p && med > 0.10)
    val spread = times.max > 4 * math.max(times.min, 1e-3) && med > 0.3
    (regressed, spread) match {
      case (true, true)  => Some("regressed+spread")
      case (true, false) => Some("regressed")
      case (false, true) => Some("spread")
      case _             => None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(cpus.toInt)
    // local-iteration hooks (driver never sets these): run only named
    // queries, optionally several times (last timing wins = warm numbers)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Per-query timings jitter up to ±40% run-to-run at sf0.1 (measured:
    // q67 1.75-2.71 s across two same-code runs), so each query is measured
    // `reps` times and the MEDIAN reported — round-over-round deltas are
    // then signal, not noise.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }

    // settle gate: if the host is still busy (e.g. the evidence sweep's
    // soaks just finished), wait for the 1-min loadavg to drop below ~1.5
    // before measuring anything — BENCH_r12 started at loadavg 3.6 and its
    // q65/q53/q28 medians read 1.5-2.2x above the same queries measured on
    // a quiet machine minutes earlier. Bounded wait so a genuinely shared
    // host can't stall the bench forever; the waited seconds are reported.
    def load1(): Double =
      try loadavg().split(" ").headOption.map(_.toDouble).getOrElse(0.0)
      catch { case _: Throwable => 0.0 }
    val settleStart = System.nanoTime()
    val settleCap = sys.env.getOrElse("SPARK_GRAFT_SETTLE_SEC", "300").toInt
    while (load1() > 1.5 && (System.nanoTime() - settleStart) / 1e9 < settleCap)
      Thread.sleep(10000)
    val settleSec = math.rint((System.nanoTime() - settleStart) / 1e9).toInt

    val loadBefore = loadavg()

    // Per-query warmup execution (unmeasured), then the measured runs —
    // the same warmup-then-measure methodology as the reference's asv
    // baseline (BASELINE.md): at sf0.1 a cold run is dominated by one-time
    // whole-stage-codegen compilation (~1-2 s/query), which asv also
    // excludes. Steady-state is what a long-running 100 TB job sees.
    // A failing query must surface as "err" in the JSON, never as a
    // fast-looking wall time that masks a regression.
    // The warmup execution is additionally TIMED (r21 verdict #2): the warm
    // medians read multiply-consumed subtrees out of caches the warmup
    // populated, so the cold (first-execution, empty-cache) wall time is the
    // number a single production run of the query would see. Recording it
    // de-confounds cache-inflation from real plan wins — both totals go on
    // record. The protocol itself is unchanged: warm medians stay the
    // reported per-query numbers, cold times are additive evidence.
    def measure(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                warmups: Int = 1): (Seq[Double], Option[String], Double) = {
      var cold = Double.NaN
      for (i <- 1 to warmups)
        try {
          val c0 = System.nanoTime()
          fullCount(fn(spark, sfDir))
          if (i == 1) cold = (System.nanoTime() - c0) / 1e9
        } catch { case scala.util.control.NonFatal(_) => () }
      val times = collection.mutable.ArrayBuffer.empty[Double]
      var err: Option[String] = None
      for (_ <- 1 to reps) {
        val t0 = System.nanoTime()
        try { fullCount(fn(spark, sfDir)); times += (System.nanoTime() - t0) / 1e9 }
        catch { case scala.util.control.NonFatal(e) => err = Some("err: " + e.getClass.getSimpleName) }
      }
      // drop this query's cached plans before the next one: a long run
      // otherwise accumulates every .cache()d subtree in storage memory,
      // and late queries pay eviction churn unrelated to their own plan
      spark.sharedState.cacheManager.clearCache()
      // and nudge the collector (same as Scale.bench): BENCH_r11's q116
      // reps grew monotonically 1.18→2.87→5.62 inside one measurement —
      // GC/codegen-cache pressure accumulated from earlier queries, not
      // load. Reclaiming between queries keeps the re-measure machinery
      // for real host contention instead of self-inflicted heap churn.
      System.gc()
      (times.toSeq, err, cold)
    }

    val firstPass: Seq[(String, Seq[Double], Option[String], Double)] =
      selected.toSeq.map { case (name, fn) =>
        val (times, err, cold) = measure(fn); (name, times, err, cold)
      }

    // ---- contention defense (round-6/7 phantom-regression fix) ----------
    // Compare against the previous round's medians (our own bench_full.json
    // if present, else the newest driver BENCH_r*.json tail). Any query
    // whose median "regressed" (triggerReason) gets ONE fresh re-measurement after the
    // whole suite — if the first number was a host-contention artifact, the
    // re-run lands back at truth and the LOWER median is reported. A real
    // regression reproduces and keeps its (still slow) re-measured median.
    // A second trigger needs no previous file: reps of one query spanning
    // >4x (max/min) is contention within the measurement itself.
    val prevPaths: Seq[java.nio.file.Path] =
      sys.env.get("SPARK_GRAFT_PREV_BENCH").map(java.nio.file.Paths.get(_))
        .filter(java.nio.file.Files.exists(_)) match {
        case Some(p) => Seq(p)
        case None =>
          val own = java.nio.file.Paths.get("bench_full.json")
          (if (java.nio.file.Files.exists(own)) Seq(own) else Seq.empty) ++
            allDriverBenches()
      }
    val prev: Map[String, Double] = bestOf(prevPaths.map(parsePrev))

    val suspects: Seq[(String, String)] = firstPass.flatMap {
      // a driver-tail artifact holds SHORT 2-decimal keys ("q03"), our own
      // bench_full.json holds full names — look up both
      case (name, times, None, _) =>
        val prevMed = prev.get(name).orElse(prev.get(name.takeWhile(_ != '_')))
        triggerReason(times, prevMed).map(name -> _)
      case _ => None
    }
    // remeasure-pass IDLE-HOST GATE (round-20, generalizing the q162
    // idle-host protocol from SCALE.md into the harness): the suspects
    // exist precisely because the host may have been loaded during the
    // first pass, so re-measuring IMMEDIATELY re-measures under the same
    // contamination — r19 recorded q163 at 7.3 s and q168 at 1.75 s on
    // UNCHANGED code with load1 at 10.26, and both remeasures (25.4 -> 7.3,
    // 2.27 -> 1.75) still ran hot. Wait for the 1-min loadavg to decay
    // below ~4 (the bench's own 32-thread run keeps it well above the
    // start-gate's 1.5 for a while — sleeping threads don't count as
    // runnable, so idling here lets it drain), then DOUBLE-warm each
    // suspect before its fresh reps. Bounded so a genuinely shared host
    // cannot stall the run; the waited seconds and the load at remeasure
    // time are recorded in bench_full.json for the next reader.
    val settle2Start = System.nanoTime()
    val settle2Cap = sys.env.getOrElse("SPARK_GRAFT_SETTLE2_SEC", "600").toInt
    if (suspects.nonEmpty)
      while (load1() > 4.0 && (System.nanoTime() - settle2Start) / 1e9 < settle2Cap)
        Thread.sleep(10000)
    val settle2Sec = math.rint((System.nanoTime() - settle2Start) / 1e9).toInt
    val loadRemeasure = if (suspects.nonEmpty) loadavg() else ""
    val second: Map[String, Seq[Double]] = suspects.map { case (name, _) =>
      val (times, err, _) = measure(selected(name), warmups = 2)
      name -> (if (err.isEmpty) times else Seq.empty[Double])
    }.toMap

    val loadAfter = loadavg()

    val results: Seq[(String, Either[String, Double], Seq[Double], Seq[Double])] =
      firstPass.map { case (name, times, err, _) =>
        val m1 = median(times)
        val t2 = second.getOrElse(name, Seq.empty)
        val best = if (t2.nonEmpty) math.min(m1, median(t2)) else m1
        val out: Either[String, Double] = err.toLeft(best)
        (name, out, times, t2)
      }
    val coldByName: Map[String, Double] =
      firstPass.collect { case (n, _, _, c) if !c.isNaN => n -> c }.toMap

    // stdout carries SHORT query keys ("q03") at 2-decimal precision so the
    // whole line stays inside the driver's ~2k-char tail window (BENCH_r11's
    // 4.2 KB line was cut mid-map every round → "parsed": null); the
    // full-name, ms-precision map goes to bench_full.json as queries_full
    def short(k: String): String = k.takeWhile(_ != '_')
    def fmt2(v: Double): String = (math.rint(v * 100) / 100).toString
    def fmt1(v: Double): String = (math.rint(v * 10) / 10).toString
    def qsWith(fmt: Double => String) = results.map {
      case (k, Right(v), _, _) => "\"" + short(k) + "\":" + fmt(v)
      case (k, Left(e), _, _)  => "\"" + short(k) + "\":\"" + jsonSafe(e) + "\""
    }.mkString("{", ",", "}")
    val qs = qsWith(fmt2)
    val qsFull = results.map {
      case (k, Right(v), _, _) => "\"" + k + "\":" + fmt3(v)
      case (k, Left(e), _, _)  => "\"" + k + "\":\"" + jsonSafe(e) + "\""
    }.mkString("{", ",", "}")
    // index BUILD phases (q63/q68 build their stored index once per JVM, at
    // warmup — see SparkEntry.memoIndex), reported apart from query medians
    // stdout carries the short form ("bq63": — the b prefix keeps these out
    // of parsePrev's q-key regex, so a later round never mistakes a build
    // time for a query median); full path-suffixed keys go to bench_full
    val buildsSeq = {
      import scala.jdk.CollectionConverters._
      SparkEntry.indexBuildSec.asScala.toSeq.sortBy(_._1)
    }
    val builds = buildsSeq
      .map { case (k, v) => "\"b" + short(k) + "\":" + fmt2(v) }.mkString("{", ",", "}")
    val buildsFull = buildsSeq
      .map { case (k, v) => "\"" + k + "\":" + fmt3(v) }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right(v), _, _) => v }.sum
    val nErr = results.count(_._2.isLeft)
    // both medians + which pass won are auditable in bench_full.json; the
    // stdout line carries the remeasure COUNT (the full record blew the
    // driver's tail budget — round-11 nit)
    val firstMed = firstPass.map { case (n, t, _, _) => n -> median(t) }.toMap
    // how much of the total the min-keeping remeasure shaved (r21 verdict
    // #3: the rerun is a one-sided selection — record its contribution so a
    // cross-round comparison can subtract it)
    val rerunWonSec = suspects.map { case (name, _) =>
      val m1 = firstMed(name)
      val t2 = second.getOrElse(name, Seq.empty)
      if (t2.nonEmpty && median(t2) < m1) m1 - median(t2) else 0.0
    }.sum
    val coldTotal = coldByName.values.sum
    val remeasured = suspects.map { case (name, reason) =>
      val m1 = firstMed(name)
      val t2 = second.getOrElse(name, Seq.empty)
      val m2s = if (t2.nonEmpty) fmt3(median(t2)) else "null"
      val won = if (t2.nonEmpty && median(t2) < m1) "rerun" else "first"
      "{\"q\":\"" + name + "\",\"reason\":\"" + reason + "\",\"med1\":" + fmt3(m1) +
        ",\"med2\":" + m2s + ",\"won\":\"" + won + "\"}"
    }.mkString("[", ",", "]")
    // stdout contract: ONE JSON line, the LAST thing printed, small enough
    // (≤~1.6 KB) that the driver's ~2k-char tail holds the WHOLE line with
    // headroom for sbt's trailing [success] line — every pre-r12 round's
    // 4 KB line was cut mid-map and recorded as "parsed": null, and r12's
    // 1.9 KB line left no headroom. If 2-decimal per-query values push the
    // line past 1.6 KB, it degrades to 1-decimal (full ms precision always
    // lives in bench_full.json). build.sbt routes the forked run's stdout
    // raw (StdoutOutput), so the line carries no "[info] " prefix either.
    def jsonWith(queries: String, ib: Boolean) = "{\"metric\":\"total\",\"value\":" + fmt3(total) +
      ",\"unit\":\"sec\",\"errors\":" + nErr + ",\"reps\":" + reps +
      // action=full_plan since round 11: every query executes its complete
      // physical plan (Bench.fullCount) — earlier rounds' plain count()
      // let Catalyst prune final unique-key joins and agg expressions, so
      // per-query numbers are NOT comparable across that boundary
      ",\"stat\":\"median\",\"action\":\"full_plan\",\"sf\":\"" + sfDir + "\"" +
      ",\"load0\":\"" + loadBefore + "\",\"load1\":\"" + loadAfter + "\"" +
      ",\"settle\":" + settleSec + ",\"settle2\":" + settle2Sec +
      ",\"remeasured\":" + suspects.length +
      // cold_total = summed first-execution (warmup) wall time: what one
      // cache-cold run of every query costs; rerun_won_sec = how much the
      // min-keeping remeasure shaved off the warm total (both r21 verdict #2/#3)
      ",\"cold_total\":" + fmt3(coldTotal) +
      ",\"rerun_won_sec\":" + fmt3(rerunWonSec) +
      (if (ib) ",\"index_build\":" + builds else "") + ",\"queries\":" + queries + "}"
    // progressive degrade, applied only when the line would crowd the
    // driver's ~2k-char tail (line + trailing "[success] ..." must fit):
    // full 2-decimal first; then 1-decimal; then also drop index_build;
    // terminal fallback drops the per-query map entirely (a line that
    // ALWAYS parses beats per-query detail that gets truncated mid-map —
    // bench_full.json always keeps full precision, build times and every
    // query median, and the marker says where to look)
    // terminal fallback (r20 verdict #8): never a bare "omitted" — emit the
    // TOP-20 medians (the regression-relevant tail) plus an md5 of the full
    // 3-decimal median table, so the driver's BENCH json keeps per-query
    // visibility and any cross-round diff can verify it has the matching
    // bench_full.json. Erring queries always surface (they sort past every
    // number). The "rest" summary keys start with a letter ≠ q, so
    // parsePrev never mistakes them for query medians.
    def topN(n: Int): String = {
      val errs = results.collect { case (k, Left(e), _, _) =>
        "\"" + short(k) + "\":\"" + jsonSafe(e) + "\"" }
      val byTime = results.collect { case (k, Right(v), _, _) => (k, v) }
        .sortBy(-_._2)
      val shown = byTime.take(n)
        .map { case (k, v) => "\"" + short(k) + "\":" + fmt2(v) }
      val restSum = byTime.drop(n).map(_._2).sum
      val fullMd5 = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(qsFull.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      (errs ++ shown ++ Seq(
        "\"rest_n\":" + byTime.drop(n).length,
        "\"rest_sum\":" + fmt2(restSum),
        "\"full_md5\":\"" + fullMd5 + "\"")).mkString("{", ",", "}")
    }
    val json = Seq(jsonWith(qs, ib = true), jsonWith(qsWith(fmt1), ib = true),
        jsonWith(qsWith(fmt1), ib = false),
        jsonWith(topN(20), ib = false))
      .find(_.length <= 1850)
      .getOrElse(jsonWith("{\"omitted\":\"" + results.count(_._2.isRight) +
        " medians exceed the stdout budget; see bench_full.json\"}", ib = false))
    // bench_full.json is never degraded: always the full 2-decimal map +
    // index_build, whatever the stdout line had to drop
    val jsonFull = jsonWith(qs, ib = true)
    // full-precision sibling with per-rep evidence: reps1 = main pass,
    // reps2 = the fresh contention re-measurement (only for suspects)
    val detail = results.map { case (name, _, t1, t2) =>
      "\"" + name + "\":{\"reps1\":[" + t1.map(fmt3).mkString(",") + "]" +
        (if (t2.nonEmpty) ",\"reps2\":[" + t2.map(fmt3).mkString(",") + "]" else "") +
        coldByName.get(name).map(c => ",\"cold\":" + fmt3(c)).getOrElse("") + "}"
    }.mkString("{", ",", "}")
    val fullJson = jsonFull.dropRight(1) +
      ",\"load_remeasure\":\"" + loadRemeasure + "\"" +
      ",\"prev_bench\":\"best-of:" + prevPaths.map(_.getFileName).mkString("+") + "\"" +
      ",\"remeasured_detail\":" + remeasured +
      ",\"index_build_full\":" + buildsFull +
      ",\"queries_full\":" + qsFull +
      ",\"rep_times\":" + detail + "}"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // read-only cwd must not fail the bench
    spark.stop()
    // print LAST, after every Spark shutdown message, so the driver's tail
    // capture ends with the complete line
    println(json)
    // NOTE: do NOT exit nonzero on per-query errors — the driver treats a
    // nonzero runner as "no bench this round" and discards the JSON line
    // (round 10 lost its whole bench record to one erring query). The
    // "errors" count + per-query "err: …" values in the JSON are the
    // regression signal; CORRECTNESS gates failures independently.
    ()
  }
}

package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Core-count scaling evidence (r21 verdict #7): the sf0.1 bench is too
  * small to feed 32 cores (every 8c/32c ratio there is ~1 — it measures
  * overhead-boundedness, not scale-out), so this harness runs a handful of
  * the HEAVY operator shapes at a replication multiple where per-task work
  * dominates the scheduling floor, at whatever core count
  * `$SPARK_GRAFT_CPUS` names. Run it twice (8 and 32) and compare: the
  * 32c/8c speedup on these rows is the parallel-scaling claim SCALE.md's
  * row-linearity tiers deliberately do not make.
  *
  * Usage: SPARK_GRAFT_CPUS=8|32 runMain graft.CoreScale [mult]
  * Prints one JSON line: {"harness":"core_scale","cpus":N,"mult":M,
  * "ops":{name:sec,...}} — wall seconds, best of 2 reps after 1 warmup
  * (same steady-state posture as Bench). */
object CoreScale {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = args.headOption.map(_.toInt).getOrElse(16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // partitions = cpus, NOT the recipe's 2-3x: measured at 256x/32c, 3x
    // partitions inflated summed task time 364->1509 s (more map-side
    // shuffle files per task and 3x the blocks through the single local
    // BlockManager) and wall 21->60 s — the recipe's sizing is for a
    // CLUSTER where the block count spreads over many executor JVMs
    val spark = GraftSession(cpus.toInt)

    def docs(): DataFrame =
      Scale.replicate(spark.read.parquet(s"$sf/documents.parquet"), mult, Seq("doc_id"))
    def embs(): DataFrame =
      Scale.replicate(spark.read.parquet(s"$sf/embeddings.parquet"), mult, Seq("vec_id"))

    // the heavy operator shapes (tokenize/shingle/signature map work,
    // window counting, prefix candidate join, banded cosine verify) — each
    // is the exact library call its bench gate uses, at mult× the rows
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "minhash_pairs" -> (() =>
        graft.ops.Dedup.minhashPairs(docs(), "doc_id", "text",
          k = 3, numHashes = 16, bands = 4, threshold = 0.95)),
      "jaccard_exact" -> (() =>
        graft.ops.Dedup.jaccardPairsExact(docs(), "doc_id", "text",
          k = 3, threshold = 0.5)),
      "repeated_spans" -> (() =>
        graft.ops.Dedup.repeatedSpans(docs(), "doc_id", "text", minTokens = 5)),
      "embedding_pairs" -> (() =>
        graft.ops.Dedup.embeddingPairs(embs(), "vec_id", "embedding",
          planes = 192, bands = 48, threshold = 0.45)))

    // measurement-only listener: per-op stage/task counts, summed executor
    // run time, GC time and the largest single task — tells whether a flat
    // 8c→32c ratio is idle executors (few/skewed tasks, stage floor) or
    // per-task inflation (GC, memory bandwidth) (guide §7.1 posture)
    val stats = new java.util.concurrent.atomic.AtomicReference(
      (0, 0, 0L, 0L, 0L)) // stages, tasks, taskTimeMs, gcMs, maxTaskMs
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        stats.updateAndGet { case (s, t, tt, gc, mx) =>
          (s + 1, t + e.stageInfo.numTasks, tt + m.executorRunTime,
            gc + m.jvmGCTime, mx) }
      }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val d = if (e.taskMetrics != null) e.taskMetrics.executorRunTime else 0L
        stats.updateAndGet { case (s, t, tt, gc, mx) =>
          (s, t, tt, gc, math.max(mx, d)) }
      }
    })
    val results = ops.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"core_scale: $name x$mult")
      Bench.fullCount(fn()) // warmup (codegen; scratch caches hot like Bench)
      val times = (1 to 2).map { i =>
        if (i == 2) stats.set((0, 0, 0L, 0L, 0L)) // profile the LAST rep only
        val t0 = System.nanoTime()
        Bench.fullCount(fn())
        (System.nanoTime() - t0) / 1e9
      }
      val (st, tk, tt, gc, mx) = stats.get()
      System.err.println(f"[core_scale] $name: stages=$st tasks=$tk " +
        f"taskTime=${tt / 1000.0}%.1fs gc=${gc / 1000.0}%.1fs " +
        f"maxTask=${mx / 1000.0}%.1fs wallLast=${times.last}%.1fs " +
        f"cpuOcc=${tt / 1000.0 / math.max(times.last, 1e-9) }%.1f")
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      name -> times.min
    }
    spark.stop()
    val qs = results.map { case (n, s) =>
      "\"" + n + "\":" + (math.rint(s * 100) / 100) }.mkString("{", ",", "}")
    println(s"""{"harness":"core_scale","cpus":$cpus,"mult":$mult,"ops":$qs}""")
  }
}

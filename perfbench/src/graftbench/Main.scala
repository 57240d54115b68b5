package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up the workload's inputs, run one cold pass, check
  * its results, then run warm passes for the given number of seconds.
  * Untraced runs report the end-to-end metrics; traced runs alternate
  * untraced and traced passes and report the per-layer metrics. The result
  * is written as one JSON object to `--out`. */
object Main {

  final case class Opts(workload: String = "", seed: Long = 0, seconds: Double = 10, trace: Boolean = false,
                        work: String = "", out: String = "", sf: String = "", expected: String = "")

  def parse(args: Array[String]): Opts =
    args.grouped(2).foldLeft(Opts()) {
      case (o, Array("--workload", v)) => o.copy(workload = v)
      case (o, Array("--seed", v))     => o.copy(seed = v.toLong)
      case (o, Array("--seconds", v))  => o.copy(seconds = v.toDouble)
      case (o, Array("--trace", v))    => o.copy(trace = v == "1")
      case (o, Array("--work", v))     => o.copy(work = v)
      case (o, Array("--out", v))      => o.copy(out = v)
      case (o, Array("--sf", v))       => o.copy(sf = v)
      case (o, Array("--expected", v)) => o.copy(expected = v)
      case (_, a) => throw new IllegalArgumentException(s"bad arguments: ${a.mkString(" ")}")
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The session every run uses: the engine bench's settings (`graft.Bench`)
    * on `local[cores]`, with scratch space inside the work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.BboxFastPath.install(spark)
    spark
  }

  /** Every op and query name, so traced runs emit the same metric set on
    * every workload. */
  def allOpMetrics: Seq[String] =
    new SjoinGrid(0).opNames.map(n => s"op.$n.wall_s") ++
      new OverlayDissolve(0).opNames.map(n => s"op.$n.wall_s") ++
      new CompositeQueries("", Map.empty).opNames.map(n => s"query.$n.wall_s")

  def unitOf(metric: String): String =
    if (metric.endsWith("_us")) "us"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_s")) "s"
    else if (metric == "spark.occupancy") "ratio"
    else "count"

  def loadExpected(path: String): Map[String, Fp] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else {
      val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
      """"([A-Za-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(-?\d+)\s*,\s*"hash"\s*:\s*(-?\d+)\s*\}""".r
        .findAllMatchIn(text).map(m => m.group(1) -> Fp(m.group(2).toLong, m.group(3).toLong, 0.0)).toMap
    }

  def workload(o: Opts): Workload = o.workload match {
    case "sjoin_grid"        => new SjoinGrid(o.seed)
    case "overlay_dissolve"  => new OverlayDissolve(o.seed)
    case "composite_queries" => new CompositeQueries(o.sf, loadExpected(o.expected))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  final case class Pass(wall: Double, cpu: Double, fps: Map[String, Either[String, Fp]], layers: Map[String, Double],
                        opWall: Seq[(String, Double)], taps: Map[String, Seq[Seq[Any]]])

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** One pass over the workload's ops. With a tracer, every public call is
    * a span and the pass's per-layer figures are returned. With `tap`, each
    * op also keeps the rows its tap selects. */
  def pass(spark: SparkSession, w: Workload, tracer: Option[Tracer], cores: Int, tap: Boolean = false): Pass = {
    spark.sharedState.cacheManager.clearCache()
    System.gc()
    val sc = spark.sparkContext
    val persisted = mutable.Map.empty[Int, Double]
    val before = sc.getPersistentRDDs.keySet
    def notePersisted(): Unit = {
      val info = sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize) / 1048576.0).toMap
      (sc.getPersistentRDDs.keySet -- before).foreach(id =>
        persisted(id) = math.max(persisted.getOrElse(id, 0.0), info.getOrElse(id, 0.0)))
    }
    def span[T](name: String, layer: String)(body: => T): (T, Option[Span]) = tracer match {
      case Some(t) => val (v, s) = t.span(name, layer)(body); (v, Some(s))
      case None    => (body, None)
    }
    val cpu0 = cpuSeconds()
    val t0 = System.nanoTime()
    val passSpan = tracer.map(_.open("pass", "bench"))
    val (ops, _) = span("read", "graft.io")(w.ops(spark))
    val opWall = mutable.ArrayBuffer.empty[(String, Double)]
    val taps = mutable.Map.empty[String, Seq[Seq[Any]]]
    val fps = ops.map { op =>
      val o0 = System.nanoTime()
      val opSpan = tracer.map(_.open(op.name, "op"))
      val r = try {
        val (df, _) = span("construct", op.layer)(op.build())
        val ((fp, kept), ex) = span("execute", "spark")(Fp.tapped(df, op.areaCol, op.tap.filter(_ => tap)))
        taps(op.name) = kept
        ex.foreach { s => tracer.get.addPhases(s, df.queryExecution); s.rows = fp.rows }
        Right(fp)
      } catch { case NonFatal(e) => Left(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      opSpan.foreach(s => tracer.get.close(s))
      opWall += op.name -> (System.nanoTime() - o0) / 1e9
      if (tracer.isDefined) notePersisted()
      op.name -> r
    }.toMap
    passSpan.foreach(s => tracer.get.close(s))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds() - cpu0
    val layers = passSpan.map(ps => Layers.of(tracer.get, ps, cores, w.opPrefix, (persisted.size.toLong, persisted.values.sum)))
    Pass(wall, cpu, fps, layers.getOrElse(Map.empty), opWall.toSeq, taps.toMap)
  }

  def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    if (o.workload == "selftest") { SelfTest.run(o); return }
    val cores = Runtime.getRuntime.availableProcessors
    val w = workload(o)
    val spark = session(cores, o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val log = System.err

    // set-up runs several times; setup_s is session start-up plus the median round
    val rounds = (1 to 3).map { k =>
      val r0 = System.nanoTime()
      val writeS = w.setup(spark, s"${o.work}/inputs-$k")
      ((System.nanoTime() - r0) / 1e9, writeS)
    }
    val setupS = sessionS + median(rounds.map(_._1))
    log.println(f"[graftbench] ${w.name} seed=${o.seed} session=$sessionS%.3fs setup rounds=${rounds.map(r => f"${r._1}%.3f").mkString(",")}")

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val failedOps = mutable.Set.empty[(Int, String)]
    def account(i: Int, p: Pass, ref: Map[String, Either[String, Fp]]): Unit = p.fps.foreach { case (n, r) =>
      attempted += 1
      val err = r match {
        case Left(e) => Some(e)
        case Right(fp) => ref.get(n).collect { case Right(c) if !fp.matches(c) => s"$n: pass $i fingerprint $fp differs from the cold pass's $c" }
      }
      err.foreach { e => failures += e; failedOps += ((i, n)) }
    }

    val cold = pass(spark, w, None, cores, tap = true)
    account(0, cold, Map.empty)
    log.println(f"[graftbench] cold pass ${cold.wall}%.3fs (${cold.opWall.map { case (n, t) => f"$n $t%.2f" }.mkString(", ")})")
    // checks run outside the timed window, on the cold pass's own results:
    // its fingerprints and the rows its taps kept
    val c0 = System.nanoTime()
    val coldFps = cold.fps.collect { case (n, Right(fp)) => n -> fp }
    val checkErrs = try w.check(spark, coldFps, cold.taps)
      catch { case NonFatal(e) => Map("check" -> Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")) }
    checkErrs.foreach { case (n, errs) if errs.nonEmpty => failures ++= errs; failedOps += ((0, n)); case _ => }
    log.println(f"[graftbench] checks ${if (checkErrs.values.forall(_.isEmpty)) "ok" else "FAILED"} in ${(System.nanoTime() - c0) / 1e9}%.3fs")

    // a traced run compares traced with untraced passes, so neither kind may
    // get the JIT-warmest slots: one unmeasured pass first
    if (o.trace) account(0, pass(spark, w, None, cores), cold.fps)
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val h0 = Host.snap()
    val warm = mutable.ArrayBuffer.empty[Pass]
    val traced = mutable.ArrayBuffer.empty[Pass]
    var measured = 0.0
    var i = 1
    // wall_s and cpu_s are medians of at least three warm passes; traced
    // runs take at least two passes of each kind for trace.overhead_s
    val least = if (o.trace) 2 else 3
    while (measured < o.seconds || warm.size < least || traced.size < (if (o.trace) least else 0)) {
      // untraced, traced, traced, untraced, ...: a steady drift of pass
      // times cancels out of trace.overhead_s
      val useTrace = o.trace && i % 4 >= 2
      val p = pass(spark, w, if (useTrace) tracer else None, cores)
      account(i, p, cold.fps)
      if (useTrace) traced += p else warm += p
      log.println(f"[graftbench] pass $i${if (useTrace) " (traced)" else ""} wall ${p.wall}%.3fs cpu ${p.cpu}%.3fs")
      measured += p.wall
      i += 1
    }
    val h1 = Host.snap()
    val failed = failedOps.size.toLong
    failures.take(20).foreach(f => log.println(s"[graftbench] FAILED $f"))

    val metrics: Seq[(String, Double)] =
      if (!o.trace) Seq(
        "setup_s" -> setupS,
        "cold_s" -> cold.wall,
        "wall_s" -> median(warm.map(_.wall).toSeq),
        "cpu_s" -> median(warm.map(_.cpu).toSeq),
        "peak_rss_mb" -> Host.peakRssMb())
      else {
        val keys = traced.head.layers.keySet
        val layer = keys.toSeq.map(k => k -> median(traced.map(_.layers(k)).toSeq)).toMap
        val (polys, pts) = w.geomSample(spark)
        val geom = GeomMicro.run(polys, pts)
        val readS = if (w.inputPaths.isEmpty) 0.0 else median((1 to 3).map { _ =>
          val r0 = System.nanoTime()
          w.inputPaths.foreach(p => Fp.of(graft.io.GeoParquet.read(spark, p).df, None))
          (System.nanoTime() - r0) / 1e9
        })
        val extra = Map(
          "io.geoparquet_write_s" -> median(rounds.map(_._2)),
          "io.geoparquet_read_s" -> readS,
          "trace.overhead_s" -> (median(traced.map(_.wall).toSeq) - median(warm.map(_.wall).toSeq)),
          "failed_ops" -> failed.toDouble)
        val all = layer ++ geom ++ extra
        val named = PerLayer.names.map(n => n -> all.getOrElse(n, 0.0))
        // self-time table: where a traced pass spends its wall time
        val tw = median(traced.map(_.wall).toSeq)
        log.println(f"[graftbench] per-layer self time of a traced pass (median of ${traced.size}, wall $tw%.3fs):")
        all.toSeq.filter(_._1.startsWith("self.")).sortBy(-_._2).foreach { case (k, v) =>
          log.println(f"[graftbench]   ${k.stripPrefix("self.").stripSuffix("_s")}%-12s $v%9.3fs ${100 * v / tw}%6.1f%%")
        }
        named
      }

    val host = Host.record(h0, h1, cores)
    log.println(s"[graftbench] host $host")
    tracer.foreach { t =>
      t.stop()
      val lines = t.spans.map(s =>
        s"""{"id":${s.id},"parent":${s.parent.map(_.id).getOrElse(-1)},"name":"${s.name}","layer":"${s.layer}",""" +
          s""""start_ms":${s.startMs},"dur_s":${s.seconds},"jobs":${s.c.jobs},"tasks":${s.c.tasks}}""")
      Files.write(Paths.get(s"${o.work}/spans.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val metricJson = metrics.map { case (k, v) => s""""$k":{"value":${fmt(v)},"unit":"${unitOf(k)}"}""" }.mkString(",")
    val result = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$metricJson},"host":$host}"""
    Files.write(Paths.get(o.out), (result + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}

/** Names of every per-layer metric, in the order they are reported. */
object PerLayer {
  val names: Seq[String] = Seq(
    "spark.analysis_s", "spark.optimizer_s", "spark.planning_s", "spark.aqe_replans",
    "spark.codegen_compiles", "spark.codegen_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_only_s",
    "join.construct_s", "join.construct_jobs", "join.execute_s", "join.out_rows",
    "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.occupancy",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.persisted_rdds", "spark.persist_mb",
    "geom.wkb_read_us", "geom.wkb_write_us", "geom.prepared_intersects_us", "geom.intersection_us",
    "geom.difference_us", "geom.union_us", "geom.make_valid_us",
    "io.geoparquet_write_s", "io.geoparquet_read_s") ++
    Main.allOpMetrics ++
    Seq("self.graft_io_s", "self.graft_join_s", "self.graft_agg_s", "self.graft_entry_s",
      "self.spark_plan_s", "self.spark_run_s", "self.bench_s",
      "trace.overhead_s", "trace.unaccounted_s", "failed_ops")
}

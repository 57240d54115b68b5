package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters attributed to one span. Written by the listener thread, read by
  * the bench thread after the listener bus is drained. */
final class Counters {
  var jobs, stages, tasks, aqe, compiles = 0L
  var taskRunMs, taskCpuNs, shuffleWrite, shuffleRead, spill = 0L
  var analysisNs, optimizerNs, planningNs, codegenNs, gcMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** A timed region around one public call. `layer` names the module the
  * call belongs to. */
final class Span(val id: Int, val name: String, val layer: String, val parent: Option[Span]) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs, endMs = 0L
  var rows = 0L
  val c = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans from the benchmark's side of each public call and
  * attributes Spark's listener events to them: jobs carry the span id as a
  * local property; query-planning and AQE events go to the innermost open
  * span, which is exact because the bus is drained at every span boundary.
  * Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  val Prop = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var current: Option[Span] = None

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def drain(): Unit = org.apache.spark.GraftBenchBus.drain(sc)
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def open(name: String, layer: String): Span = {
    drain()
    val s = new Span(spans.size, name, layer, current)
    spans += s
    byId.put(s.id, s)
    s.c.compiles = -compiles(); s.c.codegenNs = -CodeGenerator.compileTime; s.c.gcMs = -gcMs()
    current = Some(s)
    sc.setLocalProperty(Prop, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
    drain()
    s.c.compiles += compiles(); s.c.codegenNs += CodeGenerator.compileTime; s.c.gcMs += gcMs()
    // nested spans' codegen and GC are their own; keep them out of the parent
    s.parent.foreach { p =>
      p.c.compiles -= s.c.compiles; p.c.codegenNs -= s.c.codegenNs; p.c.gcMs -= s.c.gcMs
    }
    current = s.parent
    sc.setLocalProperty(Prop, s.parent.map(_.id.toString).orNull)
  }

  def span[T](name: String, layer: String)(body: => T): (T, Span) = {
    val s = open(name, layer)
    try (body, s) finally close(s)
  }

  /** Catalyst phases of a frame executed through `queryExecution`, which
    * bypasses the Dataset actions the listener sees. */
  def addPhases(s: Span, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ns(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).getOrElse(0L)
    s.c.analysisNs += ns("analysis"); s.c.optimizerNs += ns("optimization"); s.c.planningNs += ns("planning")
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).flatMap(id => Option(byId.get(id.toInt))).orElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      s.c.jobs += 1
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.c.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = s.c
      c.tasks += 1
      c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => current.foreach(_.c.aqe += 1)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    current.foreach(addPhases(_, qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    current.foreach(addPhases(_, qe))

  def stop(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Every span below `root`, root included. */
  def tree(root: Span): Seq[Span] = spans.filter(s => Iterator.iterate(Option(s))(_.flatMap(_.parent))
    .takeWhile(_.isDefined).exists(_.get eq root)).toSeq
}

/** Per-layer figures of one traced pass. */
object Layers {
  /** Seconds inside `[startMs, endMs]` with no task running. */
  def idleSeconds(startMs: Long, endMs: Long, tasks: Seq[(Long, Long)]): Double = {
    var busy = 0L; var reach = startMs
    tasks.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { busy += b - math.max(a, reach); reach = b }
      }
    (endMs - startMs - busy) / 1e3
  }

  /** `pass` is the pass span; op spans are its children, each with a
    * `construct` and an `execute` child. Persisted RDD figures are taken by
    * the caller, which sees the storage state. */
  def of(tr: Tracer, pass: Span, cores: Int, opPrefix: String,
         persisted: (Long, Double)): Map[String, Double] = {
    val all = tr.tree(pass)
    def sum(f: Counters => Long) = all.map(s => f(s.c)).sum.toDouble
    val tasks = all.flatMap(_.c.taskIntervals)
    val reads = all.filter(s => s.name == "read" && s.parent.exists(_ eq pass))
    val ops = all.filter(s => s.name != "read" && s.parent.exists(_ eq pass))
    // sjoin/overlay/clip calls, and the declared queries built on them
    val joinOps = ops.filter(o => all.exists(c => c.name == "construct" && c.parent.exists(_ eq o) &&
      (c.layer == "graft.join" || c.layer == "graft.entry")))
    def childOf(o: Span, n: String) = all.filter(s => s.name == n && s.parent.exists(_ eq o))
    val wall = pass.seconds
    val taskBusy = tasks.map { case (a, b) => (b - a) / 1e3 }.sum
    val self = mutable.LinkedHashMap("graft.io" -> 0.0, "graft.join" -> 0.0, "graft.agg" -> 0.0,
      "graft.entry" -> 0.0, "spark.plan" -> 0.0, "spark.run" -> 0.0, "bench" -> 0.0)
    all.foreach { s =>
      val kids = all.filter(_.parent.exists(_ eq s)).map(_.seconds).sum
      val own = s.seconds - kids
      s.name match {
        case "execute" =>
          // analysis ran eagerly at construction; optimizer and physical
          // planning (graft.plans rules included) run inside the action
          val plan = (s.c.optimizerNs + s.c.planningNs) / 1e9
          self("spark.plan") += math.min(plan, own); self("spark.run") += math.max(0.0, own - plan)
        case "construct" | "read" => self(s.layer) += own
        case _ => self("bench") += own
      }
    }
    val perOp = ops.map(o => s"$opPrefix.${o.name}.wall_s" -> o.seconds)
    Map(
      "spark.analysis_s" -> sum(_.analysisNs) / 1e9,
      "spark.optimizer_s" -> sum(_.optimizerNs) / 1e9,
      "spark.planning_s" -> sum(_.planningNs) / 1e9,
      "spark.aqe_replans" -> sum(_.aqe),
      "spark.codegen_compiles" -> sum(_.compiles),
      "spark.codegen_s" -> sum(_.codegenNs) / 1e9,
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.driver_only_s" -> idleSeconds(pass.startMs, pass.endMs, tasks),
      "spark.task_run_s" -> sum(_.taskRunMs) / 1e3,
      "spark.task_cpu_s" -> sum(_.taskCpuNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.occupancy" -> taskBusy / (wall * cores),
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / 1048576.0,
      "spark.shuffle_read_mb" -> sum(_.shuffleRead) / 1048576.0,
      "spark.spill_mb" -> sum(_.spill) / 1048576.0,
      "spark.persisted_rdds" -> persisted._1.toDouble,
      "spark.persist_mb" -> persisted._2,
      "join.construct_s" -> joinOps.flatMap(childOf(_, "construct")).map(_.seconds).sum,
      "join.construct_jobs" -> joinOps.flatMap(childOf(_, "construct")).map(_.c.jobs).sum.toDouble,
      "join.execute_s" -> joinOps.flatMap(childOf(_, "execute")).map(_.seconds).sum,
      "join.out_rows" -> joinOps.flatMap(childOf(_, "execute")).map(_.rows).sum.toDouble,
      "trace.unaccounted_s" -> (wall - ops.map(_.seconds).sum - reads.map(_.seconds).sum)
    ) ++ perOp ++ self.map { case (k, v) => s"self.${k.replace('.', '_')}_s" -> v }
  }
}

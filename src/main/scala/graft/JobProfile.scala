package graft
import org.apache.spark.scheduler._

/** Per-stage wall/task-time profile of one declared query: decides
  * whether time goes to scheduling, shuffle or compute before touching
  * anything.
  * Usage: runMain graft.JobProfile <sfDir> <query> [reps] */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qname = args(1)
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(cpus.toInt)

    case class St(var name: String = "", var submitted: Long = 0,
                  var completed: Long = 0, var tasks: Int = 0,
                  var taskTimeMs: Long = 0, var shuffleReadMB: Double = 0,
                  var shuffleWriteMB: Double = 0)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, St]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val st = stages.computeIfAbsent(si.stageId, _ => St())
        st.name = si.name.takeWhile(_ != '\n').take(60)
        st.submitted = si.submissionTime.getOrElse(0L)
        st.completed = si.completionTime.getOrElse(0L)
        st.tasks = si.numTasks
        st.taskTimeMs = si.taskMetrics.executorRunTime
        st.shuffleReadMB = si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6
        st.shuffleWriteMB = si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, (e.time, 0L))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, v) => (v._1, e.time))
    }
    val fn = SparkEntry.queries(qname)
    // warmup, caches left hot — the bench's own per-query methodology
    // (Bench.measure clears caches only AFTER a query's reps, so every
    // measured rep reuses the scratch caches the warmup populated)
    Bench.fullCount(fn(spark, sfDir))
    spark.sparkContext.addSparkListener(listener)
    var last = 0.0
    for (_ <- 1 to reps) {
      stages.clear(); jobs.clear()
      val t0 = System.nanoTime()
      Bench.fullCount(fn(spark, sfDir))
      last = (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    val js = jobs.asScala.toSeq.sortBy(_._1)
    println(f"%n== $qname last-rep wall ${last}%.3f s; jobs=${js.length} ==")
    js.foreach { case (id, (s, e)) => println(f"job $id%3d  ${(e - s) / 1000.0}%7.3f s") }
    println("%-5s %-7s %-6s %-9s %-9s %-9s  name".format(
      "stage", "wall_s", "tasks", "taskT_s", "shRd_MB", "shWr_MB"))
    stages.asScala.toSeq.sortBy(_._1).foreach { case (id, st) =>
      println(f"$id%-5d ${(st.completed - st.submitted) / 1000.0}%-7.3f ${st.tasks}%-6d " +
        f"${st.taskTimeMs / 1000.0}%-9.3f ${st.shuffleReadMB}%-9.2f ${st.shuffleWriteMB}%-9.2f  ${st.name}")
    }
    spark.stop()
  }
}

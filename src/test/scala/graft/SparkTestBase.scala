package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark suites. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    // local[threads, maxFailures]: 4 task attempts so DeterminismSpec can
    // inject first-attempt failures and observe the retry actually rerun;
    // tests that expect task errors to propagate still fail (after retries)
    val s = GraftSession("local[4, 4]", 4, Seq(
      "spark.app.name" -> "graft-test",
      // binaryFiles packs files into >=openCost splits; tests use KB-sized
      // fixtures, so lower it to see real multi-file parallelism in specs
      "spark.files.openCostInBytes" -> "1024"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `body`'s result and the number of Spark jobs started while it ran.
    * Listener events arrive asynchronously but in order, so a marker job
    * (told apart by its job group) runs before and after the body, and the
    * count is the job starts that arrive between the two markers' starts. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.add(Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def marker(): String = {
      val group = s"jobs-during-marker-${System.nanoTime()}"
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      group
    }
    /** Job starts before `group`'s, once it has arrived. */
    def startsBefore(group: String): Int = {
      var n = 0
      var g = starts.poll(10, TimeUnit.SECONDS)
      while (g != group) {
        require(g != null, "a marker job's start never arrived")
        n += 1
        g = starts.poll(10, TimeUnit.SECONDS)
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      startsBefore(marker())
      val out = body
      (out, startsBefore(marker()))
    } finally sc.removeSparkListener(listener)
  }
}

package graft

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
}

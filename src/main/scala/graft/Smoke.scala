package graft


/** Local smoke of the driver's t1 contract: SparkEntry.entry(spark) must
  * return rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(30, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "PASS" else "FAIL"))
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The engine's local session, shared by every main and the test suites. */
object GraftSession {

  /** Builder for `master` with `partitions` shuffle partitions and the
    * engine's settings:
    *  - UTC session time zone;
    *  - `events.parquet` carries TIMESTAMP(NANOS), read as long nanos;
    *  - a codegen class cache sized for many-operator plans: the default
    *    100 entries thrash when one heavy query generates 100+ classes, so
    *    every execution recompiled them, and each Janino compile serializes
    *    the stage's concurrent tasks on the compile-cache lock (32-thread
    *    dumps read ~19/32 task threads blocked there; OPTIMIZATION_r22.md).
    * AQE with skew-join splitting and 64 MiB advisory partitions is Spark's
    * default and is not restated. */
  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")

  /** A `local[cores]` session with the engine's optimizer rules installed
    * ([[graft.plans.BboxFastPath.install]]); `extra` settings go last. */
  def apply(cores: Int, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = builder(s"local[$cores]", cores)
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.BboxFastPath.install(spark)
    spark
  }
}

package graft

import graft.plans.{AutoSpatialJoin, BboxFastPath, ConnectedComponents, Fence, GeomSimplify}
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
  private def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")

  /** A `local[cores]` session with `cores` shuffle partitions. */
  def apply(cores: Int, extra: Seq[(String, String)] = Nil): SparkSession =
    apply(s"local[$cores]", cores, extra)

  /** A `master` session with `partitions` shuffle partitions, the engine's
    * settings and everything [[install]] adds; `extra` settings go last. */
  def apply(master: String, partitions: Int, extra: Seq[(String, String)]): SparkSession = {
    val b = builder(master, partitions)
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  /** Adds the engine's planning to a live session, once:
    *  - the optimizer rules [[BboxFastPath]], [[GeomSimplify]] and
    *    [[AutoSpatialJoin]], in that order (GeomSimplify fuses
    *    constructed-geometry join conditions to arithmetic before
    *    AutoSpatialJoin looks for the stored-geometry shape);
    *  - the strategies that plan [[Fence]] and [[ConnectedComponents]];
    *  - the SQL functions.
    * The rules go to `spark.experimental`, which runs them in Spark's
    * "User Provided Optimizers" batch, after every other operator
    * optimization; `spark.sql.extensions` would run them in the earlier
    * operator-optimization batches instead. Returns at once on a session
    * whose planner already has [[Fence.PlanFence]]. */
  def install(spark: SparkSession): Unit = synchronized {
    val x = spark.experimental
    if (!x.extraStrategies.contains(Fence.PlanFence)) {
      x.extraOptimizations = x.extraOptimizations ++ Seq(BboxFastPath, GeomSimplify, AutoSpatialJoin)
      x.extraStrategies = x.extraStrategies ++
        Seq(Fence.PlanFence, ConnectedComponents.PlanConnectedComponents)
      graft.functions.GeoFunctions.registerAll(spark)
      graft.agg.GeoAggregates.registerAll(spark)
      graft.functions.TextFunctions.registerAll(spark)
    }
  }
}

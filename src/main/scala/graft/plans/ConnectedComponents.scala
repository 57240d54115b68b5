package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge.{ofInternalRows, ofRows}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components of the pair graph `child` (`u`, `v`, neither
  * null), labeled `output` = (id, component) with component = the smallest
  * member id. Built by [[graft.ops.Dedup.connectedComponents]]; planned as
  * [[ConnectedComponentsExec]], which chooses between a bounded union-find
  * and the distributed star-contraction loop once the pairs have run, so
  * building the frame runs no Spark job.
  *
  * `u` and `v` are fields so that ColumnPruning keeps them in the child;
  * `output` is declared as produced here, not read from the child.
  * `localLimit` is the union-find guard, read from the session when the
  * frame is built. */
case class ConnectedComponents(u: Attribute, v: Attribute, output: Seq[Attribute],
                               localLimit: Long, maxIterations: Int,
                               child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): ConnectedComponents =
    copy(child = newChild)
}

object ConnectedComponents {

  /** The labeling frame (id, component) over `pairs`, whose two columns
    * (u, v) share one type and hold no nulls. Installs the engine's
    * planning, [[PlanConnectedComponents]] among it, on the session
    * ([[graft.GraftSession.install]]). */
  def apply(pairs: DataFrame, localLimit: Long, maxIterations: Int): DataFrame = {
    val spark = pairs.sparkSession
    graft.GraftSession.install(spark)
    val plan = pairs.queryExecution.analyzed
    val Seq(u, v) = plan.output
    val out = Seq(AttributeReference("id", u.dataType, nullable = false)(),
      AttributeReference("component", u.dataType, nullable = false)())
    // re-aliased, so a self-join of the result can renew the right side's
    // attributes (DeduplicateRelations renews aliases, not this node)
    ofRows(spark, ConnectedComponents(u, v, out, localLimit, maxIterations, plan))
      .select(col("id").as("id"), col("component").as("component"))
  }

  object PlanConnectedComponents extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case c: ConnectedComponents =>
        ConnectedComponentsExec(c.u, c.v, c.output, c.localLimit, c.maxIterations,
          planLater(c.child)) :: Nil
      case _ => Nil
    }
  }

  /** Union-find over long ids whose every union points the larger root at
    * the smaller, so each root is its component's minimum. */
  private[plans] final class MinRootUnionFind {
    private val parent = new scala.collection.mutable.LongMap[Long]()
    def size: Int = parent.size
    private def find(x0: Long): Long = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var c = x0
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    /** Every node followed by its root, interleaved. */
    def forest: Array[Long] = {
      val out = new Array[Long](2 * parent.size)
      var i = 0
      parent.keysIterator.foreach { k => out(i) = k; out(i + 1) = find(k); i += 2 }
      out
    }
  }

  /** Reads an integral id column as a long, and writes it back. */
  private[plans] def integral(dt: DataType): Option[((InternalRow, Int) => Long, Long => Any)] =
    dt match {
      case ByteType    => Some(((r, i) => r.getByte(i).toLong, _.toByte))
      case ShortType   => Some(((r, i) => r.getShort(i).toLong, _.toShort))
      case IntegerType => Some(((r, i) => r.getInt(i).toLong, _.toInt))
      case LongType    => Some(((r, i) => r.getLong(i), identity))
      case _           => None
    }

  /** Labels per parallelized slice of the local result: 512 KiB of longs
    * per task, under Spark's large-task warning size. */
  private[plans] val LabelsPerSlice = 1 << 15

  /** Distributed alternating large-star / small-star contraction (Kiveris
    * et al. 2014) over `init`'s (u, v) pairs, as DataFrame rounds: the path
    * for graphs past the union-find guard and for non-integral ids. Returns
    * the (id, component) labeling and the rounds it ran. */
  private[plans] def componentsLoop(init: DataFrame, maxIterations: Int): (DataFrame, Int) = {
    val sc = init.sparkSession.sparkContext
    // localCheckpoint registers its materialized RDD in the persistent-RDD
    // registry; snapshot the registry around the call so the blocks can be
    // dropped once the next round supersedes them
    def checkpointTracked(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint()
      (out, sc.getPersistentRDDs.collect { case (k, r) if !before(k) => r }.toSeq)
    }
    // keep self-loops out of the star steps but their nodes in the output
    val nodes = init.select(explode(array(col("u"), col("v"))).as("id")).distinct()
    var (edges, edgeRdds) = checkpointTracked(
      init.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct())
    var edgeCount = edges.count()
    var converged = edgeCount == 0L
    var it = 0
    while (!converged && it < maxIterations) {
      // large-star: for each node u, link every strictly-larger neighbor to
      // the minimum of its neighborhood (including u itself)
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val largeMin = sym.groupBy(col("u")).agg(min(col("v")).as("__nm"))
      val large = sym.join(largeMin, Seq("u"))
        .withColumn("__m", least(col("__nm"), col("u")))
        .filter(col("v") > col("u"))
        .select(greatest(col("v"), col("__m")).as("u"), least(col("v"), col("__m")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: edges already point (larger -> smaller); link each
      // smaller neighbor AND u itself to the minimum smaller neighbor
      val smallMin = large.groupBy(col("u")).agg(min(col("v")).as("__m"))
      val (small, smallRdds) = checkpointTracked(
        large.join(smallMin, Seq("u")).select(col("v").as("u"), col("__m").as("v"))
          .union(smallMin.select(col("u"), col("__m").as("v")))
          .filter(col("u") =!= col("v"))
          .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
          .distinct())
      // both sides are distinct (u, v) sets: same count + nothing in
      // small∖edges ⇒ equal sets; the count gate skips exceptAll whenever
      // the edge set is still shrinking
      val smallCount = small.count()
      converged = smallCount == edgeCount && small.exceptAll(edges).isEmpty
      edgeRdds.foreach(_.unpersist(blocking = false))
      edges = small; edgeRdds = smallRdds; edgeCount = smallCount
      it += 1
    }
    if (!converged)
      System.err.println(s"[graft] connectedComponents: no fixpoint after $maxIterations rounds" +
        " — labels fall back to min-known-root per node (coarser clusters possible)")
    // fixpoint edges form stars (child -> root); aggregate min-per-node so a
    // non-converged residual (multiple edges per u) still yields exactly one
    // label per node. Roots and isolated nodes (self-loop-only inputs) label
    // themselves.
    val roots = edges.groupBy(col("u").as("id")).agg(min(col("v")).as("__root"))
    (nodes.join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("component")), it)
  }
}

/** Plans [[ConnectedComponents]]. For integral ids, one job runs a
  * min-root union-find in each partition of the pairs; a partition that
  * holds more than `localLimit` nodes gives up, which bounds task memory.
  * One task merges the partitions' star forests with the same union-find
  * and gives up past `localLimit` nodes too; the driver parallelizes the
  * merged labels. Past the guard, the star-contraction loop runs over the
  * pairs and its result is this node's output. Both paths label every node
  * with its component's smallest id. */
case class ConnectedComponentsExec(u: Attribute, v: Attribute, output: Seq[Attribute],
                                   localLimit: Long, maxIterations: Int,
                                   child: SparkPlan) extends UnaryExecNode {
  import ConnectedComponents._

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "localLabels" -> SQLMetrics.createMetric(sparkContext, "labels from the local union-find"),
    "loopRounds" -> SQLMetrics.createMetric(sparkContext, "star-contraction rounds"))

  override protected def withNewChildInternal(newChild: SparkPlan): ConnectedComponentsExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val ui = child.output.indexWhere(_.exprId == u.exprId)
    val vi = child.output.indexWhere(_.exprId == v.exprId)
    val pairs = child.execute()
    val local = integral(u.dataType).flatMap { case (read, write) =>
      unionFindLabels(pairs, read, ui, vi).map(labels => (labels, write))
    }
    val out: RDD[InternalRow] = local match {
      case Some((labels, write)) =>
        longMetric("localLabels").set(labels.length / 2L)
        val slices = labels.grouped(2 * LabelsPerSlice).toSeq
        val types = output.map(_.dataType)
        sparkContext.parallelize(slices, math.max(slices.size, 1)).mapPartitions[InternalRow] { it =>
          val proj = UnsafeProjection.create(types.toArray)
          val row = new GenericInternalRow(2)
          it.flatMap(s => Iterator.range(0, s.length, 2).map { i =>
            row.update(0, write(s(i))); row.update(1, write(s(i + 1))); proj(row)
          })
        }
      case None =>
        val schema = StructType(Seq(StructField("u", u.dataType, u.nullable),
          StructField("v", v.dataType, v.nullable)))
        val (attrs, in) = (Seq(u, v), child.output)
        val uv = pairs.mapPartitions[InternalRow] { it =>
          val proj = UnsafeProjection.create(attrs, in)
          it.map(proj)
        }
        val (labels, rounds) = componentsLoop(ofInternalRows(session, uv, schema), maxIterations)
        longMetric("loopRounds").set(rounds.toLong)
        labels.queryExecution.toRdd
    }
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    out
  }

  /** The merged star forest, or None once a partition or the merge holds
    * more than `localLimit` nodes. The merge runs in one task after a
    * shuffle, so the driver receives at most `localLimit` labels however
    * many partitions the pairs have. */
  private def unionFindLabels(pairs: RDD[InternalRow], read: (InternalRow, Int) => Long,
                              ui: Int, vi: Int): Option[Array[Long]] = {
    val limit = localLimit
    pairs.mapPartitions { rows =>
      val uf = new MinRootUnionFind
      var within = true
      while (within && rows.hasNext) {
        val r = rows.next()
        uf.union(read(r, ui), read(r, vi))
        within = uf.size <= limit
      }
      Iterator.single(if (within) Some(uf.forest) else None)
    }.repartition(1).mapPartitions { forests =>
      val uf = new MinRootUnionFind
      var within = true
      while (within && forests.hasNext) forests.next() match {
        case Some(f) =>
          Iterator.range(0, f.length, 2).foreach(i => uf.union(f(i), f(i + 1)))
          within = uf.size <= limit
        case None => within = false
      }
      Iterator.single(if (within) Some(uf.forest) else None)
    }.collect().head
  }
}

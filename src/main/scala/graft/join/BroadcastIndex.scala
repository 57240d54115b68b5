package graft.join

import graft.geom.Wkb
import java.io.{ByteArrayInputStream, DataInputStream, DataOutputStream, OutputStream, SequenceInputStream}
import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GeneratorOuter, JoinedRow, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SQLExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructType}
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** The build side of a broadcast join: its rows, collected once as internal
  * rows, and an STRtree over their geometries. GeoPandas caches the tree on
  * the array (`array.py:374-379`); here the tree, the decoded geometries and
  * the prepared geometries are transient lazy values of the broadcast value,
  * which Spark deserializes once per executor JVM, so each JVM builds them
  * once. */
private[graft] final class BroadcastIndex(val schema: StructType, val rows: Array[InternalRow],
                                          geomOrdinal: Int) extends Serializable {

  /** Each row's geometry, null where the row has none. */
  @transient lazy val geom: Array[Geometry] =
    rows.map(r => if (r.isNullAt(geomOrdinal)) null else Wkb.read(r.getBinary(geomOrdinal)))

  @transient private lazy val tree: STRtree = {
    val t = new STRtree()
    var i = 0
    while (i < geom.length) {
      if (geom(i) != null && !geom(i).isEmpty) t.insert(geom(i).getEnvelopeInternal, Integer.valueOf(i))
      i += 1
    }
    t.build()
    t
  }

  @transient private lazy val prep = new java.util.concurrent.ConcurrentHashMap[Int, PreparedGeometry]()

  private def prepared(i: Int): PreparedGeometry =
    prep.computeIfAbsent(i, (k: Int) => PreparedGeometryFactory.prepare(geom(k)))

  /** Positions of the rows whose geometry satisfies `pred` against `g`, with
    * the build geometry prepared; `buildIsRight` as in
    * [[SpatialJoin.evalWithPrepared]]. */
  def matching(pred: String, g: Geometry, buildIsRight: Boolean, distance: Double): Array[Int] = {
    val env = new Envelope(g.getEnvelopeInternal)
    if (pred == "dwithin") env.expandBy(distance)
    val cands = tree.query(env)
    val out = Array.newBuilder[Int]
    var i = 0
    while (i < cands.size()) {
      val pos = cands.get(i).asInstanceOf[Integer].intValue()
      if (SpatialJoin.evalWithPrepared(pred, prepared(pos), geom(pos), g, buildIsRight, distance)) out += pos
      i += 1
    }
    out.result()
  }

  /** Positions of the rows nearest to `g` within `maxDistance`, every tie
    * kept, and their distance. An expanding-ring search: it stops once the
    * best hit lies inside the searched ring (nothing outside can be
    * closer), the ring reaches `maxDistance`, or it covers the whole tree.
    * `exclusive` skips build geometries equal to `g`. */
  def nearest(g: Geometry, maxDistance: Double, exclusive: Boolean): (Array[Int], Double) =
    if (tree.isEmpty) (Array.emptyIntArray, Double.PositiveInfinity)
    else {
      val rootEnv = tree.getRoot.getBounds.asInstanceOf[Envelope]
      val span = math.max(rootEnv.getWidth, rootEnv.getHeight)
      // the first ring reaches the build extent, even for a far-away stream
      // row or a degenerate extent, padded by the expected spacing
      val toRoot = g.getEnvelopeInternal.distance(rootEnv)
      var radius = math.max(1e-9, math.min(maxDistance, toRoot + math.max(1e-9, span / 64)))
      var best = Double.PositiveInfinity
      var done = false
      val cands = new scala.collection.mutable.ArrayBuffer[(Int, Double)]()
      while (!done) {
        val env = new Envelope(g.getEnvelopeInternal)
        env.expandBy(radius)
        val hits = tree.query(env)
        cands.clear()
        var i = 0
        while (i < hits.size()) {
          val pos = hits.get(i).asInstanceOf[Integer].intValue()
          val d = g.distance(geom(pos))
          if (d <= maxDistance && !(exclusive && d == 0.0 && g.equalsTopo(geom(pos)))) {
            if (d < best) best = d
            cands += ((pos, d))
          }
          i += 1
        }
        if (best <= radius || radius >= maxDistance || env.contains(rootEnv)) done = true
        else radius = radius * 4
      }
      (cands.iterator.collect { case (pos, d) if d == best => pos }.toArray, best)
    }
}

private[graft] object BroadcastIndex {

  /** `build` collected as internal rows and broadcast as an index on its
    * `geom` column, or None when it has more than `cap` rows or more
    * compressed bytes than a collect may ship ([[resultBudget]]), and, with
    * no job, when `cap < 0`. */
  def upTo(build: DataFrame, geom: String, cap: Long): Option[Broadcast[BroadcastIndex]] =
    collectUpTo(build, cap).map(rows => build.sparkSession.sparkContext.broadcast(
      new BroadcastIndex(build.schema, rows, build.schema.fieldIndex(geom))))

  /** `df`'s rows if it has at most `cap` of them and their compressed
    * bytes at most `maxBytes`, else None; a negative `cap` runs no job and
    * returns None. The size test and the collect are one SQL execution of
    * one job. Each task compresses its partition's rows as
    * `SparkPlan.executeCollect` ships them and stops at `cap + 1` rows or
    * past `maxBytes` bytes, returning only an overflow mark (null). The
    * driver keeps the tasks' bytes while their running totals are within
    * `cap` rows and `maxBytes` bytes; once either passes, the driver drops
    * them and cancels the job. So a task holds at most about `maxBytes`
    * compressed bytes and no row copies, the driver about `maxBytes` bytes
    * and, decoded, at most `cap` rows, and a large side costs one
    * short-circuited task per partition. A plan that is already a local
    * table is read on the driver with no job. */
  def collectUpTo(df: DataFrame, cap: Long): Option[Array[InternalRow]] =
    collectUpTo(df, cap, resultBudget(df.sparkSession.sparkContext.getConf))

  def collectUpTo(df: DataFrame, cap: Long, maxBytes: Long): Option[Array[InternalRow]] =
    if (cap < 0) None
    else {
      val qe = df.queryExecution
      qe.executedPlan match {
        case local: LocalTableScanExec => Some(local.executeCollect()).filter(_.length <= cap)
        case plan => SQLExecution.withNewExecutionId(qe, Some("collect"))(boundedCollect(plan, cap, maxBytes))
      }
    }

  /** The compressed bytes a bounded collect may ship. Spark adds each task
    * result to a running total and fails the job once it passes
    * `spark.driver.maxResultSize`, before the result handler sees that
    * result, and up to `spark.resultGetter.threads` results can be between
    * that check and the handler. With every task and the handled total
    * within this budget, the check cannot fail before the handler has seen
    * the overflow; past it the side takes the grid path. */
  private[graft] def resultBudget(conf: SparkConf): Long = {
    val max = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val threads = conf.getInt("spark.resultGetter.threads", 4)
    if (max > 0) max / (threads + 2) else Long.MaxValue
  }

  private def boundedCollect(plan: SparkPlan, cap: Long, maxBytes: Long): Option[Array[InternalRow]] = {
    val rdd = plan.execute()
    val perTask = if (cap == Long.MaxValue) cap else cap + 1
    val held = new Array[Array[Array[Byte]]](rdd.getNumPartitions)
    var rows = 0L
    var bytes = 0L
    val overflow = Promise[Unit]()
    // the handler runs on the scheduler's thread, one task result at a time
    val job = rdd.sparkContext.submitJob(rdd,
      (it: Iterator[InternalRow]) => encode(it, perTask, maxBytes),
      0 until rdd.getNumPartitions,
      (i: Int, part: (Long, Array[Array[Byte]])) =>
        if (!overflow.isCompleted) {
          val partBytes = if (part == null) 0L else part._2.iterator.map(_.length.toLong).sum
          if (part != null && rows + part._1 <= cap && bytes + partBytes <= maxBytes) {
            held(i) = part._2; rows += part._1; bytes += partBytes
          } else { java.util.Arrays.fill(held.asInstanceOf[Array[AnyRef]], null); overflow.trySuccess(()) }
        },
      ())
    Await.ready(Future.firstCompletedOf(Seq(job, overflow.future))(ExecutionContext.parasitic), Duration.Inf)
    if (overflow.isCompleted) {
      job.cancel()
      Await.ready(job, Duration.Inf)
      None
    } else {
      Await.result(job, Duration.Inf) // rethrows a failed job's exception as a collect would
      val out = ArrayBuffer.empty[InternalRow]
      held.foreach(decode(_, plan.output.length, out))
      Some(out.toArray)
    }
  }

  /** Fewer than `maxRows` rows of a partition with their count, compressed
    * as `SparkPlan.executeCollect` ships them: each row's size and bytes,
    * then -1. Null, the overflow mark, once the partition reaches `maxRows`
    * rows or its bytes pass `maxBytes`. */
  private def encode(it: Iterator[InternalRow], maxRows: Long, maxBytes: Long): (Long, Array[Array[Byte]]) = {
    val bytes = new ChunkedBytes
    val out = new DataOutputStream(GraftColumnBridge.compressionCodec(SparkEnv.get.conf).compressedOutputStream(bytes))
    val buffer = new Array[Byte](4 << 10)
    var n = 0L
    while (n < maxRows && bytes.size <= maxBytes && it.hasNext) {
      val row = it.next().asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buffer)
      n += 1
    }
    out.writeInt(-1)
    out.close()
    if (n < maxRows && bytes.size <= maxBytes) (n, bytes.chunks) else null
  }

  private def decode(chunks: Array[Array[Byte]], nFields: Int, out: ArrayBuffer[InternalRow]): Unit = {
    val in = new DataInputStream(GraftColumnBridge.compressionCodec(SparkEnv.get.conf).compressedInputStream(
      new SequenceInputStream(chunks.iterator.map(c => new ByteArrayInputStream(c): java.io.InputStream).asJavaEnumeration)))
    var size = in.readInt()
    while (size >= 0) {
      val b = new Array[Byte](size)
      in.readFully(b)
      val row = new UnsafeRow(nFields)
      row.pointTo(b, size)
      out += row
      size = in.readInt()
    }
    in.close()
  }

  /** Bytes written into chunks of 256 KiB, so a growing task result is
    * never copied whole, as a `ByteArrayOutputStream` copies it on each
    * doubling, and no chunk is a G1 humongous object (half a region: 512 KiB
    * at the smallest), which takes whole regions. */
  private final class ChunkedBytes extends OutputStream {
    private val full = ArrayBuffer.empty[Array[Byte]]
    private var chunk = new Array[Byte](1 << 18)
    private var pos = 0

    def size: Long = full.length.toLong * chunk.length + pos

    /** The bytes written, the last chunk trimmed. */
    def chunks: Array[Array[Byte]] = (full :+ java.util.Arrays.copyOf(chunk, pos)).toArray

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      while (o < off + len) {
        if (pos == chunk.length) { full += chunk; chunk = new Array[Byte](chunk.length); pos = 0 }
        val n = math.min(off + len - o, chunk.length - pos)
        System.arraycopy(b, o, chunk, pos, n)
        pos += n
        o += n
      }
    }
  }
}

/** The broadcast join's probe: a generator that looks the stream row's
  * geometry up in a [[BroadcastIndex]] and emits each matching build row,
  * so Spark's `Generate` places the build columns after the stream columns
  * and no join is needed afterwards. Wrapped in `GeneratorOuter`, `Generate`
  * null-extends a stream row with no match. The plan string names the
  * search and the build row count, so the plan shows which strategy ran. */
private[graft] case class BroadcastProbe(child: Expression, index: Broadcast[BroadcastIndex],
                                         search: BroadcastProbe.Search)
    extends UnaryExpression with Generator with CodegenFallback {
  import BroadcastProbe._

  @transient private lazy val idx = index.value

  override def elementSchema: StructType = search match {
    case Nearest(_, _, distanceCol) => idx.schema.add(distanceCol, DoubleType, nullable = false)
    case _: Predicate               => idx.schema
  }

  // a Seq, not an Iterator: GenerateExec iterates an outer row's result twice
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val wkb = child.eval(input).asInstanceOf[Array[Byte]]
    if (wkb == null) Nil
    else search match {
      case Predicate(pred, buildIsRight, distance) =>
        idx.matching(pred, Wkb.read(wkb), buildIsRight, distance).toSeq.map(idx.rows(_))
      case Nearest(maxDistance, exclusive, _) =>
        val (hits, d) = idx.nearest(Wkb.read(wkb), maxDistance, exclusive)
        val dist = InternalRow(d)
        hits.toSeq.map(i => new JoinedRow(idx.rows(i), dist))
    }
  }

  override def toString: String = s"broadcast_probe($search, ${idx.rows.length} build rows, $child)"

  override protected def withNewChildInternal(newChild: Expression): BroadcastProbe = copy(child = newChild)
}

private[graft] object BroadcastProbe {

  sealed trait Search extends Serializable

  /** The build rows whose geometry satisfies `predicate`. */
  final case class Predicate(predicate: String, buildIsRight: Boolean, distance: Double) extends Search {
    override def toString: String = if (predicate == "dwithin") s"dwithin $distance" else predicate
  }

  /** The nearest build rows, ties kept, each followed by its distance. */
  final case class Nearest(maxDistance: Double, exclusive: Boolean, distanceCol: String) extends Search {
    override def toString: String =
      (if (exclusive) "exclusive " else "") + "nearest" +
        (if (maxDistance.isInfinite) "" else s" within $maxDistance")
  }

  /** `stream` with the build rows that `search` finds for its `geom`
    * column appended, one output row per match; with `outer`, a stream row
    * with no match is kept once, its build columns null. */
  def join(stream: DataFrame, geom: String, index: Broadcast[BroadcastIndex], search: Search,
           outer: Boolean): DataFrame = {
    val probe = BroadcastProbe(expression(col(geom)), index, search)
    stream.select(col("*"), column(if (outer) GeneratorOuter(probe) else probe))
  }
}

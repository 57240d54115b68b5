package graft.streaming

import graft.plans.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Stream-static as-of enrichment — the streaming face of
  * [[graft.ops.TemporalJoin.asofJoin]] (SURVEY §2.12, beyond-reference).
  *
  * The batch as-of is a union + window, which streaming cannot run (window
  * functions over an unbounded stream are unsupported in append mode).
  * For the shape that actually streams — events enriched against a
  * DIMENSION-SIZED reference history (rate tables, config versions,
  * benchmark snapshots) — the right side is bounded, so: collect it once
  * into per-key ts-sorted arrays, broadcast, binary-search per event (a
  * deterministic scalar UDF, append-mode-safe, no state store), then
  * re-attach the payload via an exact (key, ts) broadcast equi-join.
  * Per-event cost is O(log n); the stream never shuffles.
  *
  * Works identically on a batch left side (the UDF path is an alternative
  * to the window core when the right side is tiny and the left is huge —
  * no Exchange at all on the left).
  */
object StreamingTemporal {

  /** For each (possibly streaming) left row: the single static row sharing
    * the `by` keys with the largest `rightTs <= leftTs`
    * (`direction = "backward"`; `"forward"` = smallest `>=`), optionally
    * within `tolerance`. Ties match. `how = "left"` null-extends,
    * `"inner"` drops unmatched. Output: left columns, then static columns
    * except `by`, prefixed with `rightPrefix`.
    *
    * The static side is collected and broadcast — `maxStaticRows` fails
    * loudly before an oversized reference OOMs the driver. Duplicate
    * (`by`, `rightTs`) static rows have no defined winner (one survives,
    * arbitrarily). Null static ts rows never match. */
  def asofLookup(stream: DataFrame, static: DataFrame,
                 leftTs: String, rightTs: String,
                 by: Seq[String] = Nil,
                 direction: String = "backward",
                 tolerance: Option[Long] = None,
                 how: String = "left",
                 rightPrefix: String = "r_",
                 maxStaticRows: Long = 2000000L): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward; got $direction")
    require(how == "left" || how == "inner", s"how must be left|inner; got $how")
    val spark = static.sparkSession
    val sign = if (direction == "backward") 1L else -1L
    static.columns.filterNot(by.contains).foreach { c =>
      require(!stream.columns.contains(s"$rightPrefix$c"),
        s"output column collision: stream already has $rightPrefix$c")
    }
    for (df <- Seq(stream, static); c <- Seq("__lt", "__mt", "__ok"))
      require(!df.columns.contains(c), s"input must not carry reserved column $c")

    // exact integral time domain only: a fractional ts would silently
    // TRUNCATE here (the broadcast index is Array[Long]) and diverge from
    // asofJoin's exact pass-through — fail loudly instead
    def norm(df: DataFrame, c: String): Column = df.schema(c).dataType match {
      case TimestampType    => unix_micros(col(c))
      case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        col(c).cast(LongType)
      case dt => throw new IllegalArgumentException(
        s"asofLookup needs an integral or timestamp ts column; $c is $dt " +
          "(fractional timestamps would truncate in the broadcast index)")
    }
    // injective key encoding: each component is length-prefixed (so values
    // containing any would-be separator cannot bleed across components) and
    // null gets a sentinel no encoded value starts with — concat_ws would
    // SKIP nulls, colliding (null) with ("") and ('a', null) with (null, 'a'),
    // and the strict payload re-attach would then miss (round-17 advice)
    def encOne(c: Column): Column = {
      val s = c.cast("string")
      when(s.isNull, lit("N")).otherwise(concat(lit("V"), length(s).cast("string"), lit(":"), s))
    }
    def keyOf(cols: Seq[Column]): Column =
      if (cols.isEmpty) lit("") else concat(cols.map(encOne): _*)

    // one arbitrary survivor per (key, ts) so the payload re-attach can't
    // duplicate stream rows; the limit guard short-circuits oversized refs
    val staticDedup = static
      .filter(norm(static, rightTs).isNotNull)
      .dropDuplicates(by :+ rightTs)
    val upTo = staticDedup.limit(math.min(maxStaticRows + 1, Int.MaxValue - 1L).toInt).count()
    require(upTo <= maxStaticRows,
      s"asofLookup broadcasts the static side, which exceeds maxStaticRows=$maxStaticRows")
    val collected = staticDedup
      .select(keyOf(by.map(col)).as("k"), (norm(staticDedup, rightTs) * sign).as("t"))
      .collect()
    val index: Map[String, Array[Long]] = collected
      .groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.map(_.getLong(1)).sorted }
    val bIndex = spark.sparkContext.broadcast(index)

    // largest stored t' <= t on the signed axis (binary search, ties match)
    val lookup = udf { (k: String, t: java.lang.Long) =>
      if (t == null) null
      else bIndex.value.get(k) match {
        case None => null
        case Some(arr) =>
          var lo = 0; var hi = arr.length - 1; var ans = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (arr(mid) <= t) { ans = mid; lo = mid + 1 } else hi = mid - 1
          }
          if (ans < 0) null else java.lang.Long.valueOf(arr(ans))
      }
    }

    val lSigned = (norm(stream, leftTs) * sign).as("__lt")
    // fenced: the inner filter on __ok reads the looked-up column instead of
    // running the lookup a second time
    val withMatch = Fence(stream
      .withColumn("__lt", lSigned)
      .withColumn("__mt", lookup(keyOf(by.map(col)), col("__lt"))))
    val tolOk = tolerance match {
      case None      => col("__mt").isNotNull
      case Some(tol) => col("__mt").isNotNull && (col("__lt") - col("__mt")) <= lit(tol)
    }
    val flagged = withMatch.withColumn("__ok", coalesce(tolOk, lit(false)))
    val base = if (how == "inner") flagged.filter(col("__ok")) else flagged
    val rPayload = static.columns.filterNot(by.contains).toIndexedSeq
    val staticP = staticDedup.select(
      (by.map(col) :+ (norm(staticDedup, rightTs) * sign).as("__mt")) ++
        rPayload.map(c => col(c).as(s"$rightPrefix$c")): _*)
    // null-safe (<=>) on the by keys so a null-key match re-attaches its
    // payload (mirroring the lookup's null-matches-null semantics); the
    // matched-ts join stays strict (null __mt = no match = no payload)
    val matchedT = base.withColumn("__mt", when(col("__ok"), col("__mt")))
    val joinCond = by.map(c => matchedT(c) <=> staticP(c))
      .foldLeft(matchedT("__mt") === staticP("__mt"))(_ && _)
    val joined = matchedT.join(broadcast(staticP), joinCond, "left")
    // dataset-qualified projection: the expression join keeps both sides'
    // by columns, so bare names would be ambiguous
    joined.select(
      stream.columns.toIndexedSeq.map(c => matchedT(c).as(c)) ++
        rPayload.map(c => staticP(s"$rightPrefix$c").as(s"$rightPrefix$c")): _*)
  }
}

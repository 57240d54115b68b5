package graftbench

import scala.collection.mutable

import graft.geom.Wkb
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.PreparedGeometryFactory

/** Order-insensitive result fingerprint: row count, a wrapping sum of a
  * 64-bit hash of every row's non-geometry columns, and the summed area of
  * the geometry column. Constructive ops union their inputs in shuffle
  * arrival order, so their output vertices may legally differ in the last
  * bit from run to run; the area sum is compared with a tolerance instead
  * of hashing those bytes. */
final case class Fp(rows: Long, hash: Long, area: Double) {
  def matches(o: Fp): Boolean =
    rows == o.rows && hash == o.hash &&
      math.abs(area - o.area) <= 1e-9 * math.max(1.0, math.abs(o.area))
  def json: String = s"""{"rows":$rows,"hash":$hash}"""
}

/** Rows of a result to keep for the correctness checks: those whose `key`
  * column holds one of `keys` (Long or String values), projected to `cols`. */
final case class Tap(key: String, keys: Set[Any], cols: Seq[String])

object Fp {
  /** Executes the full physical plan of `df` (like `graft.Bench.fullCount`)
    * and fingerprints every row. `areaCol` names a geometry column to
    * compare by area; every other column is hashed exactly. */
  def of(df: DataFrame, areaCol: Option[String]): Fp = tapped(df, areaCol, None)._1

  /** As [[of]], and in the same execution also returns the rows `tap`
    * selects, so the checks see the measured pass's own output. Values come
    * back as Long, Int, Double, String or Array[Byte]. */
  def tapped(df: DataFrame, areaCol: Option[String], tap: Option[Tap]): (Fp, Seq[Seq[Any]]) = {
    val schema = df.schema
    val gi = areaCol.map(schema.fieldIndex).getOrElse(-1)
    val keep = schema.fields.indices.filter(_ != gi)
      .map(i => BoundReference(i, schema(i).dataType, schema(i).nullable))
    val ki = tap.map(t => schema.fieldIndex(t.key)).getOrElse(-1)
    val keys: Set[Any] = tap.map(_.keys.map {
      case s: String => UTF8String.fromString(s)
      case k => k
    }).getOrElse(Set.empty)
    val cols = tap.map(_.cols.map(c => (schema.fieldIndex(c), schema(c).dataType))).getOrElse(Nil)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(keep)
      val kept = mutable.ArrayBuffer.empty[Seq[Any]]
      var n = 0L; var h = 0L; var a = 0.0
      while (it.hasNext) {
        val r = it.next()
        val ur = proj(r)
        val h1 = Murmur3_x86_32.hashUnsafeBytes(ur.getBaseObject, ur.getBaseOffset, ur.getSizeInBytes, 42)
        val h2 = Murmur3_x86_32.hashUnsafeBytes(ur.getBaseObject, ur.getBaseOffset, ur.getSizeInBytes, 0x5bd1e995)
        h += (h1.toLong << 32) | (h2 & 0xffffffffL)
        n += 1
        if (gi >= 0 && !r.isNullAt(gi)) a += Wkb.read(r.getBinary(gi)).getArea
        if (ki >= 0 && !r.isNullAt(ki) && keys.contains(r.get(ki, schema(ki).dataType)))
          kept += cols.map { case (i, t) =>
            if (r.isNullAt(i)) null
            else t match {
              case StringType => r.getUTF8String(i).toString
              case BinaryType => r.getBinary(i).clone()
              case _          => r.get(i, t)
            }
          }
      }
      Iterator((n, h, a, kept.toSeq))
    }.collect()
    (Fp(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum), parts.toSeq.flatMap(_._4))
  }
}

/** Correctness checks over results collected from the program. Each returns
  * the failures it found (empty = pass), and each is a pure function so the
  * self-test can feed it a deliberately corrupted result. */
object Checks {

  private def relClose(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Brute-force `intersects` of each probe point against every polygon,
    * with a plain JTS envelope test first. */
  def bruteForcePairs(points: Seq[(Long, Geometry)], polys: Seq[(Long, Geometry)]): Set[(Long, Long)] = {
    val prepared = polys.map { case (id, g) => (id, g.getEnvelopeInternal, PreparedGeometryFactory.prepare(g)) }
    points.flatMap { case (pid, p) =>
      val e = p.getEnvelopeInternal
      prepared.collect { case (id, env, pg) if env.intersects(e) && pg.intersects(p) => (pid, id) }
    }.toSet
  }

  /** Matched pairs of an inner join against the brute-force set. */
  def pairs(what: String, expected: Set[(Long, Long)], got: Seq[(Long, Long)]): Seq[String] = {
    val gotSet = got.toSet
    val dup = got.size - gotSet.size
    val missing = expected -- gotSet
    val extra = gotSet -- expected
    (if (missing.nonEmpty) Seq(s"$what: ${missing.size} expected pairs missing, e.g. ${missing.head}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"$what: ${extra.size} unexpected pairs, e.g. ${extra.head}") else Nil) ++
      (if (dup > 0) Seq(s"$what: $dup duplicated pairs") else Nil)
  }

  /** Per-group count and sum of an inner join's aggregate against the
    * brute-force pairs: `expected` maps each sampled group that has at least
    * one match to (count, sum); groups without a match must be absent. */
  def groupCounts(what: String, expected: Map[Long, (Long, Long)], got: Seq[(Long, Long, Long)]): Seq[String] = {
    val g = got.map(r => r._1 -> (r._2, r._3)).toMap
    val dup = got.size - g.size
    val missing = expected.keySet -- g.keySet
    val extra = g.keySet -- expected.keySet
    val wrong = expected.toSeq.collect { case (k, v) if g.get(k).exists(_ != v) => s"$what: group $k has (count, sum) ${g(k)}, expected $v" }
    (if (missing.nonEmpty) Seq(s"$what: ${missing.size} groups missing, e.g. ${missing.head}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"$what: ${extra.size} groups without a match present, e.g. ${extra.head}") else Nil) ++
      (if (dup > 0) Seq(s"$what: $dup groups appear more than once") else Nil) ++ wrong.take(5)
  }

  /** A left join keeps every probe once with no match (`None`), or once per
    * match. */
  def leftPairs(what: String, probes: Set[Long], expected: Set[(Long, Long)],
                got: Seq[(Long, Option[Long])]): Seq[String] = {
    val matched = expected.map(_._1)
    val wantUnmatched = probes -- matched
    val gotUnmatched = got.collect { case (p, None) => p }
    val errs = pairs(what, expected, got.collect { case (p, Some(r)) => (p, r) })
    val unmatchedErr =
      if (gotUnmatched.size != wantUnmatched.size || gotUnmatched.toSet != wantUnmatched)
        Seq(s"$what: ${wantUnmatched.size} probes without a match expected once as null rows, got ${gotUnmatched.size}")
      else Nil
    val strays = got.map(_._1).toSet -- probes
    errs ++ unmatchedErr ++ (if (strays.nonEmpty) Seq(s"$what: rows for ${strays.size} unknown probes") else Nil)
  }

  /** For each left polygon A: area(A ∩ coverage) + area(A − coverage) = area(A).
    * Holds because the right layer is a coverage (no overlaps). */
  def areaIdentity(areaA: Map[Long, Double], inter: Seq[(Long, Double)], diff: Seq[(Long, Double)]): Seq[String] = {
    val i = inter.groupMapReduce(_._1)(_._2)(_ + _)
    val d = diff.groupMapReduce(_._1)(_._2)(_ + _)
    val dDup = diff.size - d.size
    areaA.toSeq.flatMap { case (id, a) =>
      val sum = i.getOrElse(id, 0.0) + d.getOrElse(id, 0.0)
      if (relClose(sum, a, 1e-6)) Nil
      else Seq(f"overlay: polygon $id area(A∩B)+area(A−B) = $sum%.6f, area(A) = $a%.6f")
    }.take(5) ++ (if (dDup > 0) Seq(s"overlay difference: $dDup polygons appear more than once") else Nil)
  }

  /** Dissolved area of each group against the JTS union of its members. */
  def dissolveAreas(expected: Map[String, Double], got: Map[String, Double]): Seq[String] =
    expected.toSeq.flatMap { case (k, a) =>
      got.get(k) match {
        case Some(g) if relClose(g, a, 1e-6) => Nil
        case Some(g) => Seq(f"dissolve: group $k area $g%.6f, JTS union area $a%.6f")
        case None    => Seq(s"dissolve: group $k missing")
      }
    }

  /** Clip output for sampled source polygons `src` (by id): every source
    * that intersects the mask appears exactly once, and no other; each
    * piece has the area of plain JTS `src ∩ mask`, lies inside the mask and
    * inside its source, and no piece's area exceeds the mask area. */
  def clip(mask: Geometry, src: Map[Long, Geometry], got: Seq[(Long, Geometry)]): Seq[String] = {
    val maskArea = mask.getArea
    val want = src.collect { case (k, g) if g.intersects(mask) => k }.toSet
    val gotIds = got.map(_._1)
    val dup = gotIds.size - gotIds.toSet.size
    val missing = want -- gotIds
    val extra = gotIds.toSet -- want
    val rows = got.filter { case (k, _) => want(k) }.flatMap { case (k, clipped) =>
      val a = clipped.getArea
      val jts = src(k).intersection(mask).getArea
      val outside = clipped.difference(mask).getArea
      val outsideSrc = clipped.difference(src(k)).getArea
      if (!relClose(a, jts, 1e-6)) Seq(f"clip: polygon $k clipped area $a%.6f, JTS src ∩ mask area $jts%.6f")
      else if (a > maskArea * (1 + 1e-9)) Seq(f"clip: polygon $k area $a%.6f exceeds mask area $maskArea%.6f")
      else if (outside > 1e-6 * math.max(1.0, a)) Seq(f"clip: $outside%.6f of polygon $k's piece lies outside the mask")
      else if (outsideSrc > 1e-6 * math.max(1.0, a)) Seq(f"clip: $outsideSrc%.6f of polygon $k's piece lies outside its source")
      else Nil
    }
    (if (missing.nonEmpty) Seq(s"clip: ${missing.size} polygons that intersect the mask are missing, e.g. ${missing.head}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"clip: ${extra.size} rows for polygons that miss the mask or were not sampled, e.g. ${extra.head}") else Nil) ++
      (if (dup > 0) Seq(s"clip: $dup polygons appear more than once") else Nil) ++
      rows.take(5)
  }

  /** Fingerprint against an expected one. */
  def fingerprint(what: String, expected: Fp, got: Fp): Seq[String] =
    if (got.matches(expected)) Nil else Seq(s"$what: fingerprint $got, expected $expected")
}

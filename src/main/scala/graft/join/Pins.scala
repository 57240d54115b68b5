package graft.join

import graft.plans.Fence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LocalRelation, LogicalPlan, Project, SubqueryAlias, Union}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

/** `monotonically_increasing_id` stamps are only stable across the two
  * evaluations a join/overlay plan makes of them when the upstream plan
  * re-evaluates identically: same rows, same partition assignment, same
  * within-partition order. That holds for scan-rooted plans made of
  * deterministic projections and filters — but NOT once a shuffle (join,
  * aggregate, repartition, window, sort), a sample, or a non-deterministic
  * expression is involved, because reduce-side row order depends on map
  * output arrival.
  *
  * Pinning unconditionally (localCheckpoint) is correct but materializes
  * the whole frame to executor-local disk — at the 100 TB design point
  * that's an extra full write AND makes the job unable to survive executor
  * loss (non-reliable checkpoint blocks are unrecoverable). So: pin ONLY
  * when the upstream is not evaluation-stable; the common scan→filter→
  * project shape skips the materialization entirely.
  *
  * The broadcast paths (sjoin, sjoin_nearest, overlay difference) stamp
  * and pin nothing: the build side is collected once into a
  * `BroadcastIndex` and the probe emits its rows, so no id is read twice.
  * Pinned stamps remain on the grid
  * join's outer sides, the outer sjoin with `onAttribute`, the grid
  * overlay difference, the unbounded nearest and the AutoSpatialJoin
  * outer rewrites.
  */
private[graft] object Pins {

  /** Stamp `idCol` and pin it only if the upstream could re-evaluate
    * differently. */
  def stampPinned(df: DataFrame, idCol: String): DataFrame = {
    val stamped = df.withColumn(idCol, monotonically_increasing_id())
    if (needsPin(df)) stamped.localCheckpoint() else stamped
  }

  /** Pin an already-stamped frame (id column present) if needed, judging by
    * the full plan minus the nondeterminism of the id stamp itself — used
    * when the caller had to add more than the id column. */
  def pinIfNeeded(stamped: DataFrame, upstream: DataFrame): DataFrame =
    if (needsPin(upstream)) stamped.localCheckpoint() else stamped

  private[graft] def needsPin(df: DataFrame): Boolean = unstable(df.queryExecution.analyzed)

  private def unstable(plan: LogicalPlan): Boolean = {
    val nodeUnstable = plan match {
      // LOCAL data is unstable even though it is a deterministic leaf: the
      // id values over it depend on the evaluation CONTEXT, not just the
      // rows — ConvertToLocalRelation folds an (evaluable) nondeterministic
      // projection into driver-local rows with partitionIndex 0 (sequential
      // ids) wherever the main optimizer sees it, while a copy of the same
      // subtree injected after that batch (an optimizer-rule rewrite, a
      // broadcast build) evaluates distributed with partition-masked ids —
      // measured: the two diamond branches of a LocalRelation-rooted
      // semi-join disagreed on every id past partition 0. File scans split
      // deterministically from the file listing; local rows must pin.
      case _: LocalRelation => true
      case _: LeafNode      => false
      case p: Project       => !p.projectList.forall(_.deterministic)
      case f: Filter        => !f.condition.deterministic
      case _: SubqueryAlias | _: Fence => false
      // Union is a NARROW concatenation: output partitions are the
      // children's partitions in child order, each row order preserved —
      // stable iff every child is (checked by the recursion below)
      case _: Union         => false
      case _                => true // shuffles, samples, windows, sorts, generators, ...
    }
    nodeUnstable || plan.children.exists(unstable)
  }
}

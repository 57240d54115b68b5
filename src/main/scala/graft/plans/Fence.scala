package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge.ofRows
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Evaluate-once fence: a logical no-op over `child` that Catalyst's
  * pushdown and collapse rules do not see through.
  *
  * GeoPandas runs each shapely kernel once per row because it executes
  * eagerly. Catalyst does not promise that for a deterministic expression:
  * PushDownPredicates pushes a Filter through a Project by substituting the
  * projected expression into the condition, so `withColumn(g, clip(g))
  * .filter(g.isNotNull)` runs the clip twice per row. A Fence between the
  * projection and its consumers keeps the consumers reading the attribute.
  * The expression stays deterministic, so Pins, exchange reuse and retries
  * see it as what it is.
  *
  * The node stays in the optimized plan and [[Fence.PlanFence]] plans it
  * as its child, so no physical node is left. Keeping it until physical
  * planning matters over a scan: the scan strategies (FileSourceStrategy,
  * InMemoryScans, V2 scans) collect a Project/Filter chain with
  * `ScanOperation`, which substitutes the projected expression into the
  * filter, so a fenced filter removed by the optimizer would still end up
  * evaluating it under the projection that evaluates it again.
  * `ScanOperation` stops at the Fence. */
case class Fence(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): Fence = copy(child = newChild)
}

object Fence {

  /** `df` behind a fence: filters and projections written over the result
    * read its columns instead of re-evaluating their expressions. Installs
    * the engine's planning, [[PlanFence]] among it, on the session
    * ([[graft.GraftSession.install]]). */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    graft.GraftSession.install(spark)
    ofRows(spark, Fence(df.queryExecution.analyzed))
  }

  /** Plans a Fence as its child, the way SpecialLimits plans a plain root. */
  object PlanFence extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Fence(c) => planLater(c) :: Nil
      case _        => Nil
    }
  }
}

package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.ofRows
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule

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
  * The node exists only in the analyzed plan and the optimizer batches:
  * [[Fence.RemoveFences]] replaces it by its child in the user-provided
  * optimizer batch, which runs after every PushDownPredicates batch, so no
  * physical node is planned. */
case class Fence(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): Fence = copy(child = newChild)
}

object Fence {

  /** `df` behind a fence: filters and projections written over the result
    * read its columns instead of re-evaluating their expressions. Installs
    * [[RemoveFences]] on the session. */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    ofRows(spark, Fence(df.queryExecution.analyzed))
  }

  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(RemoveFences))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RemoveFences

  object RemoveFences extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformUpWithSubqueries { case Fence(c) => c }
  }
}

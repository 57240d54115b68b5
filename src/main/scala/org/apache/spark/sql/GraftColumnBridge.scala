package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column ⇄ Expression converters, so graft's
  * native Catalyst expressions can be exposed as user-facing Columns
  * (the same pattern third-party Spark extensions use). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an already-analyzed logical plan as a DataFrame (the bridge to the
    * private[sql] `classic.Dataset.ofRows`) — used by optimizer rules that
    * re-plan a matched subtree with DataFrame-level machinery. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over an RDD of internal rows of `schema` (the bridge to the
    * private[sql] `internalCreateDataFrame`) — used by physical nodes that
    * run DataFrame steps over their child's rows. */
  def ofInternalRows(spark: SparkSession,
                     rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** The codec `spark.io.compression.codec` names (the bridge to the
    * private[spark] `CompressionCodec.createCodec`) — used to ship collected
    * rows compressed, as `SparkPlan.executeCollect` does. */
  def compressionCodec(conf: org.apache.spark.SparkConf): org.apache.spark.io.CompressionCodec =
    org.apache.spark.io.CompressionCodec.createCodec(conf)
}

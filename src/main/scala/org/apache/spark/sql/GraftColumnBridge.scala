package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column⇄Expression converters — the
  * established pattern for Spark extension libraries (Delta, Frameless
  * et al. ship the same shim) since Spark 4 made `Column` node-based.
  * Only used by graft's custom Catalyst expressions.
  */
object GraftColumnBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** The dotted name path of a plain column reference (`col("k")`,
    * `col("metadata.source_file")`); None for computed expressions.
    */
  def namePath(c: Column): Option[Seq[String]] = c.node match {
    case a: org.apache.spark.sql.internal.UnresolvedAttribute =>
      Some(a.nameParts)
    case _ => None
  }

  /** DataFrame from a custom logical plan (Dataset.ofRows is
    * private[sql]) — used by graft's custom operators (as-of join).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Batch re-plan of a v1 Sink's incoming micro-batch frame (the
    * addBatch contract: don't re-execute the engine's streaming plan
    * through a second query — lift its InternalRow RDD into a plain
    * batch frame first).
    */
  def batchDataFrame(
      sqlContext: SQLContext,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    sqlContext.asInstanceOf[classic.SQLContext]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)
}

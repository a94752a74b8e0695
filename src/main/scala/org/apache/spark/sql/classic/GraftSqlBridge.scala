package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` door a planner-extension library needs: turning a
  * custom [[LogicalPlan]] (e.g. [[graft.plans.AsOfJoin]]) into a DataFrame so
  * it can flow through the ordinary analyzer → optimizer → strategy pipeline.
  * Spark exposes injection points for rules/strategies/functions
  * (SparkSessionExtensions) but not for *constructing* a Dataset from a plan,
  * so — like other Spark-native libraries — we host this two-line bridge
  * inside the `org.apache.spark.sql.classic` package. Nothing else in the
  * repo reaches across the `private[sql]` boundary.
  */
object GraftSqlBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): Dataset[org.apache.spark.sql.Row] =
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)

  /** A session that shares `spark`'s SparkContext, shared state (cache
    * manager, external catalog) and job tags, over a COPY of its session
    * state (conf, temp views, functions, experimental rules) — the scope
    * [[graft.Tables.withConf]] runs in. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): SparkSession =
    ClassicConversions.castToImpl(spark).cloneSession()

  /** Spark 4's api Column wraps a ColumnNode, not an Expression; this is the
    * classic converter back to a (resolved, when the Column came from a
    * resolved Dataset) Catalyst expression. */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    ExpressionUtils.expression(c)

  /** And the inverse — wrap a Catalyst expression as an api Column (for
    * library operators that synthesize expressions, e.g. a bloom probe
    * against a driver-collected literal blob). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    ExpressionUtils.column(e)

  /** A V1 streaming Source's `getBatch` must return a DataFrame flagged
    * `isStreaming = true` (MicroBatchExecution asserts it), and the only
    * constructor carrying that flag is `private[sql]` — the same door every
    * V1-source library (Delta's original source included) opens. Used by
    * [[graft.sources.GraftTableStreamSource]]. */
  def streamingDf(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): Dataset[org.apache.spark.sql.Row] =
    spark.internalCreateDataFrame(rdd, schema, isStreaming = true)
}

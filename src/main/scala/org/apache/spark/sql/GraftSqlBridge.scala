package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` bridge: the repo's only door into Spark's
  * non-public classic API, isolated here. It turns a constructed
  * [[LogicalPlan]] into a DataFrame (`classic.Dataset.ofRows`, which
  * runs the full analyzer/optimizer/planner pipeline over it — the
  * same door Delta/Iceberg-style extensions use for custom logical
  * operators), converts between `Column` and Catalyst `Expression`
  * (so the graft kernels are built directly, without a function
  * registry entry), and forces the state-store coordinator up. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Force-create the lazy StateStoreCoordinator driver endpoint.
    * Streaming queries create it on start; BATCH execution of
    * `transformWithState` (Spark 4 runs arbitrary state in batch as
    * one implicit micro-batch over a transient store) only LOOKS IT
    * UP, so on a session that never started a stream it dies with
    * RpcEndpointNotFound. Touching the manager's lazy val makes
    * batch-mode stateful transforms self-contained. */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit = {
    spark.asInstanceOf[classic.SparkSession]
      .streams.stateStoreCoordinator
    ()
  }
}

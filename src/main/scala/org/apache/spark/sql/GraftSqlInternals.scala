package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Bridge into the one `private[sql]` constructor a plan-extension
  * library needs: wrapping a custom [[LogicalPlan]] node in a DataFrame
  * (`Dataset.ofRows`). Spark exposes extension POINTS publicly
  * (`SparkSessionExtensions`, `experimental.extraStrategies` /
  * `extraOptimizations`) but not plan CONSTRUCTION, so every
  * out-of-tree plan library ships exactly this shim. The only other
  * graft code in `private[sql]` space is [[GraftSqlBridge]] and the
  * `internalCreateDataFrame` callers in `org.apache.spark.sql.graft`:
  * `DeferredFrame`, the one lazy RDD wrapper behind both deferred batch
  * frames and `StreamingFrame`'s streaming ones, and
  * `StreamingFrame.toBatch`.
  */
object GraftSqlInternals {

  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(session.asInstanceOf[ClassicSparkSession], plan)

  /** Post-hoc SQL function registration for sessions graft did not
    * build (the build-time path is `GraftExtensions.injectFunction`).
    */
  def registerTempFunction(
      session: SparkSession,
      name: String,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit =
    session.asInstanceOf[ClassicSparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}

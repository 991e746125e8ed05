package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Access forwarding for plan-level DataFrame construction, which
  * Spark 4 keeps `private[sql]`: a DataFrame over an existing (already
  * resolved) logical plan, and an [[Observation]] bound to a
  * `CollectMetrics` node that is already in such a plan. No logic —
  * see [[ColumnBridge]]. */
object DatasetBridge {
  /** A DataFrame over `plan` in `spark` (`Dataset.ofRows`). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Deliver the metrics of the plan node `CollectMetrics(obs.name, …,
    * dataframeId)` to `obs` when a query over it completes. */
  def register(spark: SparkSession, obs: Observation,
      dataframeId: Long): Unit =
    spark.asInstanceOf[classic.SparkSession].observationManager
      .register(obs, dataframeId)
}

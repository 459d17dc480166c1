package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** `Dataset.ofRows` (build a DataFrame from a custom LogicalPlan) is
  * `private[sql]`; this bridge re-exports it for graft's custom plan
  * nodes (same idiom as [[ColumnBridge]]).
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `StructType.asNullable` is `private[spark]`: the nullable form a
    * file-source relation gives its data schema, for relations graft
    * builds itself.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable
}

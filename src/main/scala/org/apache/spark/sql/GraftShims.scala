package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Minimal accessors for two `private[sql]` members: `Dataset.ofRows`,
  * the standard way for an extension library to wrap a custom
  * LogicalPlan node into a user-facing DataFrame, and the session's
  * `sessionUUID`, which names per-session scratch tables
  * (`graft.Fs.sessionTable`). Nothing else from the private API surface
  * is touched.
  */
object GraftShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(
      spark.asInstanceOf[ClassicSparkSession], plan)

  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[ClassicSparkSession].sessionUUID
}

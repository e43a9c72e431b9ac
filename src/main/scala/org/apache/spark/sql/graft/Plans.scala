package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to `Dataset.ofRows` (`private[sql]`, hence this file's
  * package): a new DataFrame over an already-analyzed logical plan. The
  * analyzer skips a plan marked analyzed, so the new frame costs no
  * re-analysis; optimization, physical planning and execution run anew
  * on every action, as for any other frame. */
object Plans {
  def ofRows(spark: SparkSession, analyzed: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], analyzed)
}

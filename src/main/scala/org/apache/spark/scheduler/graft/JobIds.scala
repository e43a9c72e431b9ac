package org.apache.spark.scheduler.graft

import org.apache.spark.SparkContext

/** Bridge to the DAG scheduler's job counter (`private[scheduler]`,
  * hence this file's package). It moves synchronously when a job is
  * submitted, so two reads around a call tell exactly whether the call
  * (or a concurrent thread) started a Spark job, with no listener-bus
  * drain. */
object JobIds {
  def next(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}

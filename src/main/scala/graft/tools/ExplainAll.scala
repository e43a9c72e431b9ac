package graft.tools

import org.apache.spark.sql.execution.{SparkPlan, adaptive, columnar, window}

/** Plan-hygiene sweep: explain every SparkEntry query and flag plan
  * shapes that die at scale — CartesianProduct, BroadcastNestedLoopJoin
  * (legitimate only for the 1-row scalar-join idiom and tiny bounded
  * frames), and zero-partition windows. A human (or PERF.md) reviews
  * the flags; the per-query pins in PlanSpec stay the enforcement. */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.get("graft-explain-all")
    val flags = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val verdict =
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan
          val hits = flags.filter(plan.toString.contains) ++
            (if (unpartitionedWindow(plan)) Seq("unpartitioned Window") else Nil)
          if (hits.isEmpty) "ok" else hits.mkString("FLAG: ", ", ", "")
        } catch { case e: Throwable => s"ERROR: ${e.getMessage.take(120)}" }
      println(f"[explain] $name%-28s $verdict")
    }
    spark.stop()
  }

  /** Whether `plan` holds a window with no partition spec (one task for
    * its whole input), looking inside AQE's plan and persisted subtrees,
    * which are leaves to traversal. */
  private[graft] def unpartitionedWindow(plan: SparkPlan): Boolean =
    plan.find {
      case a: adaptive.AdaptiveSparkPlanExec => unpartitionedWindow(a.executedPlan)
      case s: columnar.InMemoryTableScanExec => unpartitionedWindow(s.relation.cachedPlan)
      case w: window.WindowExecBase => w.partitionSpec.isEmpty
      case _ => false
    }.isDefined
}

package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for every SparkEntry query to a
  * directory (one `<query>.txt` per query) — the committed plan
  * evidence for optimization rounds (plans/rN/). Run it at two HEADs
  * and diff: identical files prove "this change did not move any
  * declared query's plan"; differing files are the before/after pair a
  * PERF entry cites. Plans are dumped against a REAL corpus dir (the
  * bench scale by default) so scan stats, AQE thresholds and
  * artifact-serve paths match what the bench measures.
  *
  * Usage: runMain graft.tools.DumpPlans <outDir> [sfDir] [namePrefix...]
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/plans")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val only = args.drop(2).toSet
    val spark = graft.Session.get("graft-dump-plans")
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.exists(name.startsWith)) {
        val body =
          try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
        Files.writeString(Paths.get(s"$outDir/$name.txt"), canon(body) + "\n")
        println(s"[plans] $name -> $outDir/$name.txt")
      }
    }
    spark.stop()
  }

  /** `plan` with the ids that vary from JVM to JVM (and from one
    * construction to the next) masked, so two dumps of the same plan are
    * byte-comparable: expression ids (`#123`), exchange plan ids
    * (`[plan_id=7]`), RDD ids (`MapPartitionsRDD[222]`), lambda
    * addresses (`$Lambda$6022/0x00007efc1166a630@471142b7`) and source
    * lines of call sites (`localCheckpoint at Dedup.scala:763`), which
    * move with any edit above them. */
  private[graft] def canon(plan: String): String =
    plan.replaceAll("#\\d+L?", "#_")
      .replaceAll("(\\w\\.scala):\\d+", "$1:_")
      .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=_]")
      .replaceAll("RDD\\[\\d+\\]", "RDD[_]")
      .replaceAll("\\$Lambda[$/\\w]*@[0-9a-f]+", "\\$Lambda_")
}

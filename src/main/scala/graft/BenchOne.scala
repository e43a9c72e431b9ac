package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.sources.PlanCache

/** Single-query timing harness for plan iteration: run one SparkEntry
  * query N times against a testdata dir and print each run's seconds
  * (min is the steady-state plan cost, same convention as [[Bench]]),
  * its executor CPU, its driver-thread CPU split into construction (the
  * `SparkEntry.queries` call) and consumption (planning and running the
  * [[BenchConsume]] fold), whether the construction reused its plan
  * ([[graft.sources.PlanCache]]), its Janino compiles (nonzero on a warm
  * run means the generated-class cache lost the query's classes) and the
  * Spark jobs it started.
  *
  * Flags:
  *  - `--explain` prints the formatted physical plan instead of running.
  *  - `--profile` also prints one `[stage p<run>]` line per completed
  *    stage (task count, wall, executor CPU and run time), so a
  *    "wall ≫ cpu/cores" reading resolves to a named stage.
  *  - `--keep-cache` clears the cache only before run 1, so persists
  *    made inside the query survive into later runs — [[Bench]]'s cache
  *    semantics, whose min-of-3 rows it then reproduces. By default the
  *    cache is cleared before every run.
  *
  * Usage: runMain graft.BenchOne <query_name> [sfDir] [iters] [--explain|--profile|--keep-cache]
  */
object BenchOne {
  def main(argv: Array[String]): Unit = {
    val (flags, args) = argv.partition(_.startsWith("--"))
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val keepCache = flags.contains("--keep-cache")
    val spark = Session.get("graft-bench-one")
    val fn = SparkEntry.queries(name)
    if (flags.contains("--explain")) {
      fn(spark, sfDir).explain("formatted")
      spark.stop()
      return
    }
    CpuMeter.install(spark)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    @volatile var run = 0
    if (flags.contains("--profile")) spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for (c <- i.completionTime; s <- i.submissionTime) yield (c - s) / 1e3)
          .getOrElse(-1.0)
        val m = i.taskMetrics
        println(f"[stage p$run] id=${i.stageId}%-4d tasks=${i.numTasks}%-4d " +
          f"wall=$wall%7.2f s cpu=${m.executorCpuTime / 1e9}%8.2f s " +
          f"run=${m.executorRunTime / 1e3}%8.2f s  ${i.name.linesIterator.next()}")
      }
    })
    val times = (1 to iters).map { i =>
      run = i
      if (i == 1 || !keepCache) spark.catalog.clearCache()
      val (c0, _) = CpuMeter.snapshot(spark)
      val k0 = CpuMeter.compiles
      val j0 = CpuMeter.jobs
      val h0 = PlanCache.hits
      val t0 = System.nanoTime()
      val d0 = threads.getCurrentThreadCpuTime
      val df = fn(spark, sfDir)
      val d1 = threads.getCurrentThreadCpuTime
      // consume every output column (BenchConsume) — bare count() lets
      // Catalyst elide cardinality-preserving stages (PERF.md r11 s12)
      val (n, digest) = BenchConsume.consume(df)
      val d2 = threads.getCurrentThreadCpuTime
      val s = (System.nanoTime() - t0) / 1e9
      val (c1, _) = CpuMeter.snapshot(spark)
      val plan = if (PlanCache.hits > h0) "reused" else "built"
      println(f"[bench-one] $name run $i: $s%.3f s cpu ${c1 - c0}%.3f s " +
        f"driver ${(d2 - d0) / 1e9}%.3f s (construct ${(d1 - d0) / 1e9}%.3f s plan $plan, " +
        f"consume ${(d2 - d1) / 1e9}%.3f s) compiles ${CpuMeter.compiles - k0} " +
        f"jobs ${CpuMeter.jobs - j0} ($n rows, digest $digest%016x)")
      (s, c1 - c0)
    }
    println(f"[bench-one] $name min: ${times.map(_._1).min}%.3f s cpu min: ${times.map(_._2).min}%.3f s")
    spark.stop()
  }
}

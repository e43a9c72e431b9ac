package graft

/** Single-query timing harness for plan iteration: run one SparkEntry
  * query N times against a testdata dir and print each run's seconds
  * (min is the steady-state plan cost, same convention as [[Bench]]),
  * its executor CPU, its Janino compiles (nonzero on a warm run means
  * the generated-class cache lost the query's classes) and the Spark jobs
  * it started.
  *
  * Usage: runMain graft.BenchOne <query_name> [sfDir] [iters]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = Session.get("graft-bench-one")
    val fn = SparkEntry.queries(name)
    if (args.contains("--explain")) {
      fn(spark, sfDir).explain("formatted")
      spark.stop()
      return
    }
    CpuMeter.install(spark)
    val times = (1 to iters).map { i =>
      val (c0, _) = CpuMeter.snapshot(spark)
      val k0 = CpuMeter.compiles
      val j0 = CpuMeter.jobs
      val t0 = System.nanoTime()
      // consume every output column (BenchConsume) — bare count() lets
      // Catalyst elide cardinality-preserving stages (PERF.md r11 s12)
      val (n, digest) = BenchConsume.consume(fn(spark, sfDir))
      val s = (System.nanoTime() - t0) / 1e9
      val (c1, _) = CpuMeter.snapshot(spark)
      spark.catalog.clearCache()
      println(f"[bench-one] $name run $i: $s%.3f s cpu ${c1 - c0}%.3f s compiles ${CpuMeter.compiles - k0} jobs ${CpuMeter.jobs - j0} ($n rows, digest $digest%016x)")
      (s, c1 - c0)
    }
    println(f"[bench-one] $name min: ${times.map(_._1).min}%.3f s cpu min: ${times.map(_._2).min}%.3f s")
    spark.stop()
  }
}

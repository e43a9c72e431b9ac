package graft.tools

import org.apache.spark.sql.functions._

/** Scratch profiler for d10's fixed-latency floor (see PERF.md): which
  * stage of the incremental program owns the ~3 s that does not move
  * with scale. */
object ProbeD10 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.get("probe-d10")
    import graft.operators.Dedup
    def time(tag: String)(f: => Long): Unit =
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val n = f
        println(f"[probe] $tag run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      }
    // artifact warm-up (first d10 call builds + memoizes)
    Dedup.d10IncrementalDedup(spark, dir).count()
    time("artifact index scan") {
      Dedup.DedupSig.serve(spark, dir).count()
    }
    time("artifact shingle scan") {
      Dedup.Shingles.serve(spark, dir).count()
    }
    val docs = graft.Tables.load(spark, dir, "documents")
    time("batch shingles") {
      val n = Dedup.shinglesOf(docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"))).count()
      spark.catalog.clearCache()
      n
    }
    time("full d10") {
      val n = Dedup.d10IncrementalDedup(spark, dir).count()
      spark.catalog.clearCache()
      n
    }
    spark.stop()
  }
}

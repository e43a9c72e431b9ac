package graft.tools

import graft._
import graft.operators.Similarity

/** s13 cold-vs-served cost at the corpus-adaptive k (r11 verdict task 2's
  * last clause): drop the persisted centroid + verdict artifacts, time
  * the full cold build (train k centroids + Σ cell² sweep + artifact
  * write + the apply join), then time the served path.
  *   ProbeS13Cold <sfDir>
  */
object ProbeS13Cold {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "target/testdata-local/sf10full"
    val spark = Session.get("probe-s13-cold")
    val k = Similarity.ivfK(spark, dir)
    println(s"[probe-s13] $dir k=$k (n=${Similarity.vecCount(spark, dir)})")
    Similarity.SemVerdicts.drop(spark, dir)
    Similarity.Centroids.drop(spark, dir)
    val t0 = System.nanoTime()
    val (n0, d0) = BenchConsume.consume(Similarity.s13SemanticApply(spark, dir))
    println(f"[probe-s13] COLD  ${(System.nanoTime() - t0) / 1e9}%7.1f s  rows=$n0 digest=$d0%016x")
    spark.catalog.clearCache()
    val t1 = System.nanoTime()
    val (n1, d1) = BenchConsume.consume(Similarity.s13SemanticApply(spark, dir))
    println(f"[probe-s13] SERVE ${(System.nanoTime() - t1) / 1e9}%7.1f s  rows=$n1 digest=$d1%016x")
    require(n0 == n1 && d0 == d1, "cold and served results must be identical")
    spark.stop()
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A warm query compiles nothing: once a query has run, its whole-stage
  * and projection classes stay in Spark's generated-class cache, so
  * answering it again runs no Janino compile (and no JIT of fresh
  * classes). Pins [[Session.CodegenCacheEntries]] and the stage-free class
  * names: with Spark's default 100-entry cache the perfbench query set's
  * ~250 classes evict each other and every pass recompiles; with stage
  * numbers in class names, AQE's run-to-run renumbering misses the cache. */
class CodegenCacheSpec extends SparkSpec {

  /** The perfbench query set: one query per operator module, two for
    * CartAnalytics. */
  private val queries = Seq(
    "q02_co_abandoned_pairs", "q17_profile_orders_strings", "d07_contamination",
    "s03_ann_ivf", "t13_bigram_novelty", "e14_interarrival", "p07_curriculum_plan",
    "m04_content_dedup")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def pass(): Unit =
    queries.foreach(q => BenchConsume.consume(SparkEntry.queries(q)(spark, sf)))

  test("a second pass over the perfbench query set compiles no class") {
    pass()
    val before = compiles
    pass()
    assert(compiles - before === 0L,
      s"the warm pass compiled ${compiles - before} classes")
  }
}

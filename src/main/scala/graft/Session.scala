package graft

import org.apache.spark.sql.SparkSession

/** The one place engine SparkSession conf lives (SURVEY.md §7.2 step 1).
  *
  * Four deployment settings are read from the environment, so the same
  * binary runs local tests and a cluster:
  *
  *  - `SPARK_GRAFT_CPUS`: local core count (default 32), the master's
  *    `local[n]` and the default shuffle partition count.
  *  - `SPARK_GRAFT_MASTER`: the master URL (default `local[$cpus]`).
  *  - `SPARK_GRAFT_SHUFFLE_PARTITIONS`: `shuffle.partitions`; on a
  *    cluster set it to 2-3× total executor cores (the adaptive coalescer
  *    merges down from there, so erring high is safe).
  *  - `SPARK_GRAFT_SF_DIR`: the corpus [[Bench]] times.
  *
  * Every other SQL setting a caller wants changed goes through
  * `spark.conf.set` after [[get]]. Scan split size, the broadcast
  * threshold and the join strategy stay at Spark's defaults (128m,
  * 10 MB, prefer sort-merge); all are runtime confs, and
  * [[graft.plans.Scale]] reads the broadcast threshold from `spark.conf`.
  * On big-memory nodes, raising that threshold keeps growing star-join
  * dimensions broadcast (PERF 14d).
  * Sort-merge over shuffled-hash join was measured, not assumed: SHJ lost
  * every interleaved sf1 A/B on the join-heaviest query (PERF 17e).
  *
  * Fixed here:
  *
  *  - AQE on: runtime shuffle coalescing, skew-join splitting, plan
  *    re-optimization from real stats.
  *  - UTC session time pins date-part determinism.
  *  - `nanosAsLong` lets parquet TIMESTAMP(NANOS) inputs load at all
  *    (surfaced as Long; Tables.load adapts per-schema — micros-era
  *    events files don't need it, but keeping it set is harmless).
  *  - GraftExtensions registers engine-native functions (graft_dot).
  *  - The generated-class cache size and class naming, so a warm query
  *    compiles nothing ([[CodegenCacheEntries]]).
  *  - Status-store retention. The UI is off and nothing in the engine
  *    reads `statusTracker` or the status store, yet Spark keeps plan
  *    graphs and stage data for 1,000 SQL executions, jobs and stages by
  *    default. It now keeps the last 20 executions and 50 jobs and stages.
  *  - The plan description each SQL execution posts to the listener bus
  *    (`spark.sql.ui.explainMode`), built on the calling thread at
  *    execution start and again on every adaptive re-plan, for a UI that
  *    is off. `simple` (a plain tree string) instead of Spark's
  *    `formatted` (the tree plus a per-operator detail section): warm, it
  *    costs about half as much for 7 of the perfbench query set's 8 plans
  *    (e.g. q02 1.40 → 0.69 ms per description at sf0.01; PERF.md B7).
  *    `explain` and `graft.tools.DumpPlans` name their mode explicitly
  *    and are unaffected. Capping the description with
  *    `spark.sql.maxPlanStringLength` was measured too and kept out: the
  *    plan text is still generated before the cap truncates it, and the
  *    cap would also cut every tool's `explain` output.
  */
object Session {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  def shufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)

  /** Generated-class cache size (`spark.sql.codegen.cache.maxEntries`).
    * Spark's default of 100 is far below this engine's working set, so a
    * warm pass recompiled (Janino, then the JIT) classes it had compiled
    * moments earlier. Working sets, as Janino compiles per pass read from
    * `CodegenMetrics` (each class counts once per class loader, driver and
    * executor): the 8-query perfbench set at sf0.001 compiles 255 classes;
    * one `graft.Verify` pass over all 109 queries at sf0.01 compiles 1,526
    * distinct classes (2,940 compiles with the 100-entry cache, most of the
    * difference recompiles inside that one pass). 4096 is more than twice
    * the full-suite working set. The cache is keyed by the generated source
    * text, so its size decides only whether a class is compiled again,
    * never an answer; each class kept costs about 30–40 KB of heap.
    * Spark reads the size once, when the JVM generates its first class,
    * so it holds only where a session built here exists by then.
    *
    * `useIdInClassName` is off for the same reason: AQE numbers codegen
    * stages in the order it plans them, which follows shuffle completion
    * order, and the number in the class name made the same stage's source
    * differ from run to run — a cache miss and a fresh compile. The number
    * stays in the class comment and in `explain` output. */
  val CodegenCacheEntries = 4096

  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.ui.retainedExecutions", 20L)
      .config("spark.ui.retainedJobs", 50L)
      .config("spark.ui.retainedStages", 50L)
      .config("spark.sql.ui.explainMode", "simple")

  def get(appName: String): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

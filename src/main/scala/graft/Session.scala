package graft

import org.apache.spark.sql.SparkSession

/** The one place engine SparkSession conf lives (SURVEY.md §7.2 step 1).
  *
  * Defaults are scale-oriented; every knob below is env-overridable so the
  * same binary runs local[32] tests and a 1000-executor cluster:
  *
  *  - AQE on: runtime shuffle coalescing, skew-join splitting, plan
  *    re-optimization from real stats.
  *  - `shuffle.partitions` = local core count here; on a cluster set
  *    SPARK_GRAFT_SHUFFLE_PARTITIONS to 2-3× total executor cores (the
  *    adaptive coalescer merges down from there, so erring high is safe).
  *  - `files.maxPartitionBytes` sizes scan tasks so a partition fits
  *    executor memory with headroom; at 100 TB the default 128m yields
  *    ~800k tasks — acceptable, raise to 256m if task overhead dominates.
  *  - UTC session time pins date-part determinism.
  *  - `nanosAsLong` lets parquet TIMESTAMP(NANOS) inputs load at all
  *    (surfaced as Long; Tables.load adapts per-schema — micros-era
  *    events files don't need it, but keeping it set is harmless).
  *  - GraftExtensions registers engine-native functions (graft_dot).
  *
  * Three settings are fixed, with no env knob, because no corpus or
  * cluster size calls for another value and none can change an answer:
  *
  *  - The generated-class cache size and class naming, so a warm query
  *    compiles nothing ([[CodegenCacheEntries]]).
  *  - Status-store retention. The UI is off and nothing in the engine
  *    reads `statusTracker` or the status store, yet Spark keeps plan
  *    graphs and stage data for 1,000 SQL executions, jobs and stages by
  *    default. It now keeps the last 20 executions and 50 jobs and stages.
  */
object Session {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  def shufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
  def maxPartitionBytes: String =
    sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m")
  /** Dimension-broadcast ceiling. Default = Spark's 10 MB; raise to a
    * memory-budgeted fraction of executor heap on big-memory nodes so
    * star-join dims keep broadcasting as they grow (PERF.md 14d: q12 at
    * 150M orders degrades to five chained fact-sized sort-merge joins —
    * >56 GB of spill — when 15M-row dims stop fitting under 10 MB; at
    * 512 MB the dims broadcast and the fact is read once). Past the
    * point where dims outgrow ANY sane threshold, the co-bucketed
    * layout (sources/Ingest writeBucketed + cojoin) is the shuffle-free
    * path. */
  def broadcastThreshold: String =
    sys.env.getOrElse("SPARK_GRAFT_BROADCAST_THRESHOLD", "10485760")
  /** Shuffled-hash-vs-sort-merge stays at Spark's default (prefer SMJ):
    * flipping it was MEASURED and REJECTED — interleaved sf1 A/B pairs
    * on the join-heaviest fact query read q08 20.2-21.6 CPU-s under SMJ
    * vs 24.0-33.7 under SHJ (PERF 17e; the per-partition hash-map build
    * over the 4M-row join costs more than the codegen'd long-key sort),
    * and no suite query improved outside window noise. Both knobs stay
    * env-flippable for corpora where the build side is genuinely small
    * per partition. */
  def preferSortMergeJoin: String =
    sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "true")
  /** AQE SMJ→SHJ rewrite ceiling (per-partition build-side bytes).
    * 0 = off (Spark default; see [[preferSortMergeJoin]] — the rewrite
    * lost its A/B here). */
  def shjLocalMapThreshold: String =
    sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "0")

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
      .config("spark.sql.autoBroadcastJoinThreshold", broadcastThreshold)
      .config("spark.sql.join.preferSortMergeJoin", preferSortMergeJoin)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        shjLocalMapThreshold)
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.ui.retainedExecutions", 20L)
      .config("spark.ui.retainedJobs", 50L)
      .config("spark.ui.retainedStages", 50L)

  def get(appName: String): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

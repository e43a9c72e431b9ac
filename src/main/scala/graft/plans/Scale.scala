package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ContentMemo

/** Scale utilities: the shuffle-shaping patterns a 100 TB deployment
  * needs beyond what AQE does automatically.
  *
  * - [[saltedJoin]]: explicit skew mitigation for joins where one key
  *   dominates (AQE's skew-join split only handles sort-merge joins at
  *   shuffle boundaries; salting also covers broadcast-ineligible
  *   aggregations and gives deterministic fan-out control).
  * - [[twoPhaseTopKByKey]]: per-partition partial top-k before the
  *   shuffle, so a global "top N per group" never materializes full
  *   groups on one reducer.
  * - [[Bucketing]]: co-located joins via bucketed managed tables — the
  *   repeated fact⋈fact join (orders⋈lineitem here, carts⋈cartentries in
  *   the reference) pays its shuffle once at write time, then every
  *   downstream join is exchange-free.
  *
  * The data-driven decisions ([[skewAwareJoin]]'s skew probe,
  * [[spreadIfNarrow]]'s split probe) are memoized in [[ContentMemo]] on
  * the content of the files they read: a probe is paid once per content
  * state, and a rewrite with different bytes re-probes.
  */
object Scale {

  /** Join `big` (skewed on `key`) with `small` replicated `salt` ways.
    * big side: key → (key, hash(row)%salt); small side: exploded to all
    * salt values. Result is identical to the plain inner join.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salt: Int): DataFrame = {
    val spark = big.sparkSession
    // round-robin salt within each partition: best balance, and any salt
    // assignment yields the identical join result
    val saltedBig = big.withColumn("__salt", pmod(monotonically_increasing_id(), lit(salt)).cast("int"))
    val saltedSmall = small.withColumn("__salt", explode(sequence(lit(0), lit(salt - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Inner-join `big ⋈ small` on `key`, salting the big side only when a
    * skew probe reports a dominant key — the production wrapper that
    * puts [[saltedJoin]] behind a data-driven threshold (used by q02's
    * lines⋈abandoned-orders join). The probe counts rows per key over a
    * 1-in-64 sample of big's rows taken BY POSITION
    * (monotonically_increasing_id), not by row content: a content hash
    * would collapse duplicate rows onto one sample decision, letting a
    * hot key made of identical rows evade the probe entirely — position
    * sampling sees ~1/64 of every key's rows regardless of content, so
    * a dominant key cannot hide. The decision (NOT the join result) may
    * vary with partitioning; both branches produce the identical join
    * result (ScaleSpec property-tests the equivalence AND that the
    * skewed fixture actually takes the salted branch), so correctness
    * is branch-independent. The probe runs ONE job per distinct
    * (plan, key, threshold) and content state of big's files — memoized
    * ([[ContentMemo.over]]), so plan-only inspections and repeated query
    * constructions don't re-pay it; on a real cluster with fresh table
    * stats, replace the probe with a stats lookup and keep the same two
    * branches. */
  def skewAwareJoin(big: DataFrame, small: DataFrame, key: String,
      rowThreshold: Long = 1000000L, salt: Int = 8): DataFrame = {
    val sampleMod = 64
    val name = s"skew/${big.queryExecution.analyzed.semanticHash()}/$key/$rowThreshold"
    val hottest = skews.over(big, name) {
      val probe = big
        .where(pmod(monotonically_increasing_id(), lit(sampleMod)) === 0)
        .groupBy(col(key)).count()
        .agg(max(col("count"))).first()
      if (probe.isNullAt(0)) 0L else probe.getLong(0) * sampleMod
    }
    if (hottest >= rowThreshold) saltedJoin(big, small, key, salt)
    else big.join(small, Seq(key))
  }

  /** Cell-equi pair join (`probe ⋈ index` on `key`) with PER-KEY adaptive
    * salting — the skew treatment for SELF-PAIR shapes (kNN within LSH
    * buckets, within-cell SemDeDup) where cost is quadratic in the cell
    * size: a Zipfian corpus concentrates rows into few hot cells, and a
    * plain cell-equi shuffle lands each hot cell's n² pair work on ONE
    * reducer (measured: s09 8.7× slower under a 90/20 hot-key mix while
    * 30 of 32 cores idle). Per cell, the probe side splits into
    * s = ceil(n²/targetPairsPerTask) slices (capped) and the index side
    * replicates to every slice, so one cell's pair work spreads over s
    * tasks while every probe row still meets every index row in its
    * cell — the result set is IDENTICAL to the plain join, only the
    * fan-out changes. Cold cells get s=1: no replication, no extra rows.
    * The per-cell histogram costs one narrow count pass over the index
    * side; ~cells rows broadcast back to both sides. */
  def adaptiveSaltedCellJoin(probe: DataFrame, index: DataFrame, key: String,
      targetPairsPerTask: Long = 2000000L, maxSalt: Int = 256): DataFrame = {
    val fan = broadcast(index.groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .select(col(key), least(greatest(
          ceil(col("__n") * col("__n") / lit(targetPairsPerTask.toDouble)), lit(1.0)),
        lit(maxSalt.toDouble)).cast("int").as("__s")))
    val p = probe.join(fan, Seq(key))
      .withColumn("__salt", pmod(monotonically_increasing_id(), col("__s")).cast("int"))
      .drop("__s")
    val i = index.join(fan, Seq(key))
      .withColumn("__salt", explode(sequence(lit(0), col("__s") - 1)))
      .drop("__s")
    p.join(i, Seq(key, "__salt")).drop("__salt")
  }

  /** Hottest-key row estimate per (plan, key, threshold) of the big side. */
  private val skews = new ContentMemo[Long]

  /** Below this much total input, the spread's extra shuffle + 32-task
    * scheduling costs more than single-task CPU saves: the r14 sf0.1
    * sweep (5 MB corpus) paid a systematic ~0.2-0.4 s per spread query
    * with nothing to amortize it, while every ≥15 MB corpus won
    * (t04 sf1 1.61→0.97 s, sf10full 13.2→10.1 s per the committed r14
    * sweep — bench/scaling_r14/bench_sf10full.json; t01 12.9→3.8 s,
    * t02 10.0→5.3 s are the family's big wins). */
  private[graft] val SpreadMinBytes: Long = 4L << 20

  /** Spread a pathologically under-split scan across the session's
    * parallelism before CPU-heavy per-row work (md5 window walks and
    * their in-stage partial aggregates). A parquet file written as one
    * row group yields ONE input split no matter how large — locally the
    * entire walk + partial aggregate then runs single-threaded (the
    * sf10full documents file: PERF.md 13c/14b, d20's 21 s df-aggregate
    * wall). This is the standard Spark idiom for unsplittable inputs
    * (one big gzip/row-group file → repartition after read), GUARDED so
    * it is a structural no-op exactly where it should be: on any real
    * multi-split corpus (a 100 TB table has thousands of splits, so
    * `parts*2 > target` and no exchange is added), firing only when the
    * scan has less than half the session's parallelism. Costs one
    * round-robin shuffle of the projected columns when it fires —
    * project BEFORE spreading.
    *
    * The decision is memoized per content state of the scan's files
    * ([[ContentMemo.over]]; r14: the un-memoized probe cost the sf0.1
    * sweep a diffuse ~0.3-1 s on every shingle-family row — artifact
    * keys re-derive defining plans and d06's propagation loop constructs
    * plans per iteration, so this helper runs MANY times per query). Its
    * Repartition is part of the defining plans Artifacts.keyFor hashes,
    * and a content key never outlives the bytes it was probed from, so
    * the hashed plan is the one a fresh JVM builds. */
  private[graft] def spreadIfNarrow(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val n = spreads.over(df, s"spread/$target")(spreadTarget(df, target))
    if (n > 0) df.repartition(n) else df
  }

  /** Spread decision per session parallelism: 0 = no-op, n>0 =
    * repartition to n. */
  private val spreads = new ContentMemo[Int]

  /** Probe the scan's true parallelism; >0 = repartition to that many
    * partitions, 0 = leave alone. One FS-metadata pass plus, for a scan
    * of fewer files than `target`, one footer read per file. */
  private def spreadTarget(df: DataFrame, target: Int): Int = {
    val files = df.inputFiles
    // non-file frames (constructed Datasets, streams) already carry the
    // parallelism of whatever produced them — nothing to fix here
    if (files.isEmpty) return 0
    // many files → plenty of real splits; never touch footers at scale
    if (files.length >= target) return 0
    // few files: byte-range split counts LIE for parquet — a 67 MB file
    // written as one row group planned 17 splits but only the split
    // holding the row group does any work (PERF.md 14b). The row-group
    // count is the true upper bound on scan parallelism, and with <
    // `target` files reading their footers is a bounded metadata read.
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    var bytes = 0L
    val groups = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      try {
        val st = p.getFileSystem(conf).getFileStatus(p)
        bytes += st.getLen
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size finally r.close()
      } catch { case _: Exception => Int.MaxValue / 1024 } // non-parquet: assume splittable
    }.sum
    if (bytes >= SpreadMinBytes && groups * 2 <= target) target else 0
  }

  /** Fact⋈dim join with an automatic strategy escape past the broadcast
    * ceiling (r14 verdict task 4 — the q12 dim cliff). Under the
    * session's `autoBroadcastJoinThreshold` the join is left alone and
    * Catalyst broadcasts the dim (the contract-scale plan, PlanSpec-
    * pinned). Once the dim outgrows the ceiling, Catalyst's default is
    * a fact-sized SORT-MERGE join — and a star query chaining several
    * of those sorts the fact once per dim (sf100star default knobs:
    * five chained SMJs, >56 GB of spill, DISK-FULL — PERF 14d). The
    * escape hints SHUFFLE_HASH on the dim side instead: the fact still
    * shuffles on the join key (unavoidable once broadcast is off the
    * table) but is never sorted, and the hash map is built from the dim
    * side only — spill is bounded by the dim, not the fact. The dim
    * size probe is one FS-metadata pass over the dim's input files (no
    * job), deliberately the same on-disk-bytes statistic Catalyst's own
    * broadcast decision uses for parquet relations, so the two
    * decisions agree at the boundary: every dim is either under the
    * ceiling and broadcast, or over it and shuffle-hashed — never
    * sort-merged. Both branches produce identical values (strategy
    * hints never change join semantics). On a real cluster with table
    * stats, replace the file probe with a stats lookup and keep the
    * same two branches; past the point where even shuffle-hash is too
    * hot, the co-bucketed layout (Bucketing.cojoin) is the prepared
    * exchange-free path. */
  def dimJoin(fact: DataFrame, dim: DataFrame, cond: Column, joinType: String): DataFrame = {
    val spark = dim.sparkSession
    val thresholdStr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // -1 (or any negative) disables broadcast entirely → every dim takes
    // the shuffle-hash escape
    val ceiling =
      if (thresholdStr.trim.startsWith("-")) 0L
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(thresholdStr)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dim.inputFiles
    // A dim with no file backing (view, in-memory frame) probes 0 bytes
    // on disk, which used to default it to the plain-join branch — with
    // broadcast off or the dim genuinely huge that silently reintroduces
    // the fact-sized sort-merge cliff (r15 advisory). Fall back to
    // Catalyst's own plan-stats size estimate, which is conservative
    // (unknown → defaultSizeInBytes, effectively +inf), so an
    // unknowable dim takes the bounded shuffle-hash escape while a
    // small LocalRelation still broadcasts.
    val bytes: BigInt =
      if (files.isEmpty) dim.queryExecution.optimizedPlan.stats.sizeInBytes
      else BigInt(files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        try p.getFileSystem(conf).getFileStatus(p).getLen
        catch { case _: java.io.IOException => 0L }
      }.sum)
    if (bytes > BigInt(ceiling)) fact.join(dim.hint("shuffle_hash"), cond, joinType)
    else fact.join(dim, cond, joinType)
  }

  /** The LIMIT-commutes-through-joins rewrite (q12's sf100star shape,
    * PERF 15f) as a reusable harness: decide the top-k on the ANCHOR
    * table alone — TakeOrdered over its scan, partial top-k per
    * partition, no shuffle — then semi-reduce the fact to the k anchors'
    * rows with a broadcast left-semi join (map-only over the fact). The
    * fact never shuffles at any scale; dims then attach to a ≤k-anchor
    * frame.
    *
    * LEGALITY preconditions — the caller must prove, per query (Catalyst
    * cannot: pushing a LIMIT through an aggregate needs functional-
    * dependency reasoning it doesn't have):
    *   1. every final sort key is an anchor column (exists pre-join);
    *   2. the final group keys are functionally determined by the
    *      anchor's key (unique far-side join keys), so each anchor row
    *      yields EXACTLY one output group — top-k groups ≡ top-k anchors;
    *   3. the eligibility filter is a pure anchor predicate (applied to
    *      `anchor` before calling);
    *   4. `order` is a total order (unique tiebreaker), so top-k is
    *      deterministic.
    * Queries ordering by POST-AGGREGATE measures (q01/q02/q09's counts)
    * fail precondition 1 and must aggregate first.
    *
    * Returns (top-k anchors, fact semi-reduced to them). The broadcast
    * is ≤k keys — always under any ceiling. */
  def topKFirst(anchor: DataFrame, order: Seq[Column], k: Int,
      fact: DataFrame, factKey: Column, anchorKey: Column): (DataFrame, DataFrame) = {
    val top = anchor.orderBy(order: _*).limit(k)
    val reduced = fact.join(broadcast(top.select(anchorKey.as("__k"))),
      factKey === col("__k"), "left_semi")
    (top, reduced)
  }

  /** Exact top-k rows per group with bounded memory: partial top-k per
    * input partition (sortWithinPartitions + per-group take via window on
    * the map side is not expressible declaratively, so we use the
    * two-aggregation form: rank within (group, partition) then global
    * rank over the survivors). For k ≪ group size this shrinks the
    * shuffle from |group| to ≤ k·partitions rows per group. */
  def twoPhaseTopKByKey(df: DataFrame, key: Column, order: Seq[Column], k: Int): DataFrame =
    twoPhaseTopKRanked(df, key, order, k, "__r").drop("__r")

  /** [[twoPhaseTopKByKey]] keeping the final 1-based rank as `rankCol`.
    * The rank is assigned by the second (per-key) window, which only ever
    * sees ≤ k·inputPartitions survivors per key — so "top k per query with
    * rank" never funnels a full candidate list through one reducer.
    * Requires a total order (unique tiebreaker) for a deterministic rank. */
  def twoPhaseTopKRanked(df: DataFrame, key: Column, order: Seq[Column], k: Int,
      rankCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val partial = Window.partitionBy(key, spark_partition_id()).orderBy(order: _*)
    val survivors = df
      .withColumn("__pr", row_number().over(partial))
      .where(col("__pr") <= k).drop("__pr")
    val global = Window.partitionBy(key).orderBy(order: _*)
    survivors.withColumn(rankCol, row_number().over(global))
      .where(col(rankCol) <= k)
  }

  object Bucketing {
    /** Write a DataFrame as a bucketed+sorted managed table. */
    def writeBucketed(df: DataFrame, db: String, table: String,
        bucketKey: String, nBuckets: Int): Unit = {
      val spark = df.sparkSession
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
      spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
      // in-memory catalog: a warehouse dir can outlive its table entry
      val loc = new org.apache.hadoop.fs.Path(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/$db.db/$table")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      df.write.mode(SaveMode.Overwrite)
        .bucketBy(nBuckets, bucketKey).sortBy(bucketKey)
        .format("parquet").saveAsTable(s"`$db`.`$table`")
    }

    /** Join two equally-bucketed tables on their bucket key: with
      * matching bucket counts Spark plans a sort-merge join with NO
      * exchange on either side. */
    def cojoin(spark: SparkSession, db: String, left: String, right: String,
        key: String, joinType: String = "inner"): DataFrame =
      spark.table(s"`$db`.`$left`").join(spark.table(s"`$db`.`$right`"), Seq(key), joinType)
  }
}

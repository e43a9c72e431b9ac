package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** End-to-end corpus-curation operators: the composition layer that turns
  * the individual dedup (d-series) and quality (t-series) primitives into
  * the two artifacts a training run actually consumes — a per-document
  * keep/drop ledger with reasons (p01) and a token-budgeted shard
  * assignment for the kept stream (p02).
  */
object Curation {

  // ---------------------------------------------------------------------
  // p01 — curation ledger: one row per document with its pipeline fate —
  // 'near_dup' (a non-keeper member of an exact-verified LSH cluster,
  // d08's semantics), 'low_quality' (fails t12's rule conjunction), or
  // 'kept'. Dedup outranks quality (a duplicate is dropped as a
  // duplicate even if it would also fail quality) so downstream loss
  // attribution adds up. This is the audit artifact a real pipeline
  // ships alongside the corpus: the d09 apply step materializes the
  // survivors, this explains everyone else. Scale: the cluster labels
  // come from the bucketed LSH machinery (never all-pairs), the quality
  // flags from per-doc aggregates; the composition itself is two
  // doc_id-keyed joins.
  // ---------------------------------------------------------------------
  /** The ledger over ANY (doc_id, lang, source) frame, its (doc_id,
    * label) near-dup labels and its t12 quality flags. */
  private[graft] def curationLedger(docs: DataFrame, labels: DataFrame,
      quality: DataFrame): DataFrame = {
    val nearDrop = labels
      .where(col("label") =!= col("doc_id"))
      .select(col("doc_id"), lit(true).as("is_near_dup"))
    val q = quality.select(col("doc_id"), col("keep").as("q_keep"))
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(nearDrop, Seq("doc_id"), "left_outer")
      .join(q, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("is_near_dup"), "near_dup")
          .when(!col("q_keep"), "low_quality")
          .otherwise("kept").as("status"))
      .orderBy(col("doc_id").asc)
  }

  def p01CurationLedger(spark: SparkSession, dir: String): DataFrame =
    curationLedger(Tables.load(spark, dir, "documents"), Dedup.Labels.serve(spark, dir),
      TextAnalysis.t12QualityFilter(spark, dir))

  // ---------------------------------------------------------------------
  // p02 — token-budget shard packing: assign every document a training
  // shard id by GLOBAL token prefix-sum in doc_id order (shard k holds
  // the docs whose cumulative token offset falls in
  // [k·TokensPerShard, (k+1)·TokensPerShard)) — how a loader turns a
  // corpus into fixed-budget work units without materializing an
  // intermediate sort.
  //
  // The prefix sum is HIERARCHICAL, never a corpus-global window (which
  // funnels every row through one reducer — the t07 lesson one level
  // up): doc_id ranges fold into buckets (width 128), buckets into
  // supers (4096 buckets each), and supers into further 4096-wide levels
  // RECURSIVELY until one level fits a single fan-out. Every window's
  // partition is bounded by the level width (4096 / 128 rows); only the
  // top level — guaranteed ≤ 4096 rows — combines through a broadcast
  // theta-join. The depth comes from the corpus's max doc_id (one
  // memoized scalar probe per (dir, layout), the skew-probe pattern), so
  // each extra 4096× of corpus really does add one more bounded level —
  // the top theta-join can never go quadratic in corpus size. Every
  // value is an exact integer so the decomposition is bit-identical to
  // the naive running sum, which is exactly what the DuckDB oracle
  // computes.
  // ---------------------------------------------------------------------
  val TokensPerShard = 4096L
  val PackBucketWidth = 128L
  val PackSuperBuckets = 4096L

  /** Level-offset frames above this many rows join back by key instead
    * of broadcasting (a 100 TB corpus has ~2e8 buckets — a legitimate
    * shuffle join; the frames 4096× up are KBs and broadcast). */
  val PackBroadcastMaxRows = 1L << 22

  def p02ShardPacking(spark: SparkSession, dir: String): DataFrame =
    shardPacking(spark, dir, PackBucketWidth, PackSuperBuckets)

  /** Shard packing over ANY (doc_id, tokens) frame — the DataFrame-in
    * core (specs shrink the layout to force deep recursion).
    * `bucketWidth` = docs per leaf window partition; `fanout` = keys
    * folded per level above the leaves. */
  def shardPacking(toks: DataFrame,
      bucketWidth: Long = PackBucketWidth,
      fanout: Long = PackSuperBuckets): DataFrame =
    hierPrefixSum(toks, Nil, bucketWidth, fanout)
      .select(col("doc_id"), col("tokens"), col("cum_before"))
      .withColumn("shard_id", expr(s"cum_before DIV $TokensPerShard"))
      .withColumn("offset_in_shard", expr(s"cum_before % $TokensPerShard"))
      .orderBy(col("doc_id").asc)

  /** Fixture wrapper: token counts estimated as ceil(chars/4) over the
    * driver corpus. */
  def shardPacking(spark: SparkSession, dir: String,
      bucketWidth: Long, fanout: Long): DataFrame =
    shardPacking(
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          ceil(length(col("text")) / 4.0).cast("long").as("tokens")),
      bucketWidth, fanout)

  /** Hierarchical doc_id-ordered running sum of `tokens` WITHIN each
    * `groupCols` combination (corpus-global when `groupCols` is empty
    * — p02's shape). Every window partitions by (groupCols, level key)
    * so partition size is bounded by the level width at every depth;
    * the ≤fanout-row-per-group top level combines through a broadcast
    * group-equi + key-theta join. Adds `cum_before` to the input
    * columns. Exact integers throughout — bit-identical to a naive
    * per-group walk, which is what the DuckDB oracles compute. */
  private def hierPrefixSum(toks: DataFrame,
      groupCols: Seq[String], bucketWidth: Long, fanout: Long): DataFrame = {
    require(bucketWidth > 0 && fanout > 1, "degenerate packing layout")
    val grp = groupCols.map(col)
    // largest key the leaf level can hold — decides the recursion depth
    // statically at plan time (memoized per (input plan, source-file
    // snapshot): one probe job per corpus+layout per JVM, like the skew
    // probe / anchor date; in-place overwrite of the source re-probes)
    val maxId = packMaxIdMemo.getOrElseUpdate(
      (toks.queryExecution.analyzed.semanticHash(),
        graft.plans.Scale.inputFilesDigest(toks)), {
      val r = toks.agg(max(col("doc_id"))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    })
    val keyed = toks.withColumn("__k0", expr(s"doc_id DIV $bucketWidth"))
    val wDoc = Window.partitionBy(grp :+ col("__k0"): _*).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    var out = keyed
      .withColumn("d_off", coalesce(sum(col("tokens")).over(wDoc), lit(0L)))
    // fold levels: offsets of level-i keys within their level-(i+1)
    // parent via a fanout-bounded window, then recurse on parent totals.
    // At least one fold always runs (the bucket-within-super window);
    // more are added while the current level could outgrow one fan-out.
    var totals = keyed.groupBy(grp :+ col("__k0").as("k"): _*)
      .agg(sum(col("tokens")).as("t"))
    var maxKey = maxId / bucketWidth
    var width = bucketWidth // doc_id divisor producing the current level's key
    var offCols = Seq(col("d_off"))
    var first = true
    while (first || maxKey + 1 > fanout) {
      first = false
      val withP = totals.withColumn("p", expr(s"k DIV $fanout"))
      val wLvl = Window.partitionBy(grp :+ col("p"): _*).orderBy(col("k").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = withP
        .withColumn("off", coalesce(sum(col("t")).over(wLvl), lit(0L)))
        .select(grp ++ Seq(col("k"), col("off")): _*)
      val keyCol = s"__k_$width" // unique per level; leaf key is __k0
      val offNamed = off.select(
        grp ++ Seq(col("k").as(keyCol), col("off").as(s"off_$width")): _*)
      val rhs = if (maxKey + 1 <= PackBroadcastMaxRows) broadcast(offNamed) else offNamed
      out = out.withColumn(keyCol, expr(s"doc_id DIV $width"))
        .join(rhs, groupCols :+ keyCol)
      offCols :+= col(s"off_$width")
      totals = withP.groupBy(grp :+ col("p").as("k"): _*).agg(sum(col("t")).as("t"))
      maxKey = maxKey / fanout
      width = width * fanout
    }
    // top level: ≤ fanout rows per group by construction — broadcast
    // theta-join (group-equi when grouped)
    val cond = groupCols.foldLeft(col("b.k") < col("a.k")) {
      (c, g) => c && col(s"b.$g") === col(s"a.$g")
    }
    val topOff = totals.as("a")
      .join(broadcast(totals.as("b")), cond, "left_outer")
      .groupBy(groupCols.map(g => col(s"a.$g").as(g)) :+ col("a.k").as("tk"): _*)
      .agg(coalesce(sum(col("b.t")), lit(0L)).as("top_off"))
    out
      .withColumn("tk", expr(s"doc_id DIV $width"))
      .join(broadcast(topOff), groupCols :+ "tk")
      .withColumn("cum_before", (offCols :+ col("top_off")).reduce(_ + _))
      .select(toks.columns.map(col) :+ col("cum_before"): _*)
  }

  /** Max doc_id per (input plan, source-file snapshot) — one probe job
    * per corpus+layout per JVM; in-place refresh re-probes. */
  private val packMaxIdMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), Long]

  // ---------------------------------------------------------------------
  // p03 — deterministic train/val/test split assignment, keyed on the
  // CONTENT hash (not doc_id, not rand()): h(text) mod 10 → 0-7 train,
  // 8 val, 9 test. Content keying gives the two properties a training
  // split must have at 100 TB: reproducible across runs / engines /
  // repartitioning (the t05 contract), and LEAK-FREE under exact
  // duplication — byte-identical documents land in the same split by
  // construction, so a dup surviving upstream dedup can never straddle
  // train and test. Pure map-only projection; codegen fuses it into the
  // scan.
  // ---------------------------------------------------------------------
  def p03SplitAssign(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.SharedHash.h31
    val slot = h31(col("text")) % 10
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), slot.as("slot"),
        when(slot <= 7, "train").when(slot === 8, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id").asc)
  }

  // ---------------------------------------------------------------------
  // p04 — mixture / sampling plan: per-source token counts plus the
  // downsampling rate that equalizes every source to the smallest one —
  // the "how much of each feed goes into the mix" decision a pretraining
  // data recipe starts from. One map-combinable aggregate over the
  // corpus; the corpus-wide minimum joins back as a broadcast scalar
  // (S8 pattern, kept in-plan via a cross join rather than a driver
  // fetch). Exact integers everywhere except the two final divisions,
  // which both engines evaluate bit-identically (t02 contract).
  // ---------------------------------------------------------------------
  def p04MixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.load(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(ceil(length(col("text")) / 4.0).cast("long")).as("n_tokens"))
    val minTok = perSource.agg(min(col("n_tokens")).as("min_tokens"))
    val total = perSource.agg(sum(col("n_tokens")).as("total_tokens"))
    perSource.crossJoin(broadcast(minTok)).crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens") / col("total_tokens")).as("token_share"),
        (col("min_tokens") / col("n_tokens")).as("sample_rate"),
        col("min_tokens").as("target_tokens"))
      .orderBy(col("source").asc)
  }

  // ---------------------------------------------------------------------
  // p05 — loss-attribution dataset card: the p01 ledger rolled up to
  // (source, status) with document AND token counts plus each status's
  // share of its source's tokens — the one-page answer to "where did my
  // data go": how much of each feed survived curation, and how much was
  // lost to duplication vs quality. Reuses the cached cluster-label
  // table through p01; the rollup itself is one map-combinable
  // aggregate over ≤ |sources|×|statuses| groups, with the per-source
  // totals joined back by broadcast.
  // ---------------------------------------------------------------------
  /** Per-(source, status) loss over a p01 `ledger` of the (doc_id, text)
    * frame `docs`. */
  private[graft] def lossAttribution(ledger: DataFrame, docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), ceil(length(col("text")) / 4.0).cast("long").as("tokens"))
    // persisted: the rollup feeds BOTH the output rows and the per-source
    // totals join-back — without it the whole p01+token subtree (doc scan,
    // labels join, quality rules, token join, groupBy) plans twice and
    // runtime exchange reuse does not recover it (interleaved sf1 A/B:
    // 33.6 unpersisted vs 14.1 CPU-s persisted, digest unchanged —
    // PERF 17e). The cached frame is ≤|sources|×|statuses| rows — the
    // materialization is the cheap side of the trade at any corpus size.
    val agg = ledger
      .select(col("doc_id"), col("source"), col("status"))
      .join(toks, Seq("doc_id"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("n_tokens"))
      .transform(Dedup.persistOnce)
    val tot = agg.groupBy(col("source")).agg(sum(col("n_tokens")).as("src_tokens"))
    agg.join(broadcast(tot), Seq("source"))
      .select(col("source"), col("status"), col("n_docs"), col("n_tokens"),
        (col("n_tokens") / col("src_tokens")).as("token_share"))
      .orderBy(col("source").asc, col("status").asc)
  }

  def p05LossAttribution(spark: SparkSession, dir: String): DataFrame =
    lossAttribution(p01CurationLedger(spark, dir), Tables.load(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // p06 — data-constrained epoch plan: per source, how many passes
  // (epochs) over its unique tokens the mix should take to pull every
  // feed up toward the LARGEST feed's token count, with repetition
  // capped at MaxEpochs (past ~4 epochs repeated data stops buying loss
  // — the data-constrained-scaling recipe), and the shortfall the cap
  // leaves unfilled. The complement of p04 (which downsamples every
  // feed to the smallest): together they bracket the mixing decision.
  // Exact BIGINT arithmetic end-to-end — ceil division is
  // (target + n - 1) DIV n, no doubles — over one map-combinable
  // per-source aggregate plus a broadcast scalar (S8 in-plan pattern).
  // ---------------------------------------------------------------------
  val MaxEpochs = 4L

  def p06EpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.load(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(ceil(length(col("text")) / 4.0).cast("long")).as("n_tokens"))
    val target = perSource.agg(max(col("n_tokens")).as("target_tokens"))
    perSource.crossJoin(broadcast(target))
      .withColumn("epochs",
        least(expr("(target_tokens + n_tokens - 1) DIV n_tokens"), lit(MaxEpochs)))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("target_tokens"),
        col("epochs"),
        least(col("epochs") * col("n_tokens"), col("target_tokens"))
          .as("planned_tokens"),
        (col("target_tokens") -
          least(col("epochs") * col("n_tokens"), col("target_tokens")))
          .as("shortfall"))
      .orderBy(col("source").asc)
  }

  // ---------------------------------------------------------------------
  // p07 — quality-curriculum plan: sources ranked by mean document
  // quality (t02's score) and assigned to three training phases,
  // highest-quality third last — the quality-ascending curriculum /
  // annealing recipe ("finish on your cleanest data"). The per-source
  // mean accumulates floor(score·1e9) integers in DECIMAL(38,0) (the
  // s04/s07 quantization contract) so the mean — and therefore the
  // rank — is layout-independent and bit-identical cross-engine. The
  // rank itself is a broadcast theta-join over the ≤|sources| rollup
  // rows (the t06 idiom), with (mean desc, source asc) as a total
  // order; phases are exact-integer terciles of the rank.
  // ---------------------------------------------------------------------
  val CurriculumPhases = 3L

  def p07CurriculumPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("source"))
    val scored = TextAnalysis.t02QualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    // NOT persisted although consumed three times (rank side "a",
    // broadcast rank side "b", the nSources scalar): an interleaved sf1
    // A/B measured 17.0 vs 17.6 CPU-s (PERF 17e) — runtime exchange
    // reuse already recovers the triplicated subtree here, unlike p05's
    // (where the reused exchange is hidden behind a join).
    val perSource = docs.join(scored, Seq("doc_id"))
      .select(col("source"),
        floor(col("quality_score") * lit(1e9)).cast(DecimalType(38, 0)).as("q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("q")).cast(DoubleType) / count(lit(1)) / lit(1e9)).as("mean_quality"))
    val outranks = col("b.mean_quality") > col("a.mean_quality") ||
      (col("b.mean_quality") === col("a.mean_quality") && col("b.source") < col("a.source"))
    val nSources = perSource.agg(count(lit(1)).as("ns"))
    perSource.as("a")
      .join(broadcast(perSource.select(col("source"), col("mean_quality")).as("b")),
        outranks, "left_outer")
      .groupBy(col("a.source").as("source"), col("a.n_docs").as("n_docs"),
        col("a.mean_quality").as("mean_quality"))
      .agg((count(col("b.source")) + 1).as("q_rank"))
      .crossJoin(broadcast(nSources))
      .select(col("source"), col("n_docs"), col("mean_quality"), col("q_rank"),
        (expr(s"(q_rank - 1) * $CurriculumPhases DIV ns") + 1).as("phase"))
      .orderBy(col("q_rank").asc)
  }

  // ---------------------------------------------------------------------
  // p08 — split-leakage audit: p03's content-hash split is leak-free
  // under EXACT duplication (byte-identical docs share a hash, hence a
  // split) — but near-dups hash differently, so an LSH cluster can
  // straddle train/test and leak paraphrased eval content into
  // training. This is the audit a pipeline runs before shipping a
  // split: every near-dup cluster (the d08 label artifact, served from
  // the catalog) joined to its members' split assignments; clusters
  // spanning >1 split are emitted with their per-split breakdown. The
  // remediation (reassign whole clusters by min-member hash) is a
  // policy choice; the audit is the engine's job. Scale: one doc_id
  // equi-join of the label table against the map-only split projection,
  // then a label-keyed aggregate — nothing beyond the artifacts that
  // already exist.
  // ---------------------------------------------------------------------
  /** Clusters of a (doc_id, label) table that straddle the (doc_id,
    * split) assignment `splits`. */
  private[graft] def splitLeakage(labels: DataFrame, splits: DataFrame): DataFrame =
    labels.join(splits.select(col("doc_id"), col("split")), Seq("doc_id"))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      .where(col("n_splits") > 1)
      .orderBy(col("cluster_id").asc)

  def p08SplitLeakage(spark: SparkSession, dir: String): DataFrame =
    splitLeakage(Dedup.Labels.serve(spark, dir), p03SplitAssign(spark, dir))

  // ---------------------------------------------------------------------
  // p09 — mixture APPLY: materialize the corpus that p04 plans — each
  // source hash-downsampled at exactly its sample_rate (min_tokens /
  // n_tokens), so every feed contributes ≈ the smallest feed's token
  // mass. Planning's apply twin (p04 decides the rates; this ships the
  // mix). The keep gate is pure 64-bit integer arithmetic —
  //   (h31(text) % M) * n_tokens < min_tokens * M,   M = 10000
  // — never the double rate, so the selection is bit-identical across
  // engines, runs, and partitionings (t05's content-hash contract), and
  // the rate resolution is 0.01%. Overflow headroom: the product stays
  // under 2^63 up to ~9·10^14 tokens (~3.7 PB of text) per source.
  // Scale: one map-combinable per-source aggregate, a ≤|sources|-row
  // broadcast of the rates, and a map-only filter — no shuffle of the
  // corpus itself.
  // ---------------------------------------------------------------------
  val MixtureHashMod = 10000L

  def p09MixtureApply(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.SharedHash.h31
    val docs = Tables.load(spark, dir, "documents")
    val perSource = docs.groupBy(col("source"))
      .agg(sum(ceil(length(col("text")) / 4.0).cast("long")).as("n_tokens"))
    val minTok = perSource.agg(min(col("n_tokens")).as("min_tokens"))
    val rates = perSource.crossJoin(broadcast(minTok))
    docs.join(broadcast(rates), Seq("source"))
      .where((h31(col("text")) % MixtureHashMod) * col("n_tokens")
        < col("min_tokens") * MixtureHashMod)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id").asc)
  }

  // ---------------------------------------------------------------------
  // p10 — context-window packing manifest: where each document lands
  // when the token stream is concatenated in doc_id order and chunked
  // into fixed-length training sequences (the standard concat-and-chunk
  // loader). Per doc: its first/last sequence, how many sequences it
  // spans, its offset inside the first one, and whether a window
  // boundary splits it — the stats a curriculum or attention-masking
  // decision needs before training. Everything derives in CLOSED FORM
  // from p02's hierarchical prefix sum (cum_before): no new shuffle, no
  // new window — the level-bounded machinery is reused as-is, so the
  // operator inherits p02's scale contract (no corpus-global window at
  // any level). Zero-token docs (possible only if the generator emitted
  // empty text) pin to a single boundary point via greatest(tokens, 1)
  // identically on both engines.
  // ---------------------------------------------------------------------
  val SeqTokens = 512L

  def p10SequencePack(spark: SparkSession, dir: String): DataFrame =
    p02ShardPacking(spark, dir)
      .select(col("doc_id"), col("tokens"), col("cum_before"))
      .withColumn("seq_first", expr(s"cum_before DIV $SeqTokens"))
      .withColumn("seq_last",
        expr(s"(cum_before + greatest(tokens, 1) - 1) DIV $SeqTokens"))
      .select(col("doc_id"), col("tokens"), col("cum_before"),
        col("seq_first"), col("seq_last"),
        (col("seq_last") - col("seq_first") + 1).as("n_seqs"),
        expr(s"cum_before % $SeqTokens").as("offset_in_seq"),
        when(col("seq_last") > col("seq_first"), 1L).otherwise(0L).as("is_split"))
      .orderBy(col("doc_id").asc)

  // ---------------------------------------------------------------------
  // p11 — shard-fill audit: per-shard QA over p02's packing — doc count,
  // filled tokens, fill ratio against the shard capacity, and how many
  // docs straddle the shard's trailing boundary (a loader that can't
  // split documents needs exactly this count to decide padding vs
  // document-wrapping). Derived entirely from p02's manifest: one
  // map-combinable aggregate keyed on shard_id — shard count is
  // corpus_tokens / 4096, so the aggregate output is ~5 orders of
  // magnitude smaller than the corpus. A doc's tokens count toward the
  // shard its FIRST token lands in (p02's assignment rule); the straddle
  // flag marks where its last token spills past that shard's capacity.
  // ---------------------------------------------------------------------
  def p11ShardFillAudit(spark: SparkSession, dir: String): DataFrame =
    p02ShardPacking(spark, dir)
      .select(col("doc_id"), col("tokens"), col("cum_before"), col("shard_id"),
        when(expr(s"(cum_before + greatest(tokens, 1) - 1) DIV $TokensPerShard")
          > col("shard_id"), 1L).otherwise(0L).as("straddles"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("tokens_assigned"),
        round(sum(col("tokens")).cast("double") / TokensPerShard, 6).as("fill_ratio"),
        sum(col("straddles")).as("n_straddling"))
      .orderBy(col("shard_id").asc)

  // ---------------------------------------------------------------------
  // p12 — per-source token-budget head cut: the DETERMINISTIC
  // alternative to p09's hash-rate sampling for equalizing a mixture.
  // The p04 equalization budget (the smallest source's token total) is
  // applied as an exact prefix cut in doc_id order within each source:
  // a doc is 'full' while its source's running total stays inside the
  // budget, 'partial' if the budget boundary lands inside it (the
  // loader keeps its head slice), 'cut' after. Unlike p09, the kept
  // set is a contiguous doc_id prefix — reproducible, and the budget
  // is hit EXACTLY (p09's hash gate only converges to the rate).
  // The within-source running sum is the p02 hierarchical machinery
  // with source in every partition key — a single source at 100 TB is
  // still ~20 TB, so a source-global window is as banned as a
  // corpus-global one; the top level is ≤fanout rows PER SOURCE and
  // combines through one broadcast source-equi + key-theta join. The
  // budget scalar stays in-plan (S8 pattern: aggregate → broadcast
  // cross join), never a driver round-trip.
  // ---------------------------------------------------------------------
  def p12BudgetHeadCut(spark: SparkSession, dir: String): DataFrame =
    budgetHeadCut(spark, dir, PackBucketWidth, PackSuperBuckets)

  /** Budget head cut over ANY (doc_id, source, tokens) frame — the
    * DataFrame-in core (specs shrink the layout to force deep recursion
    * through the grouped prefix sum). */
  def budgetHeadCut(toks: DataFrame,
      bucketWidth: Long = PackBucketWidth,
      fanout: Long = PackSuperBuckets): DataFrame = {
    val cum = hierPrefixSum(toks, Seq("source"), bucketWidth, fanout)
      .withColumnRenamed("cum_before", "cum_in_source")
    val budget = toks.groupBy(col("source"))
      .agg(sum(col("tokens")).as("src_tokens"))
      .agg(min(col("src_tokens")).as("budget"))
    cum.crossJoin(broadcast(budget))
      .select(col("doc_id"), col("source"), col("tokens"), col("cum_in_source"),
        when(col("cum_in_source") + col("tokens") <= col("budget"), lit("full"))
          .when(col("cum_in_source") < col("budget"), lit("partial"))
          .otherwise(lit("cut")).as("status"),
        greatest(least(col("budget") - col("cum_in_source"), col("tokens")),
          lit(0L)).as("tokens_taken"))
      .orderBy(col("doc_id").asc)
  }

  /** Fixture wrapper: ceil(chars/4) token estimate over the driver
    * corpus. */
  def budgetHeadCut(spark: SparkSession, dir: String,
      bucketWidth: Long, fanout: Long): DataFrame =
    budgetHeadCut(
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          ceil(length(col("text")) / 4.0).cast("long").as("tokens")),
      bucketWidth, fanout)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p12_budget_head_cut" -> p12BudgetHeadCut _,
    "p11_shard_fill" -> p11ShardFillAudit _,
    "p10_sequence_pack" -> p10SequencePack _,
    "p09_mixture_apply" -> p09MixtureApply _,
    "p08_split_leakage" -> p08SplitLeakage _,
    "p07_curriculum_plan" -> p07CurriculumPlan _,
    "p06_epoch_plan" -> p06EpochPlan _,
    "p05_loss_attribution" -> p05LossAttribution _,
    "p03_split_assign" -> p03SplitAssign _,
    "p04_mixture_plan" -> p04MixturePlan _,
    "p01_curation_ledger" -> p01CurationLedger _,
    "p02_shard_packing" -> p02ShardPacking _
  )

  val oracleSql: Map[String, String] = Map(
    "p12_budget_head_cut" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, ceil(length(text) / 4.0)::BIGINT AS tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, tokens,
         |         coalesce(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |           AS cum_in_source
         |  FROM t),
         |b AS (
         |  SELECT min(st)::BIGINT AS budget
         |  FROM (SELECT sum(tokens) AS st FROM t GROUP BY source))
         |SELECT doc_id, source, tokens, cum_in_source,
         |       CASE WHEN cum_in_source + tokens <= budget THEN 'full'
         |            WHEN cum_in_source < budget THEN 'partial'
         |            ELSE 'cut' END AS status,
         |       greatest(least(budget - cum_in_source, tokens), 0)::BIGINT
         |         AS tokens_taken
         |FROM c, b
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "p11_shard_fill" ->
      s"""WITH t AS (
         |  SELECT doc_id, ceil(length(text) / 4.0)::BIGINT AS tokens FROM documents),
         |c AS (
         |  SELECT doc_id, tokens,
         |         coalesce(sum(tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |           AS cum_before
         |  FROM t)
         |SELECT cum_before // $TokensPerShard AS shard_id,
         |       count(*) AS n_docs,
         |       CAST(sum(tokens) AS BIGINT) AS tokens_assigned,
         |       round(sum(tokens)::DOUBLE / $TokensPerShard, 6) AS fill_ratio,
         |       CAST(sum(CASE WHEN (cum_before + greatest(tokens, 1) - 1) // $TokensPerShard
         |                          > cum_before // $TokensPerShard
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
         |FROM c
         |GROUP BY 1
         |ORDER BY shard_id ASC NULLS FIRST""".stripMargin,

    "p10_sequence_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, ceil(length(text) / 4.0)::BIGINT AS tokens FROM documents),
         |c AS (
         |  SELECT doc_id, tokens,
         |         coalesce(sum(tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |           AS cum_before
         |  FROM t)
         |SELECT doc_id, tokens, cum_before,
         |       cum_before // $SeqTokens AS seq_first,
         |       (cum_before + greatest(tokens, 1) - 1) // $SeqTokens AS seq_last,
         |       (cum_before + greatest(tokens, 1) - 1) // $SeqTokens
         |         - cum_before // $SeqTokens + 1 AS n_seqs,
         |       cum_before % $SeqTokens AS offset_in_seq,
         |       CAST(CASE WHEN (cum_before + greatest(tokens, 1) - 1) // $SeqTokens
         |                      > cum_before // $SeqTokens
         |            THEN 1 ELSE 0 END AS BIGINT) AS is_split
         |FROM c
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "p09_mixture_apply" -> {
      val h = graft.functions.SharedHash.h31Sql("d.text")
      s"""WITH s AS (
         |  SELECT source,
         |         CAST(sum(ceil(length(text) / 4.0)::BIGINT) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |m AS (SELECT min(n_tokens) AS min_tokens FROM s)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d JOIN s ON d.source = s.source CROSS JOIN m
         |WHERE ($h % $MixtureHashMod) * s.n_tokens < m.min_tokens * $MixtureHashMod
         |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin
    },

    "p08_split_leakage" -> {
      val slot = graft.functions.SharedHash.h31Sql("text")
      s"""WITH RECURSIVE ${Dedup.recursiveLabelsSql},
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN $slot % 10 <= 7 THEN 'train'
         |              WHEN $slot % 10 = 8 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents)
         |SELECT l.cluster_id, count(*) AS n_docs,
         |       count(DISTINCT split) AS n_splits,
         |       CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |       CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
         |       CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         |FROM labels l JOIN sp ON l.doc = sp.doc_id
         |GROUP BY l.cluster_id
         |HAVING count(DISTINCT split) > 1
         |ORDER BY l.cluster_id ASC NULLS FIRST""".stripMargin
    },

    "p07_curriculum_plan" ->
      s"""WITH ${TextAnalysis.scoreBaseCtesSql},
         |qs AS (
         |  SELECT doc_id, ${TextAnalysis.scoreExprSql} AS s
         |  FROM base LEFT JOIN stophits USING (doc_id)),
         |dq AS (
         |  SELECT d.source, floor(qs.s * 1e9)::BIGINT AS q
         |  FROM documents d JOIN qs USING (doc_id)),
         |ps AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) / count(*) / 1e9
         |           AS mean_quality
         |  FROM dq GROUP BY 1),
         |r AS (
         |  SELECT a.source, a.n_docs, a.mean_quality,
         |         1 + count(b.source) AS q_rank
         |  FROM ps a LEFT JOIN ps b ON b.mean_quality > a.mean_quality
         |    OR (b.mean_quality = a.mean_quality AND b.source < a.source)
         |  GROUP BY 1, 2, 3),
         |n AS (SELECT count(*) AS ns FROM ps)
         |SELECT source, n_docs, mean_quality, q_rank,
         |       (q_rank - 1) * $CurriculumPhases // ns + 1 AS phase
         |FROM r CROSS JOIN n
         |ORDER BY q_rank ASC NULLS FIRST""".stripMargin,

    "p06_epoch_plan" ->
      s"""WITH s AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(ceil(length(text) / 4.0)::BIGINT) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |m AS (SELECT max(n_tokens) AS target_tokens FROM s),
         |e AS (
         |  SELECT source, n_docs, n_tokens, target_tokens,
         |         least((target_tokens + n_tokens - 1) // n_tokens, $MaxEpochs) AS epochs
         |  FROM s CROSS JOIN m)
         |SELECT source, n_docs, n_tokens, target_tokens, epochs,
         |       least(epochs * n_tokens, target_tokens) AS planned_tokens,
         |       target_tokens - least(epochs * n_tokens, target_tokens) AS shortfall
         |FROM e
         |ORDER BY source ASC NULLS FIRST""".stripMargin,

    "p05_loss_attribution" ->
      s"""WITH RECURSIVE ${Dedup.recursiveLabelsSql},
         |${TextAnalysis.qualityCtesSql},
         |neardrop AS (SELECT doc AS doc_id FROM labels WHERE doc <> cluster_id),
         |quality AS (
         |  SELECT doc_id, ${TextAnalysis.keepPredSql} AS q_keep
         |  FROM chars JOIN ws USING (doc_id) LEFT JOIN cov USING (doc_id)),
         |led AS (
         |  SELECT d.doc_id, d.source,
         |         CASE WHEN d.doc_id IN (SELECT doc_id FROM neardrop) THEN 'near_dup'
         |              WHEN NOT q.q_keep THEN 'low_quality'
         |              ELSE 'kept' END AS status,
         |         ceil(length(d.text) / 4.0)::BIGINT AS tokens
         |  FROM documents d JOIN quality q USING (doc_id)),
         |agg AS (
         |  SELECT source, status, count(*) AS n_docs,
         |         CAST(sum(tokens) AS BIGINT) AS n_tokens
         |  FROM led GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
         |        FROM agg GROUP BY 1)
         |SELECT agg.source, status, n_docs, n_tokens,
         |       n_tokens / src_tokens AS token_share
         |FROM agg JOIN tot ON agg.source = tot.source
         |ORDER BY agg.source ASC NULLS FIRST, status ASC NULLS FIRST""".stripMargin,

    "p03_split_assign" -> {
      val slot = graft.functions.SharedHash.h31Sql("text")
      s"""SELECT doc_id, lang, source, $slot % 10 AS slot,
         |       CASE WHEN $slot % 10 <= 7 THEN 'train'
         |            WHEN $slot % 10 = 8 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    },

    "p04_mixture_plan" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(ceil(length(text) / 4.0)::BIGINT) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |m AS (SELECT min(n_tokens) AS min_tokens,
        |             CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM s)
        |SELECT source, n_docs, n_tokens,
        |       n_tokens / total_tokens AS token_share,
        |       min_tokens / n_tokens AS sample_rate,
        |       min_tokens AS target_tokens
        |FROM s CROSS JOIN m
        |ORDER BY source ASC NULLS FIRST""".stripMargin,

    "p01_curation_ledger" ->
      s"""WITH RECURSIVE ${Dedup.recursiveLabelsSql},
         |${TextAnalysis.qualityCtesSql},
         |neardrop AS (SELECT doc AS doc_id FROM labels WHERE doc <> cluster_id),
         |quality AS (
         |  SELECT doc_id, ${TextAnalysis.keepPredSql} AS q_keep
         |  FROM chars JOIN ws USING (doc_id) LEFT JOIN cov USING (doc_id))
         |SELECT d.doc_id, d.lang, d.source,
         |       CASE WHEN d.doc_id IN (SELECT doc_id FROM neardrop) THEN 'near_dup'
         |            WHEN NOT q.q_keep THEN 'low_quality'
         |            ELSE 'kept' END AS status
         |FROM documents d JOIN quality q USING (doc_id)
         |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin,

    "p02_shard_packing" ->
      s"""WITH t AS (
         |  SELECT doc_id, ceil(length(text) / 4.0)::BIGINT AS tokens FROM documents),
         |c AS (
         |  SELECT doc_id, tokens,
         |         coalesce(sum(tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |           AS cum_before
         |  FROM t)
         |SELECT doc_id, tokens, cum_before,
         |       cum_before // $TokensPerShard AS shard_id,
         |       cum_before % $TokensPerShard AS offset_in_shard
         |FROM c
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
  )
}

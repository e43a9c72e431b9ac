package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.operators._

/** Physical-plan regressions: the scale properties (pushdown, pruning,
  * broadcast choice, top-k, codegen) that make these plans survive a
  * 100 TB / 1000-executor run. A refactor that silently loses one of
  * these still passes correctness — these tests are what catch it. */
class PlanSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Map-only-walk pin, r14 form: the only exchanges allowed are the
    * spreadIfNarrow ROUNDROBIN (fires on narrow fixture/single-row-group
    * files, structural no-op on real multi-split corpora — PERF.md 14b)
    * and the final ORDER BY's RANGE partitioning. Any hashpartitioning
    * exchange means the per-row work started keying data — the scale
    * hazard these pins exist to catch. */
  private def assertOnlySpreadAndSortExchanges(plan: String, msg: String): Unit = {
    assert(!plan.contains("Exchange hashpartitioning"),
      s"$msg (hashpartitioning exchange found):\n${plan.take(2000)}")
    val exchanges = plan.linesIterator.count(_.trim.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges <= 2, s"$msg ($exchanges exchanges):\n${plan.take(2000)}")
  }

  test("q01: status filter is pushed into the orders parquet scan") {
    val plan = formatted(CartAnalytics.q01TopAbandonedParts(spark, sf))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("EqualTo(o_orderstatus,O)"),
      s"o_orderstatus='O' must reach the scan:\n$plan")
  }

  test("q01: column pruning — orders scan reads only the referenced columns") {
    val plan = formatted(CartAnalytics.q01TopAbandonedParts(spark, sf))
    val ordersScan = plan.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("o_orderkey")).getOrElse(fail("no orders scan found"))
    assert(!ordersScan.contains("o_comment") && !ordersScan.contains("o_clerk"),
      s"orders scan reads unused columns:\n$ordersScan")
  }

  test("q01: ORDER BY + LIMIT plans as TakeOrderedAndProject (no global sort)") {
    val plan = formatted(CartAnalytics.q01TopAbandonedParts(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k lost:\n$plan")
  }

  test("q01: right-outer join survives the IS-abandoned filter (EliminateOuterJoin must not fire)") {
    val plan = formatted(CartAnalytics.q01TopAbandonedParts(spark, sf))
    assert(plan.contains("RightOuter") || plan.contains("LeftOuter"),
      s"outer join was converted away — line-less orders would vanish:\n$plan")
  }

  test("q12: all five dimension joins broadcast (only the fact join may shuffle)") {
    val plan = formatted(CartAnalytics.q12ExportJoin(spark, sf))
    // count TREE nodes only ("BroadcastHashJoin (7)"), not the detail
    // headers ("(7) BroadcastHashJoin") — formatted explain prints each
    // node twice and double-counting would let 2 regressed joins pass
    val nBroadcast = plan.linesIterator
      .count(_.trim.matches("""\(\d+\) BroadcastHashJoin.*"""))
    assert(nBroadcast >= 5, s"expected >=5 broadcast joins, got $nBroadcast:\n$plan")
  }

  test("q12: top-50 is decided on the orders scan and lineitem is semi-reduced " +
      "before any wide join (zero fact shuffles at any scale)") {
    // the sort keys are group keys that exist pre-join and every join
    // key is unique on its far side, so top-50 groups ≡ top-50 abandoned
    // orders — the fact never shuffles (r15; PERF 15f: both fact-
    // shuffling shapes DISK-FULLed sf100star at default knobs)
    val plan = formatted(CartAnalytics.q12ExportJoin(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 must come from a TakeOrdered over orders, not a global sort:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"lineitem must be semi-reduced to the 50 orders before the outer join:\n$plan")
    val smj = plan.linesIterator.count(_.trim.matches("""\(\d+\) SortMergeJoin.*"""))
    assert(smj === 0, s"no fact-sized sort-merge join should remain:\n$plan")
  }

  test("q12: past the broadcast ceiling every dim join falls back to " +
      "shuffle-hash, never a fact-sized sort-merge (r14 verdict task 4)") {
    // ceiling -1 = broadcast disabled = every dim is "too big": the
    // strongest form of the sf100star default-knob cliff (PERF 14d,
    // five chained fact-sized SMJs → >56 GB spill → DISK-FULL). The
    // escape (Scale.dimJoin) must hint SHUFFLE_HASH on each dim side;
    // only the fact⋈fact join may sort-merge.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = formatted(CartAnalytics.q12ExportJoin(spark, sf))
      val nShj = plan.linesIterator
        .count(_.trim.matches("""\(\d+\) ShuffledHashJoin.*"""))
      val nSmj = plan.linesIterator
        .count(_.trim.matches("""\(\d+\) SortMergeJoin.*"""))
      assert(nShj >= 5, s"expected >=5 shuffle-hash dim joins, got $nShj:\n$plan")
      assert(nSmj <= 1, s"dim joins must not sort-merge (fact join only), got $nSmj:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dimJoin on a non-file-backed dim uses Catalyst's stats, not a 0-byte " +
      "file probe: small in-memory dims broadcast, big ones shuffle-hash (ADVICE r15)") {
    import graft.plans.Scale
    import org.apache.spark.sql.functions.col
    val fact = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey").as("k"), col("o_totalprice"))
    // small LocalRelation: no input files, but plan stats are tiny →
    // must stay on the plain branch and broadcast
    val small = spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("k", "v")
    assert(small.inputFiles.isEmpty, "fixture must be non-file-backed")
    val pSmall = formatted(Scale.dimJoin(fact, small, fact("k") === small("k"), "left_outer"))
    assert(pSmall.contains("BroadcastHashJoin"),
      s"a 2-row in-memory dim must broadcast:\n$pSmall")
    // big Range-backed dim: no input files, stats ~8 B/row ≫ 10 MB
    // ceiling → must take the bounded shuffle-hash escape (the old
    // 0-byte probe defaulted it to plain join → fact-sized sort-merge)
    val big = spark.range(20L << 20).toDF("k")
    assert(big.inputFiles.isEmpty, "fixture must be non-file-backed")
    val pBig = formatted(Scale.dimJoin(fact, big, fact("k") === big("k"), "left_outer"))
    assert(pBig.contains("ShuffledHashJoin") && !pBig.contains("SortMergeJoin"),
      s"an over-ceiling statsed dim must shuffle-hash, never sort-merge:\n$pBig")
  }

  test("q05: nation dim join is broadcast, not shuffled") {
    val plan = formatted(CartAnalytics.q05AbandonedByCustomerNation(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"nation join should broadcast:\n$plan")
  }

  test("d01: exact dedup is a single hash aggregate with partial (map-side) combine") {
    val plan = formatted(Dedup.d01ExactDedup(spark, sf))
    assert(plan.linesIterator.count(_.trim.startsWith("+- HashAggregate")) +
      plan.linesIterator.count(_.trim.startsWith("HashAggregate")) >= 2,
      s"expected partial+final HashAggregate pair:\n$plan")
  }

  test("t03: token counting is map-only — no KEY shuffle before the sort") {
    val plan = formatted(TextAnalysis.t03TokenCounts(spark, sf))
    // allowed: ONE roundrobin exchange (spreadIfNarrow on the tiny
    // fixture file, a no-op on real multi-split corpora — PERF.md 14b)
    // and the final ORDER BY's rangepartitioning. A hashpartitioning
    // exchange would mean the per-row projection started keying data —
    // that is the scale hazard this pin exists to catch.
    assertOnlySpreadAndSortExchanges(plan, "per-row projection must not key-shuffle")
  }

  test("t04: fingerprint is map-only — no aggregate, only the result-sort exchange") {
    val plan = formatted(TextAnalysis.t04Fingerprint(spark, sf))
    assert(!plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate") &&
      !plan.contains("SortAggregate"),
      s"per-doc folds must be array expressions, not a groupBy:\n${plan.take(2000)}")
    // only the spreadIfNarrow roundrobin (fires on the tiny fixture
    // file; no-op at scale) and the final ORDER BY's range exchange
    assertOnlySpreadAndSortExchanges(plan, "only spread + final ORDER BY may shuffle")
  }

  test("d03: the derivation serves the persisted signature/shingle caches " +
      "(InMemoryTableScan); the query itself serves the scored_* artifact") {
    // derive body: the in-JVM persistOnce caches still carry the build
    val derive = Dedup.scoredCandidatesOf(
      graft.Tables.load(spark, sf, "documents"))
    derive.count() // materialize caches
    val dplan = derive.queryExecution.executedPlan.toString
    assert(dplan.contains("InMemoryTableScan") || dplan.contains("TableCacheQueryStage"),
      s"signature/shingle caches not used:\n${dplan.take(2000)}")
    // query side: d03 and d14 read the scored artifact, no band joins
    Seq("d03" -> Dedup.d03MinhashLsh(spark, sf),
      "d14" -> Dedup.d14ThresholdSweep(spark, sf)).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(graft.sources.Artifacts.Db) && plan.contains("scored_"),
        s"$name must read the scored artifact:\n${plan.take(2000)}")
      assert(!plan.toLowerCase.contains("trigram"),
        s"$name must not re-derive shingles per query:\n${plan.take(2000)}")
    }
  }

  test("d05: all-pairs baseline plans a codegen'd equi join — no nested-loop, no cartesian") {
    // the theta form (vec_id < vec_id) planned BroadcastNestedLoopJoin,
    // which executes OUTSIDE whole-stage codegen: every pair paid an
    // interpreted condition + interpreted graft_dot (142 s vs 7 s at 20k
    // vectors). The salted single-cell self-join must keep it equi.
    val plan = formatted(Dedup.d05EmbeddingNeardup(spark, sf))
    // the constant-cell fan histogram still rides a 1-row broadcast
    // (the repo's scalar-join idiom — the constant key folds out of the
    // equi condition); the PAIR join itself must be an equi shuffle join
    assert(!plan.contains("CartesianProduct"),
      s"d05 planned a cartesian:\n${plan.take(2000)}")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"d05 pair join fell back to a non-codegen loop:\n${plan.take(2000)}")
  }

  test("d16: containment candidates come from the band join — no cartesian anywhere") {
    // pin the DERIVATION body: d16 itself serves the persisted audit
    // artifact (see the serve-path test below)
    val plan = formatted(Dedup.d16Derive(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"containment audit must stay O(band collisions):\n${plan.take(2000)}")
  }

  test("d07/d15/d16 serve their persisted artifacts — no per-query shingle re-derivation (r16)") {
    // the s12/edges contract applied to the d-chain (r15 verdict task 3):
    // pair/audit tables are index state; the query-side plan is a table
    // scan plus cheap consumption (top-k for d07, anti-join for d15,
    // re-sort for d16) — never the h60/shingle walk
    val db = graft.sources.Artifacts.Db
    Seq(
      ("d07", "contam_", Dedup.d07Contamination(spark, sf)),
      ("d15", "contam_", Dedup.d15DecontaminateApply(spark, sf)),
      ("d16", "contaud_", Dedup.d16ContainmentAudit(spark, sf))).foreach {
      case (name, prefix, df) =>
        val physical = df.queryExecution.executedPlan.toString
        assert(physical.contains(db) && physical.contains(prefix),
          s"$name must read its persisted artifact:\n$physical")
        assert(!physical.toLowerCase.contains("trigram"),
          s"$name must not re-derive shingles per query:\n$physical")
    }
  }

  test("t18: frequency spectrum is aggregates + a broadcast self-join — no window, no sort-merge") {
    val plan = formatted(TextAnalysis.t18FreqSpectrum(spark, sf))
    assert(!plan.contains("Window"), s"no window needed:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the tiny spectrum must broadcast:\n${plan.take(2000)}")
  }

  test("p10: sequence pack adds no exchange beyond p02's prefix-sum plan") {
    def exchanges(plan: String): Int = "(?<!Reused)Exchange".r.findAllIn(plan).size
    val p02 = formatted(Curation.p02ShardPacking(spark, sf))
    val p10 = formatted(Curation.p10SequencePack(spark, sf))
    assert(exchanges(p10) <= exchanges(p02),
      s"p10 must be closed-form over p02's cum_before (p02=${exchanges(p02)}, p10=${exchanges(p10)})")
  }

  test("s14: drift audit is two partial-aggregated slices + an L-row broadcast join") {
    val plan = formatted(Similarity.s14CentroidDrift(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"label-row join must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"no corpus-sized join allowed:\n${plan.take(2000)}")
  }

  test("p11: shard-fill audit adds only the per-shard aggregate on top of p02") {
    def exchanges(plan: String): Int = "(?<!Reused)Exchange".r.findAllIn(plan).size
    val p02 = formatted(Curation.p02ShardPacking(spark, sf))
    val p11 = formatted(Curation.p11ShardFillAudit(spark, sf))
    // + the shard aggregate's shuffle and the audit's own result sort
    assert(exchanges(p11) <= exchanges(p02) + 2,
      s"expected two extra exchanges at most (p02=${exchanges(p02)}, p11=${exchanges(p11)})")
  }

  test("e14: percentile selection runs over the gap histogram — totals broadcast, no cartesian") {
    val plan = formatted(EventsAnalytics.e14InterarrivalAudit(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"per-type totals must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"selection must stay histogram-sized:\n${plan.take(2000)}")
  }

  test("e13: replay dedup is one hash aggregate over the union — no join, no window") {
    val plan = formatted(EventsAnalytics.e13ReplayDedup(spark, sf))
    assert(plan.contains("HashAggregate"), s"expected hash aggregate:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      s"one aggregate suffices:\n${plan.take(2000)}")
  }

  test("p09: mixture apply broadcasts the rate table — the corpus is never shuffled") {
    val plan = formatted(Curation.p09MixtureApply(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"rate join should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join would move the whole corpus at 100 TB:\n$plan")
  }

  test("s01: brute-force ANN broadcasts the probe set") {
    val plan = formatted(Similarity.s01AnnBruteforce(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query set should broadcast:\n$plan")
  }

  test("no query plans a zero-partition window (single-reducer scale hazard)") {
    // a Window with an empty partitionSpec moves its ENTIRE input through
    // one task — the exact anti-pattern the bench log flags as
    // `WindowExec: No Partition Defined`. None of the engine's plans may
    // contain one — INCLUDING inside persisted subtrees, which appear as
    // InMemoryRelation leaves and would otherwise hide their interior.
    // Known scope limit: localCheckpoint'ed subtrees (the d06/d08
    // propagation loop) execute during construction and surface only as
    // LogicalRDD leaves, so their interiors are not inspectable here —
    // they contain no windows by construction (joins+aggregates only).
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.window.WindowExec

    def badPhysical(p: SparkPlan): Seq[String] = p.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w.nodeName)
      case a: AdaptiveSparkPlanExec => badPhysical(a.executedPlan)
      case s: InMemoryTableScanExec => badPhysical(s.relation.cachedPlan)
    }.flatten
    def badLogical(p: LogicalPlan): Seq[String] = p.collect {
      case w: LWindow if w.partitionSpec.isEmpty => Seq(w.nodeName)
      case r: InMemoryRelation => badPhysical(r.cachedPlan)
    }.flatten

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val bad = badLogical(fn(spark, sf).queryExecution.optimizedPlan)
      assert(bad.isEmpty,
        s"$name plans an unpartitioned window:\n${bad.mkString("\n")}")
    }
  }

  test("d07: the eval-side contamination join is broadcast (train side never shuffles)") {
    // pin the DERIVATION body (what the artifact build runs): d07 itself
    // serves the persisted pair artifact
    val plan = formatted(Dedup.contamPairsDerive(spark, sf))
    assert(plan.linesIterator.exists(_.trim.matches("""\(\d+\) BroadcastHashJoin.*""")),
      s"eval⋈train must broadcast the eval shingles:\n$plan")
  }

  test("d04: banded candidate generation — no cartesian / nested-loop pair join") {
    val plan = formatted(Dedup.d04Simhash(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"simhash pair stage regressed to an all-pairs join:\n$plan")
  }

  test("s01/s02/s03/s05: per-query top-k runs the two-phase partial rank") {
    Seq(
      "s01" -> Similarity.s01AnnBruteforce(spark, sf),
      "s02" -> Similarity.s02AnnLshBuckets(spark, sf),
      "s03" -> Similarity.s03AnnIvf(spark, sf),
      "s05" -> Similarity.s05AnnIvfMultiprobe(spark, sf)).foreach { case (name, df) =>
      val plan = formatted(df).toLowerCase
      assert(plan.contains("spark_partition_id"),
        s"$name lost the partial (per-partition) rank stage")
    }
  }

  test("s04: centroid sums are bounded decimal aggregates, not per-group collected arrays") {
    val plan = formatted(Similarity.s04CentroidOutliers(spark, sf))
    assert(!plan.contains("collect_list(struct(vec_id"),
      s"per-(label,dim) vector collection is back — unbounded group memory:\n$plan")
  }

  test("q22: orders scan reads only the two referenced columns") {
    val plan = formatted(CartAnalytics.q22WindowAnalytics(spark, sf))
    val scan = plan.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("o_orderdate")).getOrElse(fail("no orders scan found"))
    assert(scan.contains("o_totalprice") && !scan.contains("o_orderstatus") &&
      !scan.contains("o_custkey"),
      s"monthly rollup must prune to (o_orderdate, o_totalprice):\n$scan")
  }

  test("q23: grouping sets plan one Expand over ONE orders scan, not a scan per set") {
    val plan = formatted(CartAnalytics.q23GroupingSets(spark, sf))
    val nExpand = plan.linesIterator.count(_.trim.matches("""\(\d+\) Expand.*"""))
    val nScans = plan.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet.*"""))
    assert(nExpand === 1 && nScans === 1,
      s"expected 1 Expand over 1 scan, got $nExpand/$nScans:\n$plan")
  }

  test("t10: HLL sketch partial-aggregates map-side (mergeable state, one shuffle)") {
    val plan = formatted(TextAnalysis.t10SketchCardinality(spark, sf))
    assert(plan.contains("partial_approx_count_distinct"),
      s"approx_count_distinct must partial-aggregate before the shuffle:\n$plan")
  }

  test("t07: no window ranks a raw stratum — every window input is histogram- or bucket-bounded") {
    // the few-key hazard one step past the zero-partition check: a window
    // partitioned by a bounded-cardinality stratum column (lang) directly
    // over the corpus puts stratumSize rows on ONE reducer. In t07 every
    // window must instead consume either an Aggregate (the L×B histogram)
    // or a Join (the boundary-bucket restriction) — a window whose child
    // subtree reaches the scan without one of those is the anti-pattern.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => LWindow}
    val plan = TextAnalysis.t07StratifiedSample(spark, sf).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "t07 should still rank inside the boundary bucket")
    windows.foreach { w =>
      val bounded = w.child.collectFirst {
        case _: Aggregate => (); case _: Join => ()
      }.isDefined
      assert(bounded,
        s"window over an unbounded stratum partition:\n${w.treeString.take(1500)}")
    }
  }

  test("s06: the label-pair stage broadcasts (no shuffle of the centroid table)") {
    val plan = formatted(Similarity.s06LabelAffinity(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"L-row centroid pairing should broadcast:\n$plan")
  }

  test("t11: PII scan is map-only — regex work fuses into the scan, no key shuffle") {
    val plan = formatted(TextAnalysis.t11PiiScan(spark, sf))
    // like t03: spread roundrobin + the final ORDER BY's range exchange
    assertOnlySpreadAndSortExchanges(plan, "per-row scan projection must not key-shuffle")
  }

  test("d09: apply composes semi + anti joins, no cartesian") {
    val plan = formatted(Dedup.d09DedupApply(spark, sf))
    assert(plan.contains("LeftSemi"), s"exact-keeper filter should be a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"near-dup drop should be an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("s07: cell stats partial-aggregate after a MAP-ONLY assignment (no join, no window, no corpus shuffle before agg)") {
    val plan = formatted(Similarity.s07IvfCellStats(spark, sf))
    // the centroid table is inlined as a literal, so assignment needs no
    // join at all — the former broadcast+window form shuffled n×k rows
    assert(!plan.contains("Join"), s"assignment should be a literal map pass:\n$plan")
    assert(!plan.contains("Window"), s"no vec_id window should remain:\n$plan")
    assert(plan.linesIterator.count(_.trim.matches("""\(\d+\) HashAggregate.*""")) >= 2,
      s"expected partial+final aggregate pair over the cells:\n$plan")
  }

  test("s09: knn-graph pairing is bucket-equi with the two-phase rank — never all-pairs") {
    // pin the BUILD body: s09 itself serves the persisted edge artifact,
    // so its plan is a table scan once the artifact exists
    val plan = formatted(Similarity.knnGraphRanked(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"corpus-wide knn must stay inside LSH buckets:\n$plan")
    assert(plan.toLowerCase.contains("spark_partition_id"),
      s"s09 lost the partial (per-partition) rank stage:\n$plan")
  }

  test("s08: the audit reads the PERSISTED edge artifact — never a per-query edge re-derivation") {
    // r13's one wrong-way sweep row: s08's cost rode on whether d08's
    // persistOnce caches were still resident in the JVM. The contract is
    // now structural — the pair set is the served edges_* parquet table,
    // so the plan must scan the artifact db and contain none of the edge
    // DERIVATION machinery (minhash posexplode, band aggregate).
    val df = Similarity.s08CrossmodalAudit(spark, sf)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains(graft.sources.Artifacts.Db) && physical.contains("edges_"),
      s"pair set must come from the persisted edge artifact:\n$physical")
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"unexpected pair blowup:\n$plan")
    // with the artifact, s08 touches documents only THROUGH the edge
    // table: no scan of the raw corpus (shingle/minhash machinery) left
    assert(!physical.contains("documents.parquet"),
      s"edge derivation must not be re-run inside s08:\n$physical")
  }

  test("d11: the pair-count joins against the tiny size table broadcast") {
    val plan = formatted(Dedup.d11SourceOverlap(spark, sf))
    assert(plan.linesIterator.count(_.trim.matches("""\(\d+\) BroadcastHashJoin.*""")) >= 2,
      s"per-source size lookups should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("p02: prefix-sum windows are all level-bounded partitions; top level broadcasts") {
    // the suite-wide zero-partition ban already covers the empty spec;
    // here pin that each window partitions by a hierarchy level column
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = Curation.p02ShardPacking(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.size >= 2, "expected the within-super and within-bucket windows")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty))
    val plan = formatted(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the super-level combine should broadcast the S-row totals:\n$plan")
  }

  test("p02 recursion: every added fold level is a bounded-partition window; top still broadcasts") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // (4,4) on 500 docs forces three fold levels above the doc window —
    // each must partition by its level key (never a zero-partition
    // corpus-global window), and the ≤fanout-row top must broadcast
    val df = Curation.shardPacking(spark, sf, 4L, 4L)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.size >= 4, s"expected doc window + 3 fold levels, got ${windows.size}")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty))
    val plan = formatted(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"top-level combine should broadcast:\n$plan")
  }

  test("p08: leakage audit is one doc_id equi-join over the served label artifact — no cartesian") {
    val df = Curation.p08SplitLeakage(spark, sf)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"unexpected pair blowup:\n$plan")
    // the split side stays a map-only projection fused into its scan:
    // no aggregate before the doc_id join on that branch
    assert(df.queryExecution.executedPlan.toString.contains(graft.sources.Artifacts.Db),
      "labels must come from the persisted artifact table")
  }

  test("e10: transition probabilities join the per-state totals via broadcast") {
    val plan = formatted(EventsAnalytics.e10Transitions(spark, sf))
    assert(plan.linesIterator.count(_.trim.matches("""\(\d+\) BroadcastHashJoin.*""")) >= 1,
      s"the ≤|types| totals table should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("p03: split assignment is map-only — hash fuses into the scan, no shuffle before the sort") {
    val plan = formatted(Curation.p03SplitAssign(spark, sf))
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    // like t03/t11: only the final ORDER BY's range exchange is allowed
    assert(exchanges <= 2, s"per-row hash projection must not shuffle:\n$plan")
  }

  test("t14/d12: the per-(doc, key) count frame is the served artifact and " +
      "df rides ONE key-partitioned window (r18: no groupBy+join-back)") {
    Seq("wtf_" -> TextAnalysis.t14RarityScore(spark, sf),
        "spans_" -> Dedup.d12BoilerplateSpans(spark, sf)).foreach { case (kind, df) =>
      val plan = formatted(df)
      assert(plan.contains(s"graft_artifacts.$kind"),
        s"$kind artifact scan missing:\n${plan.take(2000)}")
      assert(plan.contains("Window"),
        s"df must ride a window on the key exchange:\n${plan.take(2000)}")
      // the window replaces the old groupBy(key)+join-back: the key is
      // exchanged once, so the frame must not be shuffled a second time
      val keyCol = if (kind == "wtf_") "word" else "g"
      val keyExchanges = plan.linesIterator
        .count(l => l.contains("Exchange hashpartitioning(") && l.contains(keyCol + "#"))
      assert(keyExchanges <= 1,
        s"expected one $keyCol-keyed exchange, got $keyExchanges:\n${plan.take(2000)}")
    }
  }

  test("s10: the recall join is hash-equi over the two ranked sets, no extra corpus pass") {
    val plan = formatted(Similarity.s10AnnRecall(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
    // both sides keep the two-phase partial rank of their parent chains
    assert(plan.toLowerCase.contains("spark_partition_id"),
      s"s10 lost the parents' partial rank stages:\n$plan")
  }

  test("q25: the fact table pre-aggregates to the daily grain before the RANGE window") {
    val plan = formatted(CartAnalytics.q25RollingWindow(spark, sf))
    assert(plan.linesIterator.count(_.trim.matches("""\(\d+\) HashAggregate.*""")) >= 2,
      s"expected partial+final daily aggregate below the window:\n$plan")
    assert(plan.contains("Window"), s"expected a window node:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("t15: vocab growth is two partial-aggregated rollups, no window") {
    val plan = formatted(TextAnalysis.t15VocabGrowth(spark, sf))
    assert(plan.linesIterator.count(_.trim.matches("""\(\d+\) HashAggregate.*""")) >= 3,
      s"expected partial+final aggregate pairs:\n$plan")
    assert(!plan.contains("Window"), s"no window should be needed:\n$plan")
  }

  test("p05: the per-source totals join back via broadcast") {
    val plan = formatted(Curation.p05LossAttribution(spark, sf))
    assert(plan.linesIterator.count(_.trim.matches("""\(\d+\) BroadcastHashJoin.*""")) >= 1,
      s"the ≤|sources| totals table should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("p05: the (source,status) rollup is persisted — the ledger subtree plans once") {
    // r17: unpersisted, the totals join-back replans the whole
    // p01+token subtree (doc scan, labels join, quality rules) a second
    // time and runtime exchange reuse does not recover it — measured
    // 33.6 → 14.1 CPU-s at sf1 (PERF 17e). The pin: the rollup is
    // cached, and the labels artifact feeds the plan through exactly
    // one scan subtree (it appeared twice before the fix).
    val plan = formatted(Curation.p05LossAttribution(spark, sf))
    assert(plan.contains("InMemoryTableScan"),
      s"the (source,status) rollup must be persisted:\n$plan")
    val labelScans = plan.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet spark_catalog\.graft_artifacts\.labels_.*"""))
    assert(labelScans == 1,
      s"expected ONE labels-artifact scan (subtree planned once), got $labelScans:\n$plan")
  }

  test("s12: semdedup pair stage is a cell-equi join — no cartesian, no nested loop over the corpus") {
    // pin the DERIVATION body: s12 itself serves the persisted verdict
    // artifact (next test), so its own plan is a table scan
    val plan = formatted(Similarity.s12Derive(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"within-cell pairing must be equi:\n$plan")
    // the only nested-loop joins allowed are the K-row centroid
    // broadcasts — one per cell-assignment reference (a-side, b-side, base)
    val bnl = plan.linesIterator.count(_.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnl <= 3, s"corpus-side nested loop joins:\n$plan")
    // the pair stage itself must be an equi join on cell
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"cell join lost its equi key:\n$plan")
  }

  test("s12: the query reads the PERSISTED verdict artifact — never a per-query Σ cell² re-derivation") {
    // the s08/edges contract applied to SemDeDup (r15): the sweep burns
    // ~190 s of executor CPU per derivation at sf10full, so it is index
    // state — built once by SemVerdicts, served from the semv_* table.
    val physical = Similarity.s12Semdedup(spark, sf).queryExecution.executedPlan.toString
    assert(physical.contains(graft.sources.Artifacts.Db) && physical.contains("semv_"),
      s"verdicts must come from the persisted artifact:\n$physical")
    assert(!physical.contains("embeddings.parquet"),
      s"the pair sweep must not re-run inside s12:\n$physical")
    assert(!physical.contains("Join"), s"served s12 should be a plain scan:\n$physical")
  }

  test("s09: the knn pair join is salted cell-equi — salt in the join key, no cartesian") {
    val plan = formatted(Similarity.knnGraphRanked(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"knn pairing must never be all-pairs:\n$plan")
    // the adaptive cell salting must survive in the physical join key —
    // losing it re-serializes every hot cell onto one reducer
    assert(plan.contains("__salt"), s"salt column missing from the pair join:\n$plan")
  }

  test("e12: user profile is two user-keyed aggregate trees — no window over the raw stream") {
    val plan = formatted(EventsAnalytics.e12UserProfile(spark, sf))
    assert(!plan.contains("Window"), s"no window should be needed:\n$plan")
    assert(plan.linesIterator.count(_.trim.matches("""\(\d+\) HashAggregate.*""")) >= 4,
      s"expected partial+final pairs for both trees:\n$plan")
  }

  test("d13: canonical dedup is one hash aggregate over the augmented union — no join, no window") {
    val plan = formatted(Dedup.d13CanonicalDedup(spark, sf))
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), s"expected a pure aggregate plan:\n$plan")
    assert(plan.contains("Union"), s"augmented view should be a union:\n$plan")
  }

  test("d14: sweep cumulative is a broadcast theta-join over bucket rows, not a zero-partition window") {
    val plan = formatted(Dedup.d14ThresholdSweep(spark, sf))
    assert(!plan.contains("Window"), s"bounded cumulative must not window:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"bucket rollup should broadcast:\n$plan")
  }

  test("q24: all six edges are anti joins, dims broadcast, no cartesian") {
    val plan = formatted(CartAnalytics.q24IntegrityAudit(spark, sf))
    val nAnti = plan.linesIterator.count(_.contains("LeftAnti"))
    assert(nAnti >= 6, s"expected 6 anti joins, got $nAnti:\n$plan")
    val nBroadcast = plan.linesIterator
      .count(_.trim.matches("""\(\d+\) BroadcastHashJoin.*"""))
    assert(nBroadcast >= 4, s"dim-edge anti joins should broadcast, got $nBroadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{CartAnalytics, Curation, Dedup, Profile, Similarity, TextAnalysis}
import graft.sources.ArtifactFamily

/** Served ≡ recompute for every query that serves an artifact family.
  *
  * Each row pairs a query with its frame-level recompute: the same
  * answer derived from `Tables.load` frames by the engine's frame-level
  * cores, serving no family. Both must give identical rows, in order, on
  * two states of one corpus:
  *  - a fresh warehouse: every family of the corpus dropped, then built
  *    from scratch by the queries' own serves;
  *  - an append: the corpus grown by a documents + orders batch
  *    (`ProbeRefresh.appendBatch`), its families moved forward by
  *    `Dedup.refreshArtifactsAfterAppend` — the one refresh path.
  * A stale or wrongly refreshed artifact shows up as a divergent row.
  *
  * The set of queries that must have a row is read off the engine
  * ([[ArtifactFamily.servedDuring]] around each query's construction),
  * so a query that starts serving a family fails here until it gets one.
  *
  * The corpus is the `graft.served.dir` system property: a directory,
  * absolute or relative to the test corpora's directory (default sf0.01);
  * `tools/run_release_check.sh` runs it at sf0.1. */
class ServedRecomputeSpec extends SparkSpec {
  private val dir = java.nio.file.Paths.get(sf).getParent
    .resolve(sys.props.getOrElse("graft.served.dir", "sf0.01")).toString

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")
  /** The fixture's train (doc_id % 10 ≠ 0) and eval documents. */
  private def train(s: SparkSession, d: String) = docs(s, d).where(col("doc_id") % 10 =!= 0)
  private def evalDocs(s: SparkSession, d: String) = docs(s, d).where(col("doc_id") % 10 === 0)
  private def probes(e: DataFrame) = e.where(col("vec_id") < Similarity.QuerySet)
  /** Centroids trained inline at the k the served index uses. */
  private def cents(e: DataFrame) = Similarity.trainedCents(e, Similarity.ivfKFor(e.count()))
  private def ledger(s: SparkSession, d: String) = Curation.curationLedger(docs(s, d),
    Dedup.lshLabelsOf(docs(s, d)), TextAnalysis.qualityFilter(docs(s, d)))

  /** query → its frame-level recompute. */
  private val recompute: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d02_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(docs(s, d))),
    "d03_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(docs(s, d))),
    "d07_contamination" -> ((s, d) => Dedup.contamination(train(s, d), evalDocs(s, d))),
    "d08_lsh_clusters" -> ((s, d) => Dedup.lshClusters(docs(s, d))),
    "d09_dedup_apply" -> ((s, d) => Dedup.dedupApply(docs(s, d))),
    "d10_incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(
      docs(s, d).where(col("doc_id") % Dedup.IncrementalMod === 0).select("doc_id", "text"),
      docs(s, d).where(col("doc_id") % Dedup.IncrementalMod =!= 0))),
    "d11_source_overlap" -> ((s, d) => Dedup.sourceOverlap(docs(s, d))),
    "d12_boilerplate_spans" -> ((s, d) => Dedup.boilerplateSpans(docs(s, d))),
    "d14_threshold_sweep" -> ((s, d) => Dedup.thresholdSweep(docs(s, d))),
    "d15_decontaminate_apply" -> ((s, d) => Dedup.decontaminate(train(s, d), evalDocs(s, d))),
    "d16_containment_audit" -> ((s, d) => Dedup.containmentAudit(Dedup.excerptAugmented(s, d))),
    "d18_contamination_sketch" ->
      ((s, d) => Dedup.contaminationSketch(train(s, d), evalDocs(s, d))),
    "d19_decontaminate_sketch" ->
      ((s, d) => Dedup.decontaminateSketch(train(s, d), evalDocs(s, d))),
    "e15_stream_dedup" -> ((s, d) => Dedup.streamDedupFold(docs(s, d))),
    "p01_curation_ledger" -> ledger,
    "p05_loss_attribution" -> ((s, d) => Curation.lossAttribution(ledger(s, d), docs(s, d))),
    "p08_split_leakage" -> ((s, d) => Curation.splitLeakage(
      Dedup.lshLabelsOf(docs(s, d)), Curation.p03SplitAssign(s, d))),
    "q15_profile_orders" -> ((s, d) =>
      Profile.summarize(Tables.load(s, d, "orders"), CartAnalytics.ProfileNumCols)),
    "q17_profile_orders_strings" -> ((s, d) =>
      Profile.summarizeStrings(Tables.load(s, d, "orders"), CartAnalytics.ProfileStrCols)),
    "s03_ann_ivf" -> ((s, d) => { val e = emb(s, d); Similarity.annIvf(e, probes(e), cents(e)) }),
    "s05_ann_ivf_multiprobe" -> ((s, d) => {
      val e = emb(s, d); Similarity.annIvfMultiprobe(e, probes(e), cents(e)) }),
    "s07_ivf_cell_stats" -> ((s, d) => { val e = emb(s, d); Similarity.ivfCellStats(e, cents(e)) }),
    "s08_crossmodal_audit" ->
      ((s, d) => Similarity.crossmodalAudit(Dedup.lshEdgesOf(docs(s, d)), emb(s, d))),
    "s09_knn_graph" ->
      ((s, d) => Similarity.knnGraphRanked(s, d).orderBy(col("vec_id"), col("rank"))),
    "s10_ann_recall" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.annRecall(Similarity.annBruteforce(e, probes(e)),
        Similarity.annIvf(e, probes(e), cents(e)))
    }),
    "s11_knn_components" -> ((s, d) =>
      Similarity.knnComponents(Similarity.knnLabelsOf(Similarity.knnGraphRanked(s, d)))),
    "s12_semdedup" -> ((s, d) => { val e = emb(s, d); Similarity.semDedup(e, cents(e)) }),
    "s13_semantic_apply" -> ((s, d) => {
      val e = emb(s, d); Similarity.semanticApply(Similarity.semDedup(e, cents(e)), e) }),
    "t09_distinctive_terms" -> ((s, d) => TextAnalysis.distinctiveTerms(docs(s, d))),
    "t12_quality_filter" -> ((s, d) => TextAnalysis.qualityFilter(docs(s, d))),
    "t13_bigram_novelty" -> ((s, d) => TextAnalysis.bigramNovelty(docs(s, d))),
    "t14_rarity_score" -> ((s, d) => TextAnalysis.rarityScore(docs(s, d))))

  /** query → the most rows it returned on any state checked so far. */
  private val maxRows = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  /** Compare every row's served answer with its recompute on `d`. */
  private def checkAll(d: String): Unit = {
    val diverged = recompute.toSeq.sortBy(_._1).flatMap { case (q, oracle) =>
      val served = rowsOf(SparkEntry.queries(q)(spark, d))
      var expected: Seq[String] = Nil
      val oracleServed = ArtifactFamily.servedDuring { expected = rowsOf(oracle(spark, d)) }
      assert(oracleServed.isEmpty, s"$q's recompute serves $oracleServed")
      maxRows(q) = math.max(maxRows(q), served.size)
      if (served == expected) None
      else Some(s"$q: served ${served.size} rows, recompute ${expected.size}; first " +
        s"difference ${served.zipAll(expected, "<none>", "<none>").find(p => p._1 != p._2)}")
    }
    assert(diverged.isEmpty, diverged.mkString("\n"))
  }

  test("every query that serves an artifact family has a recompute row, and no other does") {
    ArtifactFamily.all.foreach(_.drop(spark, dir)) // a fresh warehouse for this corpus
    val serving = SparkEntry.queries.toSeq.flatMap { case (q, f) =>
      if (ArtifactFamily.servedDuring(f(spark, dir)).nonEmpty) Some(q) else None
    }.toSet
    assert((serving -- recompute.keySet).isEmpty,
      s"queries serving a family with no recompute row: ${serving -- recompute.keySet}")
    assert((recompute.keySet -- serving).isEmpty,
      s"rows for queries that serve no family: ${recompute.keySet -- serving}")
  }

  test("fresh warehouse: every served query equals its frame-level recompute") {
    checkAll(dir)
  }

  test("after a documents + orders append refreshed through the registry, every served " +
      "query equals its frame-level recompute") {
    val newDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "served-append-").toString
    // 5%: enough batch documents at sf0.01 for band collisions and
    // cluster merges across the old and appended rows
    tools.ProbeRefresh.appendBatch(spark, dir, newDir, 0.05)
    val refreshed = Dedup.refreshArtifactsAfterAppend(spark, dir, newDir).map(_._1)
    assert(refreshed === ArtifactFamily.all.filter(_.refresh != ArtifactFamily.NoRefresh)
      .map(_.kind), "an append of documents and orders refreshes every refreshable family")
    checkAll(newDir)
  }

  test("every row compares a non-empty answer on at least one state") {
    val empty = recompute.keySet.filter(maxRows(_) == 0)
    assert(empty.isEmpty, s"rows empty on both states: $empty")
  }
}

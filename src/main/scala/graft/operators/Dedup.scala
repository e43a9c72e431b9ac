package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.SharedHash._
import graft.sources.ArtifactFamily
import graft.sources.ArtifactFamily.{Fold, Rederive, RowAppend}

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline at 100 TB.
  *
  * Scale design, per operator:
  *  - exact: one hash-groupBy shuffle keyed on md5(text) — the canonical
  *    map-side-combinable dedup.
  *  - n-gram Jaccard: inverted-index self-join on shingles. Quadratic in
  *    per-shingle doc frequency — correct baseline, superseded at scale by
  *    minhash below (kept because small-corpus exactness matters for eval).
  *  - MinHash+LSH: the 100 TB path. One pass computes all 16 signature
  *    mins per doc (single groupBy, no per-hash re-scan); band self-joins
  *    touch only colliding buckets; exact Jaccard verification runs only
  *    on candidates.
  *  - SimHash: 120 bit-counters (two md5-derived 60-bit words) in one
  *    groupBy pass; candidate pairs come from nine disjoint 12-13-bit
  *    band equi-joins (pigeonhole: ≤8 differing bits across 9 bands
  *    leaves at least one band identical; ≥4096 buckets per band),
  *    hamming verified inline on collisions only — never an all-pairs
  *    comparison.
  *  - embedding near-dup: brute-force cosine over all pairs — the exactness
  *    baseline, guarded by an explicit row-count cap so the quadratic plan
  *    can never run unintentionally at scale; the LSH-bucketed scale path
  *    is Similarity.s02.
  *
  * Every hash is cross-engine deterministic (see [[graft.functions.SharedHash]])
  * so the DuckDB oracles reproduce results bit-for-bit.
  */
object Dedup {

  /** doc_id + distinct word-3-gram shingles over an arbitrary
    * (doc_id, text) frame.
    *
    * Persisted: the shingle set feeds multiple consumers inside each
    * dedup query (sizes/pairs/signatures/verification) and across the
    * d02/d03/d06 family — Spark's CacheManager matches the canonicalized
    * plan, so every consumer over the same frame shares one
    * materialization instead of re-scanning and re-exploding the corpus.
    * MEMORY_AND_DISK: at 100 TB this spills per-executor rather than
    * failing. */
  private val trigramsExpr = expr(
    """CASE WHEN size(w) >= 3
      |THEN transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3)))
      |ELSE array() END""".stripMargin)

  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    persistOnce(graft.plans.Scale.spreadIfNarrow(docs)
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      .select(col("doc_id"), explode(trigramsExpr).as("shingle"))
      .distinct())

  /** Distinct (doc_id, shingle-h31) pairs — the HASHED shingle frame.
    * The shingle strings are built and hashed inside the map stage and
    * never reach a shuffle: the distinct runs over two longs. The r11
    * d17 decomposition showed the string-shingle `distinct` owning
    * ~10 s of the 13 s sf1 wall-clock — the same string-churn wall t01
    * hit (PERF.md) — while every candidate-side consumer (anchors, df
    * cap, probe index) only ever needs the hash. Exact verification
    * re-derives STRING shingles for the docs surviving candidates touch
    * (dup-rate-proportional, not corpus-proportional — see
    * [[containmentSketch]]). */
  private[graft] def hashedShinglesOf(docs: DataFrame): DataFrame =
    persistOnce(graft.plans.Scale.spreadIfNarrow(docs)
      .select(col("doc_id"), explode(expr("graft_trigram_h31(text)")).as("h"))
      .distinct())

  /** [[hashedShinglesOf]] with the RAW 60-bit hash — for consumers that
    * join/count on shingle identity and never need the minhash
    * permutation domain (d07/d15's contamination joins). At 60 bits a
    * collision-induced count drift is ~2⁻⁶⁰ per shingle pair —
    * negligible at any corpus size — and the DuckDB oracles mirror the
    * same hash, so the gate compares identical computations. */
  private[graft] def hashed60ShinglesOf(docs: DataFrame): DataFrame =
    persistOnce(graft.plans.Scale.spreadIfNarrow(docs)
      .select(col("doc_id"), explode(expr("graft_trigram_h60(text)")).as("h"))
      .distinct())

  /** `persist(MEMORY_AND_DISK)` that consults the CacheManager first:
    * re-persisting an already-cached plan is harmless (CacheManager
    * dedupes on the canonicalized plan) but logs
    * "WARN CacheManager: Asked to cache already cached data" — and the
    * d02/d03/d06 family re-derives the same shingle/signature plans per
    * query, so the bench tail filled with exactly the WARN spam that
    * competes with the compact contract line for the driver's 2 KB
    * stdout capture. */
  private[graft] def persistOnce(df: DataFrame): DataFrame = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val cached = classic.sparkSession.sharedState.cacheManager
      .lookupCachedData(classic).isDefined
    if (cached) df
    else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The read set of the document artifact families. */
  private[graft] val Docs = Seq("documents")

  /** The corpus's (doc_id, text) projection — what the per-doc artifact
    * derivations (and their key-defining plans) start from. */
  private[graft] def docText(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))

  /** DuckDB mirror of [[shinglesOf]] as a `sh` CTE over `src`. */
  private def shinglesSqlOver(src: String): String =
    s"""sh AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(generate_series(1, len(w)-2),
       |                i -> array_to_string(w[i:i+2], ' '))) AS shingle
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM $src))""".stripMargin

  private val shinglesSql: String = shinglesSqlOver("documents")

  // ---------------------------------------------------------------------
  // d01 — exact dedup: hash-groupBy on md5(text), keep the min doc_id.
  // ---------------------------------------------------------------------
  /** Exact dedup over ANY (doc_id, text, …) frame — one hash-groupBy,
    * map-side combinable at any scale. The DataFrame-in core; the
    * fixture wrapper below feeds it the driver corpus. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_count"))
      .orderBy(col("dup_count").desc, col("keep_doc_id").asc)

  def d01ExactDedup(spark: SparkSession, dir: String): DataFrame =
    exactDedup(Tables.load(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // d02 — exact n-gram Jaccard near-dup: shingle inverted-index self-join.
  // ---------------------------------------------------------------------
  /** Doc cap for the exact INVERTED-INDEX baselines (d02, d06). A
    * separate knob from [[BaselineMaxVectors]] on purpose: their pair
    * stage is quadratic in per-shingle DOCUMENT FREQUENCY, not in corpus
    * size — measured 12.6 s at 50k docs (r9 sf1 leg) where d05's
    * all-pairs form costs ~2.5 minutes at 20k vectors, so sharing d05's
    * 25k cap refused corpora these baselines handle in seconds (the r10
    * sweep lost both rows at sf1 to exactly that). 100k ≈ 4× the
    * measured point ≈ under a minute on boilerplate-free corpora;
    * template-heavy corpora can still blow the df² term — at scale use
    * d03/d08, whose candidates come from bounded band joins. */
  val BaselineMaxDocs: Long = envLong("GRAFT_BASELINE_MAX_DOCS", 100000L)

  /** Guard shared by the exact inverted-index baselines (d02, d06),
    * given the input's doc count. */
  private def requireExactBaselineCorpus(nDocs: Long, op: String): Unit =
    requireBaselineSize(nDocs, BaselineMaxDocs, op,
      "Dedup.minhashLsh / lshClusters (banded LSH)", "GRAFT_BASELINE_MAX_DOCS")

  /** Exact n-gram Jaccard near-dup over ANY (doc_id, text) frame — the
    * quadratic exactness baseline; refuses over-cap inputs. */
  def ngramJaccard(docs: DataFrame): DataFrame = {
    requireExactBaselineCorpus(docs.count(), "d02_ngram_jaccard")
    ngramJaccardPairs(shinglesOf(docs))
  }

  /** The d02 pair stage over a prebuilt distinct (doc_id, shingle)
    * frame — the inverted-index self-join, size join-back and jaccard
    * ranking. Split out (r18) so the catalog path can feed the SERVED
    * shingle artifact (row-identical to [[shinglesOf]]; shingles_ is the
    * d11/refresh-shared intermediate) while the quadratic pair work
    * stays in the timed window. */
  private[graft] def ngramJaccardPairs(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    val j = col("shared") / (col("n_a") + col("n_b") - col("shared"))
    pairs
      .join(sizes.select(col("doc_id"), col("n").as("n_a")), col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("n_b")), col("doc_b") === col("doc_id"))
      .drop("doc_id")
      .orderBy(j.desc, col("doc_a").asc, col("doc_b").asc)
      .limit(100)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"),
        round(j, 6).as("jaccard"))
  }

  def d02NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    requireExactBaselineCorpus(docCount(spark, dir), "d02_ngram_jaccard")
    ngramJaccardPairs(Shingles.serve(spark, dir))
  }

  // ---------------------------------------------------------------------
  // d03 — MinHash + LSH: 16-hash signature in ONE groupBy pass, 8 bands
  // of 2 rows, bucket self-join for candidates, exact-Jaccard verify on
  // candidates only. This is the operator that survives 100 TB: work is
  // O(docs) for signatures + O(collisions) for verification, never
  // O(pairs).
  // ---------------------------------------------------------------------
  val NumBands = 8 // r = 2 rows/band, k = 16 hashes

  /** MinHash signature table (one row per doc: mh0..mh15 + set size `n`).
    * ONE aggregation pass produces the whole signature AND the set size —
    * sh is scanned once for signatures instead of twice. Persisted:
    * consumed by 8 band self-joins (16 plan references) plus verify-side
    * lookups — one row per doc, so the cache is tiny. Shared by d03 and
    * d08 (CacheManager dedupes the identical plan). */
  private[graft] def lshSignatures(sh: DataFrame): DataFrame =
    persistOnce(sh.select(col("doc_id"), h31(col("shingle")).as("h"))
      .groupBy(col("doc_id"))
      .agg(min(perm(0, col("h"))).as("mh0"),
        (1 until NumHashes).map(i => min(perm(i, col("h"))).as(s"mh$i")) :+
          count(lit(1)).as("n"): _*))

  /** LSH band-collision pairs between two signature tables: (doc_a,
    * doc_b) agreeing on ≥1 of the 8 two-row bands — O(collisions),
    * never all-pairs. `canonical = true` is the self-join form
    * (doc_a < doc_b dedups unordered pairs); `false` pairs two DISJOINT
    * sides (d10's new×existing index lookups). The one definition of
    * banding on the Scala side — a band-layout change edits only here
    * and [[bandJoinsSql]].
    *
    * Shape: each signature EXPLODES to one (band, k1, k2) row per band
    * and the collision set is ONE bucket-equi join on that composite
    * key — not NumBands separate self-joins unioned (the prior form,
    * measured planning-bound: ~3s per invocation independent of data
    * size, the d06/d08 lesson again but in plan WIDTH rather than loop
    * depth). The single join is also the canonical cluster shape: band
    * rows shuffle once on (band, key) — 8 narrow rows per doc — instead
    * of 8 full passes over the signature relation. The candidate SET is
    * identical (same bands, same keys, same doc_a < doc_b dedup), so
    * the DuckDB oracle keeps the 8-way union form and the results
    * cannot drift. */
  private[graft] def bandCandidates(left: DataFrame, right: DataFrame,
      canonical: Boolean): DataFrame = {
    def bandRows(sig: DataFrame): DataFrame =
      sig.select(col("doc_id"), explode(array((0 until NumBands).map(jb =>
          struct(lit(jb).as("band"), col(s"mh${2 * jb}").as("k1"),
            col(s"mh${2 * jb + 1}").as("k2"))): _*)).as("b"))
        .select(col("doc_id"), col("b.band").as("band"),
          col("b.k1").as("k1"), col("b.k2").as("k2"))
    val onBand = col("x.band") === col("y.band") &&
      col("x.k1") === col("y.k1") && col("x.k2") === col("y.k2")
    val cond = if (canonical) onBand && col("x.doc_id") < col("y.doc_id") else onBand
    bandRows(left).as("x").join(bandRows(right).as("y"), cond)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Unordered self-join band candidates (d03/d08/d09). */
  private def lshCandidates(sig: DataFrame): DataFrame =
    bandCandidates(sig, sig, canonical = true)

  /** Exact verification counts: shared distinct shingles per candidate
    * pair — the one definition of the verify stage (d03's estimate path
    * keeps its own variant over `withest` because it carries the
    * signature-estimate columns through). */
  private def sharedCounts(cand: DataFrame, sh: DataFrame): DataFrame =
    cand.as("c")
      .join(sh.as("a"), col("c.doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("c.doc_b") === col("b.doc_id") && col("a.shingle") === col("b.shingle"))
      .groupBy(col("c.doc_a"), col("c.doc_b"))
      .agg(count(lit(1)).as("shared"))

  /** The SCORED LSH candidate table over a shingle frame: every band-
    * collision pair with its minhash agreement estimate, both set sizes,
    * and the exact shared-shingle count (null when the colliding pair
    * shares no shingle). This is the one pair population the LSH family
    * acts on — d03's top-k view, d14's threshold sweep, and the edge
    * set d08/d09/s08 cluster over are all projections of it. */
  private[graft] def scoredCandidatesFromShingles(sh: DataFrame): DataFrame = {
    val sig = lshSignatures(sh)
    scoreCandidates(lshCandidates(sig), sig, sh)
  }

  /** The scoring tail of the scored-candidate table, factored out so the
    * incremental refresh path can score a BATCH-RESTRICTED candidate set
    * against a batch-restricted signature/shingle slice with the exact
    * same expressions (per-pair values depend only on the two endpoint
    * docs, so scoring a restricted population yields the same rows a
    * full-population pass yields for those pairs). `sig` needs one row
    * per candidate endpoint (doc_id, mh0..mhN, n); `sh` the endpoint
    * docs' (doc_id, shingle) rows. */
  private def scoreCandidates(cand: DataFrame, sig: DataFrame, sh: DataFrame): DataFrame = {
    val est = (0 until NumHashes)
      .map(i => when(col(s"x.mh$i") === col(s"y.mh$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / NumHashes
    val withEst = cand
      .join(sig.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sig.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"), est.as("est_raw"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
    withEst.join(sharedCounts(cand, sh), Seq("doc_a", "doc_b"), "left_outer")
  }

  private[graft] def scoredCandidatesOf(docs: DataFrame): DataFrame =
    scoredCandidatesFromShingles(shinglesOf(docs))

  /** d03's top-k tail over a scored candidate frame. */
  private def minhashTopK(scored: DataFrame): DataFrame = {
    val j = coalesce(col("shared"), lit(0L)).cast("double") /
      (col("n_a") + col("n_b") - coalesce(col("shared"), lit(0L)))
    scored
      .orderBy(j.desc, col("doc_a").asc, col("doc_b").asc)
      .limit(200)
      .select(col("doc_a"), col("doc_b"),
        round(col("est_raw"), 6).as("est_similarity"), round(j, 6).as("jaccard"))
  }

  /** MinHash+LSH near-dup pairs over ANY (doc_id, text) frame — the
    * O(docs + collisions) scale path. */
  def minhashLsh(docs: DataFrame): DataFrame =
    minhashTopK(scoredCandidatesOf(docs))

  /** The scored candidate table as a persisted catalog artifact — the
    * contam_/contaud_ argument one level deeper: the band joins + exact
    * verification are index state shared by THREE consumers (d03 view,
    * d14 sweep, the edges_* build), so they run once per corpus state.
    * Keyed by the raw derivation; the build reads the served shingle
    * artifact. est_raw is k/16 (exact in binary) and the counts are
    * longs, so the parquet round trip is bit-identical to recompute.
    *
    * Append refresh: old×old pairs are the old artifact verbatim; pairs
    * touching the batch are found by band-probing the old SIGNATURE
    * artifact with batch signatures (canonicalized to doc_a < doc_b like
    * the from-scratch self-join) plus the batch self-pairs, then scored
    * by [[scoreCandidates]] over batch shingles ∪ the band-collided slice
    * of the old SHINGLE artifact (semi-join pushdown into the
    * doc_id-clustered table). No old text is read; old index rows are
    * read only for collided docs. */
  private[graft] lazy val Scored: ArtifactFamily = new ArtifactFamily("scored", Docs,
    defining = (spark, dir) => scoredCandidatesOf(Tables.load(spark, dir, "documents")),
    build = (spark, dir, _) =>
      scoredCandidatesFromShingles(persistOnce(Shingles.serve(spark, dir))),
    refresh = Fold { (spark, oldDir, newDir, built) =>
      val oldIdx = DedupSig.serve(spark, oldDir)
      val shB = shinglesOf(appendedBatch(spark, oldDir, newDir).select(col("doc_id"), col("text")))
      val sigB = lshSignatures(shB)
      val candB = persistOnce(batchCandidates(sigB, oldIdx))
      built += shB; built += sigB; built += candB
      val touched = endpoints(candB)
      val sigCols = col("doc_id") +: (0 until NumHashes).map(i => col(s"mh$i")) :+ col("n")
      val sig = sigB.select(sigCols: _*).unionAll(
        oldIdx.select(sigCols: _*).join(touched, Seq("doc_id"), "left_semi"))
      val sh = shB.unionAll(
        Shingles.serve(spark, oldDir).join(touched, Seq("doc_id"), "left_semi"))
      Scored.serve(spark, oldDir).unionAll(scoreCandidates(candB, sig, sh))
    })

  def d03MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashTopK(Scored.serve(spark, dir))

  // ---------------------------------------------------------------------
  // d04 — SimHash: 120-bit signature (two 60-bit words from one md5 per
  // token — zero extra hashing) built from token-hash bit votes (term
  // frequency weighted: every occurrence votes). Near-dups = pairs with
  // hamming distance ≤ 8 over the 120 bits. Candidate generation is
  // BANDED, not all-pairs: nine DISJOINT 12-15-bit segments; by
  // pigeonhole any pair within hamming 8 matches exactly on ≥1 segment,
  // so 9 segment equi-joins (≥4096 bucket values each) recover every
  // qualifying pair with the exact hamming check running inline on
  // collisions only. Work is O(docs) for signatures + O(band collisions)
  // — no CartesianProduct anywhere (plan-pinned by PlanSpec).
  //
  // Scale note: guaranteed-recall banding needs ≥ HammingMax+1 disjoint
  // segments, so per-band selectivity is 2^(bits/9); keeping collision
  // work near-linear as the corpus grows means widening the signature —
  // the banding below is ADAPTIVE: the word count comes from a memoized
  // corpus-count probe (band width ≈ log2(n)), with the third 60-bit
  // word drawn from a SALTED md5 (the first two exhaust md5's 30 usable
  // hex chars). More hamming bits = a stricter metric, so the width is
  // part of the operator's scale contract, not a tuning knob: every
  // driver sf sits in the 2-word regime and verifies against the static
  // 2-word oracle text below.
  // ---------------------------------------------------------------------
  val SimBits = 60 // per signature word
  val HammingMax = 8

  /** Pigeonhole minimum — and optimum: HammingMax+1 disjoint segments.
    * Fewer breaks guaranteed recall; more only narrows each segment
    * (coarser buckets, more collisions). */
  val SimSegments: Int = HammingMax + 1

  /** Adaptive signature width in words: stay at 2 while the per-segment
    * width (2·60/9 = 13 bits) still covers log2(corpus) — i.e. to ~8k
    * docs per band bucket load of ~1 — and move to 3 words (20-bit
    * segments, good to ~2^20-bucket selectivity) beyond. */
  private[graft] def simWordsFor(nDocs: Long): Int =
    if (nDocs <= (1L << (2 * SimBits / SimSegments))) 2 else 3

  /** Disjoint segments tiling `words`×60 bits into [[SimSegments]] bands:
    * (word, bit offset, width). Any disjoint cover is result-identical
    * (pigeonhole recall does not depend on the layout). */
  private[graft] def simBands(words: Int): Seq[(Int, Int, Int)] = {
    val base = SimSegments / words
    val extra = SimSegments % words
    (1 to words).flatMap { w =>
      val s = base + (if (w <= extra) 1 else 0)
      val width = SimBits / s
      (0 until s).map(i => (w, i * width, width))
    }
  }

  /** The 2-word (120-bit) layout — the regime of every driver sf; the
    * static oracle text mirrors exactly this. */
  val SimBands: Seq[(Int, Int, Int)] = simBands(2)

  /** Corpus doc count, probed once per content state of `documents`
    * ([[Tables.rowCount]]); decides the signature width and guards the
    * exact baselines. An in-place rewrite of the table re-probes. */
  private[graft] def docCount(spark: SparkSession, dir: String): Long =
    Tables.rowCount(spark, dir, "documents")

  def d04Simhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(spark, dir, simWordsFor(docCount(spark, dir)))

  /** DuckDB oracle for d04 at a GIVEN signature width — generated from
    * the SAME [[simBands]]/salting parameters as the operator, so the
    * oracle can never verify a different layout than the one that ran.
    * The static `oracleSql` map pins width 2 (every driver sf is in the
    * 2-word regime); `Verify` swaps in `simhashOracleSql(simWordsFor(n))`
    * for the corpus it is dumping, so a >8192-doc verification corpus
    * compares 3-word output against 3-word SQL instead of failing a
    * stale 2-word text (r6 ADVICE). */
  private[graft] def simhashOracleSql(words: Int): String = {
    // word 1/2 split one md5; word 3+ salts the token — mirror exactly
    def hSql(w: Int): String = w match {
      case 1 => hash60Sql("tok")
      case 2 => hash60bSql("tok")
      case w => hash60Sql(s"tok || '#w$w'")
    }
    def votesSql(h: String, p: String) = (0 until SimBits)
      .map(b => s"sum((($h >> $b) & 1) * 2 - 1) AS $p$b").mkString(",\n         ")
    def wordSql(p: String) = (0 until SimBits)
      .map(b => s"CASE WHEN $p$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString("(", " + ", ")")
    val ws = 1 to words
    val hamSql = ws.map(w => s"bit_count(xor(a.sh$w, b.sh$w))").mkString(" + ")
    val simCols = ws.map(w => s"a.sh$w AS simhash_a$w").mkString(", ") + ",\n         " +
      ws.map(w => s"b.sh$w AS simhash_b$w").mkString(", ")
    val outCols = ws.map(w => s"simhash_a$w").mkString(", ") + ", " +
      ws.map(w => s"simhash_b$w").mkString(", ")
    val bandJoins = simBands(words).map { case (wd, off, w) =>
      val mask = (1L << w) - 1
      s"""  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         $simCols,
         |         ($hamSql)::INTEGER AS hamming
         |  FROM sigs a JOIN sigs b
         |    ON ((a.sh$wd >> $off) & $mask) = ((b.sh$wd >> $off) & $mask)
         |   AND a.doc_id < b.doc_id
         |  WHERE $hamSql <= $HammingMax""".stripMargin
    }.mkString("\nUNION\n")
    val hCols = ws.map(w => s"${hSql(w)} AS h$w").mkString(", ")
    val voteSelects = ws.map(w => votesSql(s"h$w", s"v${w}_")).mkString(",\n         ")
    val sigCols = ws.map(w => s"${wordSql(s"v${w}_")} AS sh$w").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, $hCols
       |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents)),
       |votes AS (
       |  SELECT doc_id, $voteSelects
       |  FROM toks GROUP BY doc_id),
       |sigs AS (SELECT doc_id, $sigCols FROM votes),
       |cand AS (
       |$bandJoins)
       |SELECT doc_a, doc_b, $outCols, hamming
       |FROM cand
       |ORDER BY hamming ASC NULLS FIRST, doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST
       |LIMIT 200""".stripMargin
  }

  /** Per-doc SimHash signature at a given width: one row per doc with
    * sh1..sh`words` (60 bits each). Word 3+ salts the token before
    * hashing — independent bits at one extra md5. */
  private[graft] def simSignatures(spark: SparkSession, dir: String, words: Int): DataFrame =
    simSignaturesOf(Tables.load(spark, dir, "documents"), words)

  private[graft] def simSignaturesOf(docs: DataFrame, words: Int): DataFrame = {
    val hashes = Seq(hash60(col("tok")), hash60b(col("tok"))) ++
      (3 to words).map(w => hash60(concat(col("tok"), lit(s"#w$w"))))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .select(col("doc_id") +: hashes.zipWithIndex.map { case (h, i) => h.as(s"h${i + 1}") }: _*)
    def voteCols(h: String, p: String) = (0 until SimBits).map(b =>
      sum(shiftright(col(h), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"$p$b"))
    def word(p: String) = (0 until SimBits)
      .map(b => when(col(s"$p$b") > 0, 1L << b).otherwise(0L))
      .reduce(_ + _)
    val prefixes = (1 to words).map(w => s"w$w")
    val votes = prefixes.zipWithIndex.flatMap { case (p, i) => voteCols(s"h${i + 1}", p) }
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id") +:
        prefixes.zipWithIndex.map { case (p, i) => word(p).as(s"sh${i + 1}") }: _*)
  }

  private[graft] def simhashPairs(spark: SparkSession, dir: String, words: Int): DataFrame =
    simhashPairsOf(Tables.load(spark, dir, "documents"), words)

  private def simhashPairsOf(docs: DataFrame, words: Int): DataFrame = {
    // persisted: the band self-join reads this one-row-per-doc table
    val sigs = persistOnce(simSignaturesOf(docs, words))
    // the hamming check runs INLINE in the band join (both signatures are
    // already on the joined row), so only qualifying pairs reach the
    // distinct — candidates never materialize, and no verification join
    // back to sigs is needed. Like bandCandidates, the 9 pigeonhole
    // bands collide through ONE bucket-equi join over exploded
    // (band, key) rows, not 9 unioned self-joins (the planning-bound
    // anti-shape); the collision set is identical, and the oracle keeps
    // the unioned form.
    val shCols = (1 to words).map(w => col(s"sh$w"))
    val ham = (1 to words)
      .map(w => bit_count(col(s"a.sh$w").bitwiseXOR(col(s"b.sh$w"))))
      .reduce(_ + _)
    val bandRows = sigs.select((col("doc_id") +: shCols) :+
        explode(array(simBands(words).zipWithIndex.map { case ((wd, off, w), i) =>
          struct(lit(i).as("band"),
            shiftright(col(s"sh$wd"), off).bitwiseAND(lit((1L << w) - 1)).as("k"))
        }: _*)).as("b"): _*)
      .select((col("doc_id") +: shCols) ++
        Seq(col("b.band").as("band"), col("b.k").as("k")): _*)
    bandRows.as("a").join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.k") === col("b.k") &&
          col("a.doc_id") < col("b.doc_id"))
      .where(ham <= HammingMax)
      .select(Seq(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")) ++
        (1 to words).map(w => col(s"a.sh$w").as(s"simhash_a$w")) ++
        (1 to words).map(w => col(s"b.sh$w").as(s"simhash_b$w")) :+
        ham.cast("int").as("hamming"): _*)
      .distinct()
      .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
      .limit(200)
  }

  // ---------------------------------------------------------------------
  // d05 — embedding-cosine near-dup: top-100 most-similar vector pairs.
  // Dot products fold left-to-right in index order on both engines, so
  // doubles are bit-identical and the ORDER BY on the raw cosine is
  // deterministic.
  // ---------------------------------------------------------------------
  /** Spark-side dot product: the custom codegen'd expression
    * [[graft.functions.DotProductD]] (bit-identical to the left-to-right
    * `aggregate(zip_with(...))` fold, ~20× faster — see DotProductSpec). */
  private[operators] val dotExpr: String = "graft_dot(%s, %s)"

  private[operators] def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"

  private[operators] def normed(spark: SparkSession, dir: String): DataFrame =
    // NOT spread (r14 A/B, PERF.md 14f): unlike the doc-side walk
    // wrappers, no embeddings consumer is a map-only scan — every one
    // either shuffles by cell/bucket right after (d05, s02/s03) or is
    // bottlenecked elsewhere (s01 sf10full: 7.38 s spread vs 7.36 s
    // unspread), so the spread's round-robin shuffle of the vectors was
    // pure overhead (d05 sf1: +1-3 s, the one real r14 sweep
    // regression). Single-row-group parallelism for these paths comes
    // from the cell-keyed exchange they already contain.
    normedOf(Tables.load(spark, dir, "embeddings"))

  private[operators] def normedOf(vecs: DataFrame): DataFrame =
    vecs
      .select(col("vec_id"), col("embedding"), col("label"),
        sqrt(expr(dotExpr.format("embedding", "embedding"))).as("nrm"))

  private[operators] val normedSql: String =
    s"""v AS (SELECT vec_id, embedding AS e, label,
       |  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings)""".stripMargin

  /** Hard row cap on the quadratic exactness baselines (d05 all-pairs
    * cosine; d02/d06 exact inverted-index pairs). These are O(n²)-family
    * BY CONTRACT (they are the ground truth the bucketed paths are
    * measured against), so they refuse corpora where the quadratic plan
    * stops being an intentional choice — at scale use the bucketed
    * s02/s03 (ANN) and d03/d08 (dedup/clustering) paths instead.
    * Overridable for eval runs that accept the cost.
    *
    * Default sized from measurement, not guesswork: after the salted
    * codegen'd pair join (round 10) d05 runs 20k vectors in ~7 s on
    * local[32]; quadratic extrapolation puts 25k at ~11 s and keeps a
    * worst-case accidental run well under a minute. (History: the r9
    * study clocked the old interpreted BNLJ form at 142–185 s for the
    * same 20k, and the original 100k default admitted a ~1 h run while
    * claiming to be a guard — the cap was first cut to 25k, then the
    * join was fixed.) Kept at 25k: the baseline's JOB is ground truth
    * for the bucketed paths at eval scale, not production scale. */
  val BaselineMaxVectors: Long = envLong("GRAFT_BASELINE_MAX_VECTORS", 25000L)

  /** Validated env-var long parse: a typo'd override fails with the
    * variable name and offending text instead of a bare
    * NumberFormatException out of a static initializer. */
  private[graft] def envLong(name: String, default: Long): Long =
    sys.env.get(name) match {
      case None => default
      case Some(s) => s.trim.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$s'"))
    }

  private[graft] def requireBaselineSize(n: Long, cap: Long, op: String, alt: String,
      knob: String = "GRAFT_BASELINE_MAX_VECTORS"): Unit =
    require(n <= cap,
      s"$op is an exactness baseline with super-linear pair cost: input has $n rows > " +
        s"cap $cap; use $alt at scale, or raise $knob for a deliberate eval run")

  /** All-pairs cosine near-dup over ANY (vec_id, embedding, label)
    * frame of `n` rows — the quadratic exactness baseline; refuses
    * over-cap inputs. d05 passes the memoized count of its table
    * ([[Similarity.vecCount]]): the memo is keyed by the table's
    * content, so a corpus regrown at the same path is a new key and
    * re-probes — it cannot bypass the cap. */
  def embeddingNeardup(vecs: DataFrame, n: Long): DataFrame = {
    requireBaselineSize(n, BaselineMaxVectors, "d05_embedding_neardup",
      "Similarity.s02 (LSH buckets) / s03 (IVF)")
    val v = normedOf(vecs)
    // The pair generator is the adaptive salted SELF-join over ONE
    // constant cell, NOT the natural theta join `a.vec_id < b.vec_id`:
    // a pure inequality condition plans as BroadcastNestedLoopJoin,
    // which runs OUTSIDE whole-stage codegen — every pair paid an
    // interpreted condition eval and an interpreted graft_dot (142 s
    // for 20k vectors, r9 sf1 study). The salted form is an EQUI join
    // on (cell, slice), so the n²/targetPairs slices hash-join inside
    // codegen with the cosine fused into the same stage, and the pair
    // work spreads over slices instead of one broadcast loop per
    // stream partition. Identical pair multiset (the Scale spec's
    // property), then the `<` filter keeps each unordered pair once.
    val cell = "__allpairs_cell"
    val va = v.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("nrm").as("na"), col("label").as("label_a")).withColumn(cell, lit(0))
    val vb = v.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nb"), col("label").as("label_b")).withColumn(cell, lit(0))
    // score each pair ONCE in the (codegen'd) projection and take top-k
    // over narrow rows: ordering directly by the dot expression made
    // TakeOrderedAndProject re-evaluate it per heap COMPARISON — with
    // both embeddings riding along in every row — measured ~3× the whole
    // query at 20k vectors (see PERF.md round-10 addendum)
    graft.plans.Scale.adaptiveSaltedCellJoin(va, vb, cell)
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("label_a"), col("label_b"),
        (expr(dotExpr.format("ea", "eb")) / (col("na") * col("nb"))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(100)
      .select(col("vec_a"), col("vec_b"), col("label_a"), col("label_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  def d05EmbeddingNeardup(spark: SparkSession, dir: String): DataFrame =
    embeddingNeardup(Tables.load(spark, dir, "embeddings"),
      Similarity.vecCount(spark, dir))

  // ---------------------------------------------------------------------
  // d06 — near-dup clusters: connected components over the jaccard≥0.6
  // pair graph, cluster id = min doc_id in the component, one keeper per
  // cluster. The last stage of a real dedup pipeline (pairs → clusters →
  // keep-one). Components via iterative min-label propagation: O(graph
  // diameter) joins, each partitioned on doc_id — near-dup components are
  // shallow (duplicates of duplicates), so this converges in a few rounds
  // at any scale; the driver loop only reads a converged-yet count.
  // ---------------------------------------------------------------------
  val ClusterThreshold = 0.6

  /** Exact near-dup clustering over ANY (doc_id, text) frame — the
    * quadratic exactness baseline. It does not check its input's size:
    * d06 refuses an over-cap corpus before calling it. */
  def neardupClusters(docs: DataFrame): DataFrame = {
    val sh = shinglesOf(docs)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    clusterOutput(minLabelComponents(thresholdEdges(shared, sizes)))
  }

  def d06NeardupClusters(spark: SparkSession, dir: String): DataFrame = {
    requireExactBaselineCorpus(docCount(spark, dir), "d06_neardup_clusters")
    neardupClusters(Tables.load(spark, dir, "documents"))
  }

  /** Filter (doc_a, doc_b, shared) rows down to jaccard ≥
    * [[ClusterThreshold]] edges, given per-doc distinct-shingle counts —
    * the verify stage shared by d06 (exact pairs) and d08 (LSH
    * candidates); the refinement relation between them assumes BOTH use
    * this exact formula. */
  private def thresholdEdges(shared: DataFrame, sizes: DataFrame): DataFrame =
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .where(col("shared") / (col("n_a") + col("n_b") - col("shared")) >= ClusterThreshold)
      .select(col("doc_a"), col("doc_b"))

  /** Connected components over an undirected pair graph via iterative
    * min-label propagation: O(graph diameter) join rounds, each
    * partitioned on doc_id. Propagates only over docs that touch an
    * edge — every other doc is a fixed singleton — so the loop runs on
    * the (tiny) near-dup subgraph, not the corpus. Shared by d06 (exact
    * edges) and d08 (LSH-candidate edges). */
  /** Rounds the most recent [[minLabelComponents]] call on THIS thread
    * took to converge — a test observability hook: the incremental-refresh
    * spec pins "the contracted refresh loop is shallower than the
    * corpus-wide loop" on round counts, which survive constant-factor
    * changes that job counts (the previous proxy) do not. */
  private[graft] val lastPropagationRounds = new ThreadLocal[Int]

  private[graft] def minLabelComponents(pairs: DataFrame): DataFrame = {
    // localCheckpoint (not persist): persist caches DATA but keeps the
    // full logical lineage, so every round's plan embeds every previous
    // round PLUS the whole edge-derivation subtree — Catalyst re-optimizes
    // a plan that grows per round, and with a deep candidate pipeline
    // (d08's band joins) planning time dwarfs execution (measured ~17s at
    // sf0.1, data-independent). Checkpointing truncates lineage to the
    // materialized partitions; each round then plans a constant-size join.
    // On a cluster, swap for reliable checkpoint(dir) if executor loss
    // during the (short) loop matters.
    val edges = pairs
      .unionAll(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    val docs = edges.select(col("doc_a").as("doc_id")).distinct()
    var labels = docs.select(col("doc_id"), col("doc_id").as("label")).localCheckpoint()
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      // the old label rides along as min(label) — constant within each
      // doc_id group — so convergence is a filter+count over the round's
      // already-materialized checkpoint instead of a second join of the
      // old and new label tables (one fewer shuffle + action per round)
      val relaxed = labels
        .join(edges, col("doc_id") === col("doc_a"), "left_outer")
        .join(labels.select(col("doc_id").as("nbr"), col("label").as("nbr_label")),
          col("doc_b") === col("nbr"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(min(col("label")).as("old_label"),
          least(min(col("label")), min(col("nbr_label"))).as("label"))
      // path compression (pointer doubling): also follow the round's
      // label ONE hop — label(d) := min(label(d), label(label(d))). A
      // label value is itself a doc_id in this table, so the hop is one
      // narrow self-join; labels only decrease and stay within the
      // component, and the shared fixpoint (no neighbor relax, no hop
      // improves) is still exactly the component min — but deep
      // components converge in O(log diameter) rounds instead of
      // O(diameter) (measured: the skewed sf1 knn graph spent ~18 s in
      // diameter-bound rounds; see PERF.md round-10 addendum)
      // convergence is OBSERVED during the same job that materializes
      // the round's checkpoint (a CollectMetrics node over the rows as
      // they stream into the cached blocks) — the former
      // `where(changed).count()` was a SECOND full job + scan per round,
      // and with per-round fixed cost dominating the loop at scale
      // (r10 d10 decomposition) halving the jobs halves the floor. The
      // old label also no longer rides into the checkpoint: the metric
      // consumes it before the projection narrows to (doc_id, label).
      // Task retries can only over-count `changed` (never under-count),
      // so a lost block costs at most one extra round, never a
      // premature exit.
      val obs = org.apache.spark.sql.Observation()
      val next = relaxed.as("l")
        .join(relaxed.select(col("doc_id").as("hop_id"), col("label").as("hop_label")),
          col("l.label") === col("hop_id"), "left_outer")
        .select(col("l.doc_id").as("doc_id"), col("l.old_label").as("old_label"),
          least(col("l.label"), coalesce(col("hop_label"), col("l.label"))).as("label"))
        .observe(obs, sum(when(col("label") =!= col("old_label"), 1L).otherwise(0L))
          .as("changed"))
        .select(col("doc_id"), col("label"))
        .localCheckpoint()
      val changed = obs.get("changed") match {
        case null => 0L // empty round (no edge-touching docs at all)
        case n: java.lang.Long => n.longValue()
      }
      // checkpoint blocks are NOT CacheManager entries (clearCache can't
      // free them), so release each superseded round explicitly; edges
      // and the final labels stay pinned only until the returned query
      // runs and the Datasets are GC'd (ContextCleaner frees the blocks)
      freeCheckpoint(labels)
      labels = next
      converged = changed == 0
    }
    lastPropagationRounds.set(rounds)
    labels
  }

  /** Unpersist the materialized RDD behind a localCheckpoint'ed frame. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

  /** (doc_id, cluster_id, cluster_size, is_keeper) rows for multi-doc
    * clusters, keeper = min member. */
  private[graft] def clusterOutput(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .join(labels, col("label") === col("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
      .where(col("cluster_size") > 1) // singletons are not duplicates
      .orderBy(col("cluster_id").asc, col("doc_id").asc)

  // ---------------------------------------------------------------------
  // d07 — contamination detection: training docs whose 3-gram shingles
  // overlap an evaluation set (doc_id % 10 == 0 stands in for the
  // benchmark corpus). The classic train/test-leak check: inverted-index
  // join from eval shingles into the training corpus, scored by overlap
  // fraction of the eval doc. At 100 TB the eval side is small — an eval
  // benchmark is a fixed set, not a corpus fraction — so the hint BELOW
  // pins the broadcast instead of asserting it in a comment: the train
  // side streams through the join with NO shuffle at all (PlanSpec
  // asserts the BroadcastHashJoin). The %10 stand-in makes the eval side
  // atypically large at bench scale; measured, the broadcast still wins
  // there (PERF.md). Because a forced hint bypasses Spark's size check
  // (an oversized build side fails outright at the 8GB broadcast limit
  // instead of degrading to a shuffle), the hint is gated on the eval
  // DOC count: above the cap the same join runs unhinted and the
  // optimizer picks the shuffle plan. The guard count is a parquet-
  // footer count-star, the d02-guard pattern.
  // ---------------------------------------------------------------------
  val ContaminationThreshold = 0.3

  /** Eval-side doc cap for d07's broadcast hint: ~1M eval docs × ~100
    * distinct shingles × ~30 bytes ≈ low-GB build side — the edge of sane
    * broadcast territory. */
  val ContaminationBroadcastMaxEvalDocs: Long = 1000000L

  /** Qualifying (eval, train) contamination pairs over ARBITRARY train
    * and eval (doc_id, text) frames — d07's pre-top-k derivation, shared
    * with the removal step so detection and apply cannot disagree. A
    * real deployment passes its actual benchmark corpus as `evalDocs`;
    * the fixture wrappers below split the driver corpus on doc_id % 10
    * as the eval stand-in. */
  def contaminationPairs(train: DataFrame, evalDocs: DataFrame): DataFrame =
    contaminationPairsHashed(hashed60ShinglesOf(train),
      hashed60ShinglesOf(evalDocs), evalDocs.count())

  /** [[contaminationPairs]] over PRE-HASHED (doc_id, h) shingle frames —
    * the core the served-index build path enters directly (the shingle
    * derivation is the served h60 artifact there, not a fresh corpus
    * walk). `nEvalDocs` gates the broadcast hint only; it never changes
    * values. */
  private def contaminationPairsHashed(trainHashed: DataFrame,
      evalHashed: DataFrame, nEvalDocs: Long): DataFrame = {
    // Join and count on the 60-bit trigram hash, never the shingle
    // string (r11: the string join owned d07's 30x second-decade growth
    // flag — the pair-output Σ_s dfE(s)·dfT(s) is intrinsic to exact
    // contamination, but each of those rows was paying string hashing
    // and ~60-byte shuffle width for what 16 bytes of longs express).
    // Counts over distinct h60 equal counts over distinct shingles up to
    // a ~2⁻⁶⁰-per-pair collision, and the oracle mirrors the same hash.
    val eval_ = evalHashed.select(col("doc_id").as("eval_id"), col("h"))
    val evalSizes = eval_.groupBy(col("eval_id")).agg(count(lit(1)).as("n_eval"))
    val trainSh = trainHashed.select(col("doc_id").as("train_id"), col("h"))
    val evalSide =
      if (nEvalDocs <= ContaminationBroadcastMaxEvalDocs) broadcast(eval_) else eval_
    val overlap = evalSide.join(trainSh, Seq("h"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("shared"))
    val frac = col("shared").cast("double") / col("n_eval")
    overlap.join(evalSizes, Seq("eval_id"))
      .where(frac >= ContaminationThreshold)
      .select(col("eval_id"), col("train_id"), col("shared"), col("n_eval"))
  }

  /** Top contamination hits over arbitrary train/eval frames. */
  def contamination(train: DataFrame, evalDocs: DataFrame): DataFrame =
    contaminationPairs(train, evalDocs)
      .orderBy((col("shared").cast("double") / col("n_eval")).desc,
        col("eval_id").asc, col("train_id").asc)
      .limit(200)

  /** Fixture eval/train split — the driver corpus has no separate
    * benchmark table, so doc_id % 10 == 0 stands in for the eval set.
    * Lives HERE in the wrapper layer: a user corpus passed to the cores
    * above gets no implicit splitting. */
  private def fixtureEvalSplit(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.load(spark, dir, "documents")
    (docs.where(col("doc_id") % 10 =!= 0), docs.where(col("doc_id") % 10 === 0))
  }

  /** The h60 shingle index as a PERSISTED CATALOG ARTIFACT — the
    * corpus-wide (doc_id, 60-bit trigram hash) inverted index every
    * contamination consumer re-derived per cold JVM (r15 A/B: the
    * d-chain's standalone legs burn ~1,700–1,860 executor-CPU-s, an
    * order of magnitude over their warm-suite mins, almost all of it
    * shingle re-derivation a full-suite run amortizes). Built once per
    * corpus state; the contamination pair build and any future
    * h60 consumer read the parquet table. Values are exact longs, so
    * the round trip is bit-identical to recompute. */
  private[graft] lazy val H60: ArtifactFamily = new ArtifactFamily("h60", Docs,
    defining = (spark, dir) => hashed60ShinglesOf(docText(spark, dir)),
    build = (spark, dir, _) => hashed60ShinglesOf(docText(spark, dir)),
    refresh = RowAppend { (batch, built) =>
      val hB = hashed60ShinglesOf(batch.select(col("doc_id"), col("text")))
      built += hB
      hB
    })

  /** The qualifying contamination PAIR SET as a persisted catalog
    * artifact — the s12/edges pattern applied to the d-chain (r15
    * verdict task 3): the pair table is index state with two consumers
    * (d07's top-k view, d15's decontaminate apply), exactly like d08's
    * labels, so it is built once per corpus state and every later
    * read — this session or the next JVM — pays a table scan. Keyed by
    * the RAW fixture derivation (fresh-JVM reproducible, the labels
    * discipline); the BUILD body derives from the served h60 artifact,
    * so even a cold build never re-walks corpus text for shingles.
    * Columns are exact longs → serve ≡ recompute bit-for-bit.
    *
    * Append refresh: pairs split by endpoint membership — (old-eval ×
    * old-train) is the old artifact; (batch-eval × all-train) and
    * (old-eval × batch-train) are two h60-keyed joins over the served
    * index, so the old corpus is touched only through its h60 artifact.
    * Per-pair (shared, n_eval) depend only on the two docs' shingle
    * sets, so the union is row-identical to a from-scratch derivation. */
  private[graft] lazy val Contam: ArtifactFamily = new ArtifactFamily("contam", Docs,
    defining = (spark, dir) => {
      val (train, eval_) = fixtureEvalSplit(spark, dir)
      contaminationPairs(train, eval_)
    },
    build = (spark, dir, _) => contamPairsDerive(spark, dir),
    refresh = Fold { (spark, oldDir, newDir, built) =>
      val oldH60 = persistOnce(H60.serve(spark, oldDir))
      val batch = appendedBatch(spark, oldDir, newDir)
      val bH60 = hashed60ShinglesOf(batch.select(col("doc_id"), col("text")))
      built += oldH60; built += bH60
      val bEval = bH60.where(col("doc_id") % 10 === 0)
      val bTrain = bH60.where(col("doc_id") % 10 =!= 0)
      // counts gate the broadcast hint only (values are count-independent)
      val nEvalB = batch.where(col("doc_id") % 10 === 0).count()
      val nEvalOld = Tables.load(spark, oldDir, "documents")
        .where(col("doc_id") % 10 === 0).count()
      Contam.serve(spark, oldDir)
        .unionAll(contaminationPairsHashed(
          oldH60.where(col("doc_id") % 10 =!= 0).unionAll(bTrain), bEval, nEvalB))
        .unionAll(contaminationPairsHashed(
          bTrain, oldH60.where(col("doc_id") % 10 === 0), nEvalOld))
    })

  /** The contamination pair DERIVATION body over the served h60 index —
    * what [[Contam]] materializes once per corpus state.
    * Filtering the corpus-wide index by the fixture predicate equals
    * hashing the filtered frames (shingling is per-row), so this plan
    * is value-identical to the raw derivation the key hashes. */
  private[graft] def contamPairsDerive(spark: SparkSession, dir: String): DataFrame = {
    val h60 = persistOnce(H60.serve(spark, dir))
    val nEvalDocs = Tables.load(spark, dir, "documents")
      .where(col("doc_id") % 10 === 0).count()
    contaminationPairsHashed(h60.where(col("doc_id") % 10 =!= 0),
      h60.where(col("doc_id") % 10 === 0), nEvalDocs)
  }

  def d07Contamination(spark: SparkSession, dir: String): DataFrame =
    Contam.serve(spark, dir)
      .orderBy((col("shared").cast("double") / col("n_eval")).desc,
        col("eval_id").asc, col("train_id").asc)
      .limit(200)

  // ---------------------------------------------------------------------
  // d15 — decontamination APPLY: the train corpus minus every doc that
  // d07 flags as overlapping an eval document — detection's apply twin
  // (d07 finds the leak; this ships the corpus that does not have it).
  // Exactly d09's last-mile shape: the flagged ids come from the shared
  // pair derivation (same broadcast-gated join), the removal is one
  // doc_id anti-join — no new shuffle shape, and removal can never
  // disagree with detection because both read the same pairs.
  // ---------------------------------------------------------------------
  /** The train corpus minus every doc flagged as overlapping an eval
    * doc — detection's apply twin over arbitrary frames. */
  def decontaminate(train: DataFrame, evalDocs: DataFrame): DataFrame = {
    val dirty = contaminationPairs(train, evalDocs)
      .select(col("train_id").as("doc_id")).distinct()
    train
      .join(dirty, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id").asc)
  }

  def d15DecontaminateApply(spark: SparkSession, dir: String): DataFrame = {
    // detection's pair set comes from the SAME served artifact d07
    // reads, so detect and apply still cannot disagree — the shared-
    // derivation contract, now shared through the warehouse instead of
    // a per-JVM cache
    val dirty = Contam.serve(spark, dir)
      .select(col("train_id").as("doc_id")).distinct()
    Tables.load(spark, dir, "documents")
      .where(col("doc_id") % 10 =!= 0)
      .join(dirty, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id").asc)
  }

  // ---------------------------------------------------------------------
  // d16 — CONTAINMENT audit: resemblance (Jaccard) under-reports the
  // doc-inside-doc duplicate — an excerpt fully contained in a longer
  // page scores shared/union ≈ |excerpt|/|page|, far below any near-dup
  // threshold, while containment shared/min(|a|,|b|) is 1.0. This audit
  // scores band-collision candidates on BOTH metrics and flags the pairs
  // resemblance would have missed (containment ≥ threshold, Jaccard
  // below the d03/d06 cluster threshold). Excerpt-vs-page has no natural
  // occurrence in the synthetic corpus, so the query runs over a
  // deterministically AUGMENTED view (the t11/d13 pattern): docs with
  // doc_id % 17 == 0 get a 15-word-prefix excerpt at the provably
  // disjoint id -doc_id-1 — every surfaced (excerpt, page) pair is a
  // containment catch with Jaccard ≈ 13/|page| « threshold.
  //
  // Scale honesty: candidates come from the SAME minhash band join as
  // d03 (one bucket-equi join, O(collisions)), and minhash bands
  // guarantee recall by RESEMBLANCE, not containment — a pair at
  // containment 1.0 but Jaccard j band-collides with prob
  // 1-(1-j^2)^8, so low-Jaccard containment pairs are surfaced
  // best-effort (deterministic given the hashes, ~63% at j=0.34). The
  // audit reports what the deployed candidate stream actually sees;
  // d17 below is the guaranteed-recall containment sketch (Broder,
  // "On the resemblance and containment of documents", 1997).
  // ---------------------------------------------------------------------
  val ContainmentThreshold = 0.9

  /** Exact scoring tail shared by d16/d17: verify every candidate pair
    * on the real shingle sets, score on BOTH containment and Jaccard,
    * keep containment ≥ threshold, flag the pairs resemblance would
    * have missed. Precision is exact for any candidate stream; only
    * recall differs between the streams that feed it. */
  private def scoreContainment(cand: DataFrame, sh: DataFrame,
      sizes: DataFrame): DataFrame = {
    val scored = sharedCounts(cand, sh)
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        col("sa.n").as("n_a"), col("sb.n").as("n_b"), col("shared"))
    val containment = col("shared").cast("double") / least(col("n_a"), col("n_b"))
    val jaccard = col("shared").cast("double") /
      (col("n_a") + col("n_b") - col("shared"))
    scored
      .where(containment >= ContainmentThreshold)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("shared"),
        round(containment, 6).as("containment"),
        round(jaccard, 6).as("jaccard"),
        when(jaccard < ClusterThreshold, 1L).otherwise(0L).as("resemblance_missed"))
      .orderBy(col("containment").desc, col("doc_a").asc, col("doc_b").asc)
  }

  /** Containment audit over ANY (doc_id, text) frame — operates on the
    * input AS GIVEN (no synthetic rows; the excerpt augmentation the
    * driver fixture needs lives in the d16 wrapper below). */
  def containmentAudit(docs: DataFrame): DataFrame = {
    val sh = shinglesOf(docs.select(col("doc_id"), col("text")))
    val sig = lshSignatures(sh)
    scoreContainment(lshCandidates(sig), sh, sig.select(col("doc_id"), col("n")))
  }

  /** The synthetic excerpt rows of the d16/d17 fixture: docs with
    * doc_id % 17 == 0 yield a 15-word-prefix excerpt at the provably
    * disjoint id -doc_id-1. */
  private[graft] def excerptsOf(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 17 === 0)
      .select((-col("doc_id") - 1L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 15)).as("text"))

  /** Fixture augmentation shared by the d16/d17 wrappers: the synthetic
    * corpus has no natural excerpt-vs-page pairs, so docs get their
    * [[excerptsOf]] rows appended — AUGMENTATION IS TEST DATA, so it
    * lives here in the wrapper layer: a user corpus gets no phantom
    * rows. */
  private[graft] def augmentedOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text")).unionAll(excerptsOf(docs))

  private[graft] def excerptAugmented(spark: SparkSession, dir: String): DataFrame =
    augmentedOf(Tables.load(spark, dir, "documents"))

  /** The scored containment-audit verdicts as a persisted catalog
    * artifact — the same index-state argument as the contamination
    * pairs: the audit's band join + exact verification over the
    * excerpt-augmented corpus runs once per corpus state and every
    * later read pays a table scan. Keyed by the RAW audit derivation;
    * the build derives its shingles from the served shingle artifact
    * (sh(docs ∪ excerpts) = served_sh(docs) ∪ sh(excerpts) — shingling
    * is per-row and the excerpt ids are provably disjoint), so a cold
    * build re-walks only the 1/17 excerpt slice, not the corpus. The
    * rounded doubles round-trip parquet bit-exactly (IEEE), so serve ≡
    * recompute.
    *
    * Append refresh (r17 verdict task 3): pairs split by endpoint
    * membership exactly like scored_ — band collisions and every scored
    * value depend only on the two endpoint docs — so old×old pairs are
    * the old artifact verbatim, and pairs touching the AUGMENTED batch
    * (batch docs + batch excerpts) come from band-probing the old
    * contsig_ index with batch signatures plus the batch self-join. The
    * old corpus is touched only through its artifacts (contsig_ for
    * signatures, shingles_ ∪ exsh_ semi-joined to collided docs for
    * verification) — NO old text is read. */
  private[graft] lazy val ContAudit: ArtifactFamily = new ArtifactFamily("contaud", Docs,
    defining = (spark, dir) => containmentAudit(excerptAugmented(spark, dir)),
    build = (spark, dir, _) => d16Derive(spark, dir),
    refresh = Fold { (spark, oldDir, newDir, built) =>
      val oldSig = ContSig.serve(spark, oldDir)
      val shB = shinglesOf(augmentedOf(appendedBatch(spark, oldDir, newDir)))
      val sigB = lshSignatures(shB)
      val candB = persistOnce(batchCandidates(sigB, oldSig))
      built += shB; built += sigB; built += candB
      val touched = endpoints(candB)
      val sh = shB.unionAll(Shingles.serve(spark, oldDir)
        .unionAll(ExcerptShingles.serve(spark, oldDir))
        .join(touched, Seq("doc_id"), "left_semi"))
      val sizes = sigB.select(col("doc_id"), col("n")).unionAll(
        oldSig.select(col("doc_id"), col("n")).join(touched, Seq("doc_id"), "left_semi"))
      ContAudit.serve(spark, oldDir).unionAll(scoreContainment(candB, sh, sizes))
    })

  /** Excerpt-row shingles as a PERSISTED CATALOG ARTIFACT (r18, the
    * contaud-refresh prerequisite): the d16 build and the contaud_
    * append refresh both need the augmented side's shingles, and until
    * r18 the only way to get an OLD excerpt's shingles was to re-walk
    * the old corpus's 1/17 excerpt slice. One tiny table (13 shingles
    * per excerpt row) makes the old side probe-only. Keyed by the raw
    * derivation; per-DOC rows → file-level append refresh. */
  private[graft] lazy val ExcerptShingles: ArtifactFamily = new ArtifactFamily("exsh", Docs,
    defining = (spark, dir) => shinglesOf(excerptsOf(Tables.load(spark, dir, "documents"))),
    build = (spark, dir, _) => shinglesOf(excerptsOf(Tables.load(spark, dir, "documents"))),
    refresh = RowAppend { (batch, built) =>
      val shB = shinglesOf(excerptsOf(batch))
      built += shB
      shB
    })

  /** MinHash signatures of the EXCERPT-AUGMENTED corpus as a persisted
    * artifact — the probe index the contaud_ refresh band-probes with
    * batch signatures (the scored_ economics applied to d16): without
    * it, any corpus append had to re-derive every augmented signature
    * before the audit could be refreshed. Keyed by the raw derivation;
    * the build composes the served real-doc and excerpt shingle
    * artifacts (exact longs → serve ≡ recompute). Per-DOC rows (batch
    * docs + batch excerpts) → file-level append refresh. */
  private[graft] lazy val ContSig: ArtifactFamily = new ArtifactFamily("contsig", Docs,
    defining = (spark, dir) => lshSignatures(shinglesOf(excerptAugmented(spark, dir))),
    build = (spark, dir, _) => lshSignatures(persistOnce(Shingles.serve(spark, dir)
      .unionAll(ExcerptShingles.serve(spark, dir)))),
    refresh = RowAppend { (batch, built) =>
      val shB = shinglesOf(augmentedOf(batch))
      val sigB = lshSignatures(shB)
      built += shB; built += sigB
      sigB
    })

  /** The d16 DERIVATION body over the served shingle/signature
    * artifacts — what [[ContAudit]] materializes once
    * per corpus state. sh(docs ∪ excerpts) = served_sh(docs) ∪
    * served_exsh(docs) (shingling is per-row, excerpt ids disjoint),
    * and the signature table is the served contsig_ — a cold audit
    * build never re-walks corpus text. */
  private[graft] def d16Derive(spark: SparkSession, dir: String): DataFrame = {
    val sh = persistOnce(
      Shingles.serve(spark, dir).unionAll(ExcerptShingles.serve(spark, dir)))
    val sig = persistOnce(ContSig.serve(spark, dir))
    scoreContainment(lshCandidates(sig), sh, sig.select(col("doc_id"), col("n")))
  }

  def d16ContainmentAudit(spark: SparkSession, dir: String): DataFrame =
    ContAudit.serve(spark, dir)
      .orderBy(col("containment").desc, col("doc_a").asc, col("doc_b").asc)

  // ---------------------------------------------------------------------
  // d17 — containment SKETCH: the guaranteed-recall fix for d16's
  // resemblance-banded candidate stream (Broder 1997: containment needs
  // a sample of the SMALLER set probed against the other set's full
  // membership, not a symmetric min-wise signature — min-wise bands
  // guarantee recall only as a function of Jaccard). Each doc
  // contributes its bottom-K shingles by the shared uniform hash — a
  // uniform random K-subset of its shingle set, since hash order is a
  // random permutation of the shingle universe — and probes the full
  // shingle inverted index with them. For a pair at containment
  // c = shared/min(n_a, n_b), each anchor of the smaller doc lands in
  // the larger w.p. ≥ c, so the pair escapes all K anchors w.p.
  // ≤ (1-c)^K: at c = 0.9, K = 4 that is 10^-4, INDEPENDENT of Jaccard
  // (the band stream's miss probability at j = 0.34 is ~37%).
  // Candidates are then exact-verified like every LSH path, so
  // precision stays exact; everything is deterministic given the hash.
  //
  // Scale: anchors are K rows/doc from a doc-keyed bottom-K (row_number
  // partitioned by doc_id — never a global window); the probe is ONE
  // hash-equi join whose fanout is Σ_anchors df(anchor) ≈ K·E[df] per
  // doc. Hot boilerplate shingles inflate df — strip them with d12
  // first on template-heavy corpora (the sketch stays correct, it just
  // pays more candidates).
  // ---------------------------------------------------------------------
  val AnchorK = 4

  /** Document-frequency cap on the INVERTED-INDEX side of the anchor
    * probe. The probe's fanout is Σ_anchors df(anchor);
    * on a template-heavy corpus a hot boilerplate shingle with df ≈
    * corpus size turns one unlucky anchor into a near-cartesian
    * candidate wave. Shingles with df > cap are dropped from the index
    * side ONLY — every doc still contributes all [[AnchorK]] anchors,
    * an over-cap anchor merely finds no partner. Recall: a shingle in
    * >cap documents is near-useless containment evidence (it does not
    * distinguish the containing doc from cap others), and the pair's
    * remaining anchors still bound the miss probability — (1-c)^K
    * degrades only by the capped anchors' share (spec-pinned ≥0.95 on
    * a boilerplate-heavy corpus). Worst-case candidate fanout becomes
    * docs·K·cap — linear in the corpus at fixed cap — instead of
    * docs·K·df_max. */
  val AnchorDfCap: Long = 1024L

  /** Minimum matched-anchor count for a candidate pair to reach exact
    * verification (1 would restore verify-every-collision).
    *
    * The verify stage — joining every candidate pair against both full
    * shingle sets — owns the d17 wall-clock (14.7 s of the sf1 total in
    * the r10 study), and on a word-salad corpus ~99% of single-anchor
    * collisions are spurious pairs at containment far below the 0.9
    * threshold. The matched-anchor count is FREE: it is sitting in the
    * candidate join before the `.distinct()` discards it. Requiring
    * ≥ 2 distinct anchor hits (from either probe direction — max is
    * taken over both) prunes the spurious wave before the expensive
    * join touches it.
    *
    * Recall arithmetic (the sketch's contract is miss ≤ (1-c)^K at
    * m=1): at m=2 the smaller doc's direction misses w.p.
    * ≤ (1-c)^K + K·c·(1-c)^(K-1) — at the 0.9 containment threshold
    * that is ≤ 0.37% vs 0.01%, and a FULLY contained doc (c = 1, the
    * excerpt case) is still found deterministically because all of its
    * anchors hit. Docs with fewer than [[MinAnchorHits]] usable anchors
    * (< 2·3-word texts under the df cap) are exempted down to their own
    * anchor count, so tiny docs keep the m=1 guarantee. The DuckDB
    * oracle mirrors the prune exactly (deterministic given h31), and
    * the recall spec re-asserts ≥95% against exhaustive truth. */
  val MinAnchorHits: Long = 2L

  /** The sketch's candidate stream: bottom-K anchor shingle-hashes per
    * doc probing the df-capped hashed shingle inverted index. Exposed to
    * the recall/fanout spec so the cap's candidate bound is assertable
    * without re-deriving the join. */
  private[graft] def sketchCandidates(docs: DataFrame, dfCap: Long): DataFrame =
    sketchCandidatesHashed(
      hashedShinglesOf(docs.select(col("doc_id"), col("text"))), dfCap)

  /** [[sketchCandidates]] over an already-built (and typically already
    * persisted) HASHED shingle frame — distinct (doc_id, h) rows.
    *
    * Everything here travels as longs. The probe joins on the 60→31-bit
    * hash, never the shingle string: a hash collision can only ADD a
    * candidate (or, on the df side, only make the cap MORE
    * conservative), and the exact verify stage discards phantoms.
    * Anchors are the K smallest distinct hashes per doc, computed with a
    * bounded per-doc fold (collect over ≤ doc-length values, sort, take
    * K) instead of a corpus-wide window sort; the per-doc usable-anchor
    * count rides the anchor row as `need`, so the [[MinAnchorHits]]
    * prune needs no extra join and a doc with fewer than MinAnchorHits
    * anchors keeps its m=1 findability. */
  private[graft] def sketchCandidatesHashed(hs: DataFrame, dfCap: Long): DataFrame = {
    val anchors = hs.groupBy(col("doc_id"))
      .agg(slice(array_sort(collect_list(col("h"))), 1, AnchorK).as("anchor_hs"))
      .select(col("doc_id"), explode(col("anchor_hs")).as("h"),
        least(lit(MinAnchorHits), size(col("anchor_hs")).cast("long")).as("need"))
    val dfOk = hs.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap).select(col("h"))
    val index = hs.join(dfOk, Seq("h"), "left_semi")
    // hs is distinct per (doc, h) and a doc's anchors are distinct
    // values, so each matched anchor contributes exactly one row per
    // (pair, probe direction) — count(*) IS the matched-anchor count
    anchors.as("p")
      .join(index.as("q"),
        col("p.h") === col("q.h") && col("p.doc_id") =!= col("q.doc_id"))
      .groupBy(least(col("p.doc_id"), col("q.doc_id")).as("doc_a"),
        greatest(col("p.doc_id"), col("q.doc_id")).as("doc_b"),
        col("p.doc_id").as("probe"))
      .agg(count(lit(1)).as("m"), first(col("p.need")).as("need"))
      .where(col("m") >= col("need"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Containment-sketch audit over ANY (doc_id, text) frame — d16's
    * output contract with candidate recall guaranteed by CONTAINMENT
    * (miss ≤ (1-c)^K) rather than resemblance, at an explicit probe-side
    * df cap. */
  def containmentSketch(docs: DataFrame, dfCap: Long): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    // candidates consumed twice below (touched-doc restriction + verify
    // join), and the surviving set is tiny post-prune — persist it
    val cand = persistOnce(
      sketchCandidatesHashed(hashedShinglesOf(base), dfCap))
    // Exact verification re-derives STRING shingles only for docs a
    // surviving candidate touches: verify cost is proportional to the
    // dup rate, not the corpus — at 100 TB the full-corpus string
    // explode+distinct never happens on this path. sharedCounts /
    // scoreContainment read shingles and sizes only for pair members,
    // so the restriction is output-identical to scoring against the
    // full corpus frame.
    val touched = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val shT = shinglesOf(base.join(touched, Seq("doc_id"), "left_semi"))
    val sizes = shT.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    scoreContainment(cand, shT, sizes)
  }

  /** [[containmentSketch]] at the default [[AnchorDfCap]]. */
  def containmentSketch(docs: DataFrame): DataFrame =
    containmentSketch(docs, AnchorDfCap)

  def d17ContainmentSketch(spark: SparkSession, dir: String): DataFrame =
    containmentSketch(excerptAugmented(spark, dir))

  // ---------------------------------------------------------------------
  // d18 — contamination SKETCH: the scale-capped twin of d07 (the r11
  // verdict's top gap). d07/d15 are exact and sub-linear vs their
  // contractual work, but that work — the eval×train shingle join's
  // Σ_h dfE(h)·dfT(h) output — measured 99.2×/decade on a saturating
  // vocabulary (ProbeD07): at sf100 it is ~17B rows and no constant-
  // factor tuning survives. This operator applies the d17 anchor pattern
  // to the EVAL side: each eval doc contributes its bottom-K shingle
  // hashes (a uniform K-subset of its shingle set, since the hash orders
  // a random permutation of the shingle universe) and probes a
  // DF-CAPPED train inverted index; surviving candidate pairs are then
  // verified EXACTLY on the full shingle sets, so precision is exact and
  // only candidate recall is probabilistic.
  //
  // Recall arithmetic: for a pair at contamination fraction
  // f = shared/n_eval, each anchor lands in the train doc w.p. f, so
  // matched anchors m ~ Binomial(K, f) and the m ≥ 2 prune misses w.p.
  // ≤ (1-f)^K + K·f·(1-f)^(K-1): at the 0.3 threshold with K = 16 that
  // is ≤ 2.6%, falling fast with f (an eval doc FULLY contained in a
  // train doc has every anchor hit and is found deterministically while
  // its anchors stay under the df cap). Docs with fewer than 2 usable
  // anchors are exempted down to their own anchor count (the d17 rule).
  //
  // Scale: candidate-join output is ≤ evalDocs · K · dfCap BY
  // CONSTRUCTION — linear in the eval set at a fixed cap and
  // INDEPENDENT of train-corpus growth (an eval benchmark is a fixed
  // set; d07's Σ dfE·dfT instead grows with every train doc that shares
  // a term). The verify stage touches only candidate pairs × their two
  // docs' shingles — dup-rate-proportional, the d17 verify contract.
  // Compose [[stripBoilerplate]] in front on template-heavy corpora:
  // hot spans inflate BOTH n_eval (diluting real overlap below the
  // threshold) and df (pushing anchors over the cap).
  // ---------------------------------------------------------------------
  /** Anchors per eval doc (bottom-K distinct 60-bit shingle hashes). */
  val ContamAnchorK = 16

  /** Document-frequency cap on the TRAIN index side of the d18 probe.
    * Over-cap shingles are dropped from the INDEX only —
    * every eval doc still contributes all [[ContamAnchorK]] anchors, an
    * over-cap anchor merely finds no partner (it was near-useless
    * contamination evidence anyway: a shingle in >cap training docs
    * does not localize a leak). Worst-case candidate fanout becomes
    * evalDocs·K·cap instead of Σ dfE·dfT. */
  val ContamDfCap: Long = 4096L

  /** Minimum matched-anchor count before exact verification (the d17
    * prune; 1 would restore verify-every-collision). */
  val ContamMinAnchorHits: Long = 2L

  /** The sketch's candidate stream over already-built HASHED shingle
    * frames (distinct (doc_id, h) rows): eval bottom-K anchors probing
    * the df-capped train index. Exposed so the probe/spec can assert the
    * candidate bound without re-deriving the join. */
  private[graft] def contamSketchCandidates(evalHs: DataFrame,
      trainHs: DataFrame, dfCap: Long): DataFrame = {
    val anchors = evalHs.groupBy(col("doc_id"))
      .agg(slice(array_sort(collect_list(col("h"))), 1, ContamAnchorK).as("anchor_hs"))
      .select(col("doc_id").as("eval_id"), explode(col("anchor_hs")).as("h"),
        least(lit(ContamMinAnchorHits), size(col("anchor_hs")).cast("long")).as("need"))
    val dfOk = trainHs.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap).select(col("h"))
    val index = trainHs.join(dfOk, Seq("h"), "left_semi")
      .select(col("doc_id").as("train_id"), col("h"))
    // both sides are distinct per (doc, h) and a doc's anchors are
    // distinct values, so count(*) IS the matched-anchor count
    anchors.join(index, Seq("h"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("m"), first(col("need")).as("need"))
      .where(col("m") >= col("need"))
      .select(col("eval_id"), col("train_id"))
  }

  /** Exact-verified qualifying (eval, train) pairs from the sketch
    * candidate stream — d07's [[contaminationPairs]] output contract
    * (same columns, same threshold, same h60 counting domain), recall
    * bounded by the anchor arithmetic above instead of exact. */
  def contaminationSketchPairs(train: DataFrame, evalDocs: DataFrame,
      dfCap: Long = ContamDfCap): DataFrame =
    contaminationSketchPairsHashed(hashed60ShinglesOf(train),
      hashed60ShinglesOf(evalDocs), dfCap)

  /** [[contaminationSketchPairs]] over PRE-HASHED (doc_id, h) shingle
    * frames — the core the h60-artifact serve path enters directly (the
    * shingle derivation is the served index there, not a fresh corpus
    * text walk; anchors, df cap, probe and exact verify all still
    * execute per read). */
  private[graft] def contaminationSketchPairsHashed(trainHs: DataFrame,
      evalHs: DataFrame, dfCap: Long): DataFrame = {
    // consumed by the touched-doc restriction AND the verify join, and
    // tiny post-prune — persist it
    val cand = persistOnce(contamSketchCandidates(evalHs, trainHs, dfCap))
    // exact verification restricted to docs a candidate touches: verify
    // cost ∝ candidates × doc size, never corpus-proportional. n_eval is
    // the FULL per-doc shingle count (the restriction keeps every h row
    // of a touched doc), so the fraction equals d07's exactly.
    // The touched slices are PERSISTED (guide §2.4 duplicate subtrees):
    // evT feeds both evalSizes and the shared join, trT the shared join —
    // unpersisted, each reference re-ran its semi-join over the full h60
    // frame (the r18 stage probe measured ~5 full-index scans per run in
    // this tail, 18–23 CPU-s at sf0.1); persisted, the index is scanned
    // once per side and the slices are candidate-sized.
    val evT = persistOnce(
      evalHs.join(cand.select(col("eval_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"))
    val trT = persistOnce(
      trainHs.join(cand.select(col("train_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"))
    val evalSizes = evT.groupBy(col("doc_id").as("eval_id"))
      .agg(count(lit(1)).as("n_eval"))
    val shared = cand.as("c")
      .join(evT.as("e"), col("c.eval_id") === col("e.doc_id"))
      .join(trT.as("t"),
        col("c.train_id") === col("t.doc_id") && col("e.h") === col("t.h"))
      .groupBy(col("c.eval_id").as("eval_id"), col("c.train_id").as("train_id"))
      .agg(count(lit(1)).as("shared"))
    val frac = col("shared").cast("double") / col("n_eval")
    shared.join(evalSizes, Seq("eval_id"))
      .where(frac >= ContaminationThreshold)
      .select(col("eval_id"), col("train_id"), col("shared"), col("n_eval"))
  }

  /** Top contamination hits via the sketch — d07's [[contamination]]
    * presentation over the capped candidate stream. */
  def contaminationSketch(train: DataFrame, evalDocs: DataFrame): DataFrame =
    contaminationSketchPairs(train, evalDocs)
      .orderBy((col("shared").cast("double") / col("n_eval")).desc,
        col("eval_id").asc, col("train_id").asc)
      .limit(200)

  /** The fixture d18/d19 sketch pair stream over the SERVED h60 shingle
    * index (r17 verdict task 1): both queries re-derived
    * [[hashed60ShinglesOf]] from raw text per run — two full corpus text
    * walks each — while the identical (doc_id, h) rows sit in the h60_
    * artifact d07/d15 already serve (filtering the corpus-wide index by
    * the fixture predicate equals hashing the filtered frames; shingling
    * is per-row). The INTERMEDIATE is what's served: anchors, the df
    * cap, the probe join and the exact verify still execute in-window on
    * every read, and the h60_ family is refresh-folded on append
    * ([[H60]]). */
  private def fixtureSketchPairsServed(spark: SparkSession, dir: String): DataFrame = {
    val h60 = persistOnce(H60.serve(spark, dir))
    contaminationSketchPairsHashed(h60.where(col("doc_id") % 10 =!= 0),
      h60.where(col("doc_id") % 10 === 0), ContamDfCap)
  }

  def d18ContaminationSketch(spark: SparkSession, dir: String): DataFrame =
    fixtureSketchPairsServed(spark, dir)
      .orderBy((col("shared").cast("double") / col("n_eval")).desc,
        col("eval_id").asc, col("train_id").asc)
      .limit(200)

  // ---------------------------------------------------------------------
  // d19 — decontamination at scale: d15's apply contract over d18's
  // capped pair stream (the removal and the detection read the SAME
  // pairs, so they cannot disagree). The shipping path for a 100 TB
  // train corpus: every stage is linear in the corpus plus
  // evalDocs·K·cap.
  // ---------------------------------------------------------------------
  /** The train corpus minus every doc the SKETCH flags as overlapping an
    * eval doc — [[decontaminate]]'s twin over the capped stream. */
  def decontaminateSketch(train: DataFrame, evalDocs: DataFrame): DataFrame = {
    val dirty = contaminationSketchPairs(train, evalDocs)
      .select(col("train_id").as("doc_id")).distinct()
    train
      .join(dirty, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id").asc)
  }

  def d19DecontaminateSketch(spark: SparkSession, dir: String): DataFrame = {
    // same served-h60 pair stream as d18 (detection and removal read the
    // same pairs); the anti-join side reads the corpus with the text
    // column pruned at the scan
    val dirty = fixtureSketchPairsServed(spark, dir)
      .select(col("train_id").as("doc_id")).distinct()
    Tables.load(spark, dir, "documents").where(col("doc_id") % 10 =!= 0)
      .join(dirty, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id").asc)
  }

  // ---------------------------------------------------------------------
  // d20 — boilerplate STRIP: d12's apply twin and the composable
  // pre-step the contamination family prescribes (r11 PERF.md: "the
  // real scale levers remain d12 boilerplate stripping — hot shingles
  // inflate df directly"). Every word position covered by a
  // cross-document boilerplate span (word-[[SpanWidth]]-gram appearing
  // in ≥ [[BoilerMinDocs]] distinct docs — d12's exact definition) is
  // removed; surviving words are rejoined in order. Plan shape: the
  // span frame shuffles once on the gram key for the df table, the
  // position kill-list and the rebuild aggregate key on doc_id —
  // map-side combinable, nothing corpus-quadratic.
  // ---------------------------------------------------------------------
  /** (doc_id, text) with cross-document boilerplate spans stripped —
    * identity (original text object, not a re-join) for docs containing
    * no boilerplate; stripped docs are rebuilt as the kept words joined
    * by single spaces (a doc that was ALL boilerplate becomes ''). */
  def stripBoilerplate(docs: DataFrame): DataFrame =
    stripReport(docs).select(col("doc_id"), col("text"))

  /** The strip with its audit columns: one row per INPUT doc —
    * n_words (original), n_dropped, and the post-strip text. */
  private[graft] def stripReport(docs: DataFrame): DataFrame = {
    // spans as graft_ngram_h60 codes (r13, same contract as d12): every
    // stage shuffles 8-byte codes, never span strings. r14 drops the
    // r13 persistOnce of the full (doc_id, i, g) frame: materializing
    // ~57M gram rows cost more than the two map-only byte-walk scans
    // that replace it, and the df pass now dedups WITHIN the row
    // (array_distinct before the explode) so the document-frequency is
    // ONE 1-level aggregate with map-side combine — no (doc_id, g)
    // distinct shuffle feeding a second g shuffle. Single-shuffle
    // alternatives were tried and rejected (PERF.md 14b): repartition-
    // on-g + stage reuse — the optimizer pushes the semi-join below the
    // repartition, the subtrees stop matching, and the reuse is lost;
    // one collect_list(struct(doc_id,i))-per-gram aggregate — a
    // universal boilerplate span becomes ONE row holding every
    // occurrence in the corpus, the unbounded-group hazard s04 was
    // rebuilt to avoid. Re-hashing the text on the second scan is the
    // scale-safe trade: scans parallelize by split, the df shuffle
    // stays 8 bytes/gram.
    // spreadIfNarrow: a single-row-group documents file yields ONE
    // split, so the md5 walk AND the 26M-key partial aggregate would
    // run single-threaded (measured 28.7 s of d20's 34.7 at sf10full —
    // PERF.md 14b); on any multi-split corpus the guard makes it a
    // structural no-op
    val spread = graft.plans.Scale.spreadIfNarrow(
      docs.select(col("doc_id"), col("text")))
    // repartition(g) + COMPLETE aggregate, not partial+final: gram keys
    // are near-unique (28.51M grams → 26.3M distinct at sf10full), so
    // map-side combine reduces nothing and its hash map IS the cost —
    // measured 28.5 s partial+final vs 13.4 s shuffle-raw+complete
    // before the spread, PERF.md 14b. Shuffle bytes are identical
    // (8 B/gram either way).
    val hot = spread
      .select(explode(array_distinct(
        expr(s"graft_ngram_h60(text, $SpanWidth)"))).as("g"))
      .repartition(col("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .where(col("df") >= BoilerMinDocs).select(col("g"))
    // per-doc list of hot-span START positions; the per-position
    // kill-list, the word posexplode, the anti-join, and the sorted
    // collect_list rebuild all collapsed into the graft_strip_spans
    // walk (r13) — they shuffled every word of every document to
    // reunite rows that never had to leave it. One narrow doc_id
    // shuffle (the start lists) remains; AQE broadcasts the df-filtered
    // hot set so the position scan stays map-only, falling back to a
    // shuffle join only if the corpus genuinely has a huge boilerplate
    // vocabulary.
    val grams = spread.select(col("doc_id"),
        posexplode(expr(s"graft_ngram_h60(text, $SpanWidth)")).as(Seq("i0", "g")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), col("g"))
    val badStarts = grams.join(hot, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("i")).as("starts"))
    spread.join(badStarts, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), expr(
        s"graft_strip_spans(text, coalesce(starts, array()), $SpanWidth)").as("r"))
      .select(col("doc_id"),
        col("r.n_words").as("n_words"),
        col("r.n_dropped").as("n_dropped"),
        col("r.text").as("text"))
  }

  /** The d20 report row: docs the strip CHANGED (n_dropped > 0). */
  def boilerplateStrip(docs: DataFrame): DataFrame =
    stripReport(docs)
      .where(col("n_dropped") > 0)
      .select(col("doc_id"), col("n_words"), col("n_dropped"), col("text"))
      .orderBy(col("doc_id").asc)

  def d20BoilerplateStrip(spark: SparkSession, dir: String): DataFrame =
    boilerplateStrip(Tables.load(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // d08 — near-dup clusters at scale: d06's semantics with the edge set
  // built from d03's LSH band candidates instead of the exact
  // inverted-index self-join (which is quadratic in per-shingle doc
  // frequency). Candidates (O(band collisions)) are exact-verified
  // (jaccard ≥ 0.6 on the real shingle sets) before clustering, so
  // PRECISION is exact and only recall is probabilistic: a j=0.6 pair
  // collides in ≥1 of the 8 two-row bands w.p. 1−(1−0.6²)^8 ≈ 97%, and
  // near-identical pairs with near-certainty. This is the clustering
  // path that survives 100 TB — no stage is quadratic in corpus size.
  // The DuckDB oracle mirrors the band joins exactly, so the result is
  // deterministic and oracle-checked despite the probabilistic recall.
  // ---------------------------------------------------------------------
  /** The exact-verified LSH edge set (jaccard ≥ threshold pairs from
    * band candidates) — d08's clustering input, shared with d09's apply
    * step and s08's cross-modal audit so all three agree on what counts
    * as a near-dup. */
  private[graft] def lshEdges(spark: SparkSession, dir: String): DataFrame =
    lshEdgesOf(Tables.load(spark, dir, "documents"))

  /** The exact-verified LSH edge set over ANY (doc_id, text) frame. */
  private[graft] def lshEdgesOf(docs: DataFrame): DataFrame = {
    val sh = shinglesOf(docs)
    val sig = lshSignatures(sh)
    thresholdEdges(sharedCounts(lshCandidates(sig), sh),
      sig.select(col("doc_id"), col("n")))
  }

  /** LSH near-dup clustering over ANY (doc_id, text) frame — computes
    * labels inline. The dir wrapper instead serves labels from the
    * persisted warehouse artifact; pair this core with
    * [[graft.sources.Artifacts.servePersisted]] under a caller-chosen
    * key to get the same build-once-serve-many behavior on your own
    * table. */
  def lshClusters(docs: DataFrame): DataFrame =
    clusterOutput(lshLabelsOf(docs))

  /** The (doc_id, label) near-dup label table of ANY (doc_id, text)
    * frame — what [[Labels]] serves for a corpus dir. */
  private[graft] def lshLabelsOf(docs: DataFrame): DataFrame =
    minLabelComponents(lshEdgesOf(docs))

  /** The exact-verified LSH edge set, served as a PERSISTED CATALOG
    * ARTIFACT. Until r13 the edge derivation was recomputed by every
    * consumer and its cost rode on persistOnce cache ORDER inside one
    * JVM — d08 warmed the shingle/signature frames and s08's wall-clock
    * depended on whether those caches were still resident (the r13
    * sweep's one wrong-way row: s08 5.0→10.5 s at sf10full on identical
    * digests). Materializing the edges themselves makes the cost a
    * CONTRACT: the band joins + exact verification run once per corpus,
    * and every consumer — d08's label build, s08's cross-modal audit,
    * any future pair consumer — reads the same small parquet table.
    * Serving is value-identical to recomputing (the derivation is
    * deterministic; every consumer aggregates or re-sorts, so file row
    * order is immaterial) and the DuckDB oracle still re-derives the
    * full edge set per query. Keyed, like labels, by the corpus and the
    * edge derivation, so a changed LSH layout or threshold can never
    * serve a stale artifact. On append it is re-derived from the
    * refreshed scored_ table. */
  private[graft] lazy val Edges: ArtifactFamily = new ArtifactFamily("edges", Docs,
    defining = lshEdges,
    // build from the served SCORED candidate artifact (r16): the edge
    // set is the ≥ threshold slice of the one scored pair population —
    // a cold edge build pays a table scan, not its own band joins +
    // verification. Expression mirrors thresholdEdges exactly (Divide
    // casts to double; a null `shared` comparison is null → dropped,
    // same as the inner join it replaces).
    build = (spark, dir, _) => Scored.serve(spark, dir)
      .where(col("shared") / (col("n_a") + col("n_b") - col("shared")) >= ClusterThreshold)
      .select(col("doc_a"), col("doc_b")),
    refresh = Rederive)

  // ---------------------------------------------------------------------
  // Persisted DEDUP INDEX artifacts (VERDICT r7 task 2): the per-doc
  // signature row (text md5 + MinHash signature + set size) and the
  // doc-shingle index, materialized ONCE per corpus like the label and
  // centroid tables. These are what make the incremental paths (d10
  // probe, label refresh) genuinely batch-scale: without them every
  // "incremental" run re-shingled and re-signed the full existing
  // corpus — a daily 100 TB text scan on a daily-append pipeline, the
  // exact cost class the incremental operators exist to avoid. The
  // reference's own idiom is materialize-once-reuse-everywhere
  // (TyreStore Challenge.py:162-166 persists `delta.carts` and every
  // later cell reads the table, not the raw files).
  // ---------------------------------------------------------------------
  /** Per-doc dedup-index row over ANY (doc_id, text) frame: text md5
    * (exact-dup probes) + MinHash signature and shingle-set size
    * (band-candidate probes). LEFT join keeps docs with <3 words
    * (no shingles): their null band keys can never equi-match, but
    * their md5 still serves exact-dup checks. */
  private[graft] def dedupIndexOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .join(lshSignatures(shinglesOf(docs.select(col("doc_id"), col("text")))),
        Seq("doc_id"), "left_outer")

  /** The per-doc signature index, served as a persisted catalog
    * artifact. Build-once: every incremental consumer probes this table
    * instead of re-signing the corpus. Per-row derivation (md5 +
    * own-shingle MinHash) → file-level append refresh. */
  private[graft] lazy val DedupSig: ArtifactFamily = new ArtifactFamily("dedupsig", Docs,
    defining = (spark, dir) => dedupIndexOf(Tables.load(spark, dir, "documents")),
    build = (spark, dir, _) => dedupIndexOf(Tables.load(spark, dir, "documents")),
    refresh = RowAppend { (batch, built) =>
      val shB = shinglesOf(batch.select(col("doc_id"), col("text")))
      val sigB = lshSignatures(shB)
      built += shB; built += sigB
      batch.select(col("doc_id"), md5(col("text")).as("text_md5"))
        .join(sigB, Seq("doc_id"), "left_outer")
    })

  /** The doc-shingle inverted-index rows, served as a persisted catalog
    * artifact. The build clusters rows by doc_id (range partition +
    * in-partition sort) so the verify stage's candidate-endpoint reads
    * prune parquet row groups by doc_id min/max instead of scanning the
    * whole index. The defining KEY plan stays the raw derivation — the
    * layout step changes bytes-on-disk, not rows, so from-scratch and
    * chained builds keep the same key contract. On append the previous
    * generation's doc_id-clustered files are LINKED unchanged (their
    * per-file min/max pruning stays intact); the batch files are
    * clustered among themselves — global range disjointness degrades to
    * per-file pruning, which is what parquet min/max stats give anyway. */
  private[graft] lazy val Shingles: ArtifactFamily = new ArtifactFamily("shingles", Docs,
    defining = (spark, dir) => shinglesOf(docText(spark, dir)),
    build = (spark, dir, _) => shinglesOf(docText(spark, dir))
      .repartitionByRange(col("doc_id")).sortWithinPartitions(col("doc_id")),
    refresh = RowAppend { (batch, built) =>
      val shB = shinglesOf(batch.select(col("doc_id"), col("text")))
      built += shB
      shB.repartitionByRange(col("doc_id")).sortWithinPartitions(col("doc_id"))
    })

  /** The near-dup label table, served as a PERSISTED CATALOG ARTIFACT —
    * the dedup counterpart of Similarity's trained-centroid table: a real
    * pipeline materializes the labels ONCE (d08 is that build) and every
    * consumer (d09 apply, p01 ledger, and every later SESSION — the
    * artifact outlives the JVM) reads the parquet table instead of
    * re-running the band joins + propagation loop. Serving is
    * bit-identical to recomputing (the loop is deterministic; spec-pinned
    * cold ≡ warm ≡ cross-session), and the DuckDB oracle still re-derives
    * the full recursive clustering per query.
    *
    * Append refresh RIDES the refreshed edges_ artifact: the scored_
    * refresh already found and verified every pair touching the batch,
    * so the label update is [[mergeNewEdgesIntoLabels]] over the
    * batch-touching slice of edges(newDir) — no second band probe. */
  private[graft] lazy val Labels: ArtifactFamily = new ArtifactFamily("labels", Docs,
    defining = lshEdges,
    // build from the served EDGE artifact: a cold label build pays one
    // edge derivation (shared with s08 and any other pair consumer),
    // not its own — and the propagation loop reads a compact parquet
    // pair table instead of re-running band joins per iteration seed
    build = (spark, dir, _) => minLabelComponents(Edges.serve(spark, dir)),
    refresh = Fold { (spark, oldDir, newDir, _) =>
      val batchIds = appendedBatch(spark, oldDir, newDir).select(col("doc_id"))
      val e = Edges.serve(spark, newDir)
      val touching = e
        .join(batchIds.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .select(col("doc_a"), col("doc_b"))
        .unionAll(e
          .join(batchIds.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
          .join(batchIds.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
          .select(col("doc_a"), col("doc_b")))
      mergeNewEdgesIntoLabels(Labels.serve(spark, oldDir), touching)
    })

  def d08LshClusters(spark: SparkSession, dir: String): DataFrame =
    clusterOutput(Labels.serve(spark, dir))

  // ---------------------------------------------------------------------
  // d09 — dedup APPLY: the pipeline's actual output — the corpus that
  // survives exact dedup (d01: keep the min doc_id per identical text)
  // AND near-dup clustering (d08: keep each cluster's min member). The
  // last mile every real dedup run ships: d01-d08 find duplicates; this
  // materializes the kept corpus. Both filters are (broadcast-friendly)
  // semi/anti joins on doc_id — no new shuffle shape beyond what the
  // shared LSH machinery already pays. Exact-dups of a cluster keeper
  // resolve consistently: identical texts are jaccard-1 pairs, so they
  // share a cluster and both rules keep the same min doc_id.
  // ---------------------------------------------------------------------
  /** Dedup apply over ANY (doc_id, text, lang, source, n_chars) frame,
    * given a (doc_id, label) near-dup label table (from
    * [[minLabelComponents]], a persisted artifact, or any equivalent). */
  def dedupApply(docs: DataFrame, labels: DataFrame): DataFrame = {
    val exactKeep = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val nearDrop = labels.where(col("label") =!= col("doc_id")).select(col("doc_id"))
    docs
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id").asc)
  }

  /** [[dedupApply]] computing the near-dup labels inline from the same
    * frame — the one-argument form for arbitrary corpora. */
  def dedupApply(docs: DataFrame): DataFrame =
    dedupApply(docs, lshLabelsOf(docs))

  def d09DedupApply(spark: SparkSession, dir: String): DataFrame =
    dedupApply(Tables.load(spark, dir, "documents"), Labels.serve(spark, dir))

  // ---------------------------------------------------------------------
  // d10 — INCREMENTAL dedup: today's batch (doc_id % 7 == 0 stands in
  // for the new crawl) checked against the existing corpus — without
  // re-clustering the corpus. The production shape at 100 TB: the
  // existing side's signatures are a precomputed index (recomputed
  // in-query here so the oracle can rebuild identical state; a real
  // deployment reads the signature table d03 materializes), and the
  // band joins only ever pair NEW × EXISTING — no new×new or old×old
  // work, so daily cost scales with the batch, not the corpus. Each
  // incoming doc gets a verdict: exact_dup (md5 hit), near_dup
  // (band-candidate pair exact-verified at jaccard ≥ threshold), or
  // keep; match_id = the smallest matching existing doc.
  // ---------------------------------------------------------------------
  val IncrementalMod = 7

  /** Incremental dedup of a new batch against an existing corpus's
    * PRE-BUILT index — the deployment shape: `existingIndex` is the
    * [[DedupSig]] table (doc_id, text_md5, mh*, n) and
    * `existingShingles` the [[Shingles]] table; NO existing
    * TEXT is read. Exact-dup probes hash-join the batch md5s into the
    * index; band lookups pair NEW × EXISTING only; exact verification
    * reads existing shingle rows solely for collided docs (semi-join
    * pushdown into the doc_id-clustered shingle table). Cost: batch
    * derivation + collided-bucket index reads — never corpus-linear. */
  def incrementalDedup(incoming: DataFrame, existingIndex: DataFrame,
      existingShingles: DataFrame): DataFrame =
    incrementalDedupProgram(incoming, existingIndex, existingIndex,
      existingShingles, (_, _) => lit(true))

  /** The incremental-verdict program, generalized with a per-pair
    * admissibility predicate so an ORDERED fold (e15: batch i may only
    * match corpus docs and batches < i) runs as ONE Spark program
    * instead of one program per batch. `matchIndex` holds every row
    * eligible as a match TARGET and MAY overlap `incoming` (inadmissible
    * pairs — self-pairs, same/later batches — are removed by `pairOk`);
    * `verifyIndex`/`verifyShingles` feed the exact-verify stage and must
    * be DISJOINT from `incoming` (an incoming doc's shingles/size come
    * from the batch-side derivation — any overlap would double-count
    * shared shingles in the Jaccard verify). */
  private def incrementalDedupProgram(incoming: DataFrame,
      matchIndex: DataFrame, verifyIndex: DataFrame,
      verifyShingles: DataFrame,
      pairOk: (Column, Column) => Column,
      materialize: Boolean = true): DataFrame = {
    val exactMatch = incoming.select(col("doc_id"), md5(col("text")).as("h"))
      .join(matchIndex.select(col("text_md5").as("h"), col("doc_id").as("m")), Seq("h"))
      .where(pairOk(col("doc_id"), col("m")))
      .groupBy(col("doc_id")).agg(min(col("m")).as("exact_match"))
    val shInc = shinglesOf(incoming.select(col("doc_id"), col("text")))
    val sigInc = lshSignatures(shInc)
    // band lookups into the match index only — pairOk removes
    // inadmissible pairs (incl. self-matches when the sides overlap), so
    // no doc_a < doc_b canonicalization. Persisted: consumed by both the
    // touched-doc restriction and the verify join.
    val cand = bandCandidates(sigInc, matchIndex, canonical = false)
      .where(pairOk(col("doc_a"), col("doc_b")))
      .transform(persistOnce)
    val touched = cand.select(col("doc_b").as("doc_id")).distinct()
    val shEx = verifyShingles.join(touched, Seq("doc_id"), "left_semi")
    val sh = shInc.unionAll(shEx.select(col("doc_id"), col("shingle")))
    val sizes = sigInc.select(col("doc_id"), col("n"))
      .unionAll(verifyIndex.select(col("doc_id"), col("n")))
    val nearMatch = thresholdEdges(sharedCounts(cand, sh), sizes)
      .groupBy(col("doc_a").as("doc_id")).agg(min(col("doc_b")).as("near_match"))
    val out = incoming.select(col("doc_id"))
      .join(exactMatch, Seq("doc_id"), "left_outer")
      .join(nearMatch, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("keep").as("verdict"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"))
      .orderBy(col("doc_id").asc)
    // Materialize NOW (one job — the cand cache serves both its consumers
    // inside it), then release every per-invocation cache: cand and the
    // batch-side shingle/signature frames are BATCH-keyed plans that —
    // unlike the corpus-keyed shinglesOf idiom — can never be re-served
    // by a later query, so leaving them cached leaked one CacheManager
    // entry per daily batch for the JVM's lifetime. The returned frame is
    // the batch-sized verdict table as checkpointed partitions; its
    // blocks are freed by the ContextCleaner once the caller drops the
    // Dataset (the minLabelComponents idiom) or eagerly via
    // [[freeCheckpoint]].
    //
    // Honest-cost note (r10 forensics, PERF.md): before this release
    // discipline existed, repeated d10 calls re-served the PREVIOUS
    // call's leaked batch caches, benching a cache read (~0.7 s at
    // sf0.1-local) instead of the real per-batch probe (~3 s there, a
    // per-stage fixed-latency floor that is scale-invariant — the same
    // stages dominate nothing at sf1). Round-9's frozen-classes scaling
    // legs pre-dated the fix, so its published d10 rows carry the
    // subsidized number.
    //
    // materialize = false returns the LAZY verdict plan — never executed;
    // used only as the artifact-KEY defining plan (keyFor hashes its
    // canonicalized form), where the localCheckpoint below would run the
    // whole probe just to mint a table name.
    if (!materialize) return out
    val result = out.localCheckpoint()
    cand.unpersist(false)
    shInc.unpersist(false)
    sigInc.unpersist(false)
    result
  }

  /** Incremental dedup over ARBITRARY (doc_id, text) frames with
    * disjoint doc_ids — derives the existing side's index in-query.
    * One-shot form; a deployment (and the d10 wrapper) serves the
    * persisted index instead so daily cost scales with the batch. The
    * derived existing-side caches are released before returning (safe:
    * the 3-arg core localCheckpoints its result), so repeated one-shot
    * calls over distinct corpora no longer leak CacheManager entries. */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame): DataFrame = {
    val shEx = shinglesOf(existing.select(col("doc_id"), col("text")))
    val sigEx = lshSignatures(shEx)
    val idx = existing.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .join(sigEx, Seq("doc_id"), "left_outer") // = dedupIndexOf, with handles
    val result = incrementalDedup(incoming, idx, shEx)
    sigEx.unpersist(false)
    shEx.unpersist(false)
    result
  }

  /** Derive a batch's per-doc index rows (md5 + signature + size) and
    * shingle rows, hand both to `sink`, then release the derivation
    * caches the shared builders pin — the build-and-release form the
    * STREAMING dedup uses to append each micro-batch's rows to its
    * stream-side index without leaking one CacheManager entry per batch
    * (see [[graft.streaming.DedupStream]]). */
  private[graft] def withBatchIndex[A](batch: DataFrame)(
      sink: (DataFrame, DataFrame) => A): A = {
    val sh = shinglesOf(batch.select(col("doc_id"), col("text")))
    val sig = lshSignatures(sh)
    val idx = batch.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .join(sig, Seq("doc_id"), "left_outer")
    try sink(idx, sh)
    finally { sig.unpersist(false); sh.unpersist(false) }
  }

  // ---------------------------------------------------------------------
  // e15 — STREAMING incremental dedup, batch twin: the stream-side docs
  // (the d10 batch slice) replayed as NumStreamBatches ordered
  // micro-batches, each md5- and band-probed against the corpus PLUS all
  // EARLIER batches — d10's verdict contract with a growing existing
  // side, which is exactly what graft.streaming.DedupStream executes per
  // foreachBatch trigger (probing the persisted index plus its own
  // appended stream index). This fold IS the correctness gate for the
  // stream: StreamingSpec pins stream ≡ fold batch-for-batch, and the
  // DuckDB oracle re-derives the fold with the batch ordinal as plain
  // doc_id arithmetic. Intra-batch pairs are deliberately NOT flagged —
  // micro-batch granularity is the streaming trade; a crawl increment
  // dedups against itself with d01/d03 before or after admission.
  // ---------------------------------------------------------------------
  val NumStreamBatches = 3

  /** Deterministic micro-batch ordinal of a stream-side doc. */
  private def streamBatchExpr =
    expr(s"(doc_id div $IncrementalMod) % $NumStreamBatches")

  /** The ordered-fold batch twin over ANY (doc_id, text, …) frame —
    * generic form that (re)derives every existing side from text; the
    * artifact-served twin below is the deployment-faithful one. */
  def streamDedupFold(docs: DataFrame): DataFrame = {
    val outs = (0 until NumStreamBatches).map { i =>
      val incoming = docs
        .where(col("doc_id") % IncrementalMod === 0 && streamBatchExpr === i)
        .select(col("doc_id"), col("text"))
      val existing = docs
        .where(col("doc_id") % IncrementalMod =!= 0 ||
          (col("doc_id") % IncrementalMod === 0 && streamBatchExpr < i))
        .select(col("doc_id"), col("text"))
      incrementalDedup(incoming, existing)
    }
    outs.reduce(_ unionAll _).orderBy(col("doc_id").asc)
  }

  /** e15 serves the fold the way the foreachBatch stream it twins runs —
    * probing the PERSISTED index/shingle artifacts (per-doc rows are
    * corpus-independent, so filtering the full-corpus artifact equals
    * the stream's "persisted + appended" state) — and it runs the WHOLE
    * ordered fold as ONE program: all stream docs probe the full match
    * index at once, with the batch ordering enforced by the pair
    * predicate "target is corpus, or an earlier batch". That predicate
    * IS the fold semantics (batch i's admissible match set), so the
    * verdicts equal the three sequential per-batch programs
    * (StreamingSpec pins one-shot ≡ text-derived loop; the oracle
    * re-derives from raw text) without paying three serial
    * materializations. The verify side stays corpus-only — stream docs'
    * shingles/sizes come from the batch derivation exactly once. */
  private def e15Program(spark: SparkSession, dir: String,
      materialize: Boolean): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val idx = DedupSig.serve(spark, dir)
    val shs = Shingles.serve(spark, dir)
    def isCorpus(c: Column) = c % IncrementalMod =!= 0
    // Column arithmetic, not string-spliced expr(): splicing
    // Column.toString into expr() silently builds wrong SQL for
    // qualified or backtick-needing column names if the predicate is
    // ever reused. `div` is Spark's EXACT integral division (stays in
    // long) — the r11 form `(c.cast("long") / m).cast("long")` routed
    // through DOUBLE division, whose 2^53 mantissa would map doc_ids
    // above that to the wrong stream batch.
    def ordinal(c: Column) =
      pmod(call_function("div", c.cast("long"), lit(IncrementalMod)),
        lit(NumStreamBatches))
    incrementalDedupProgram(
      docs.where(col("doc_id") % IncrementalMod === 0).select(col("doc_id"), col("text")),
      idx,
      idx.where(isCorpus(col("doc_id"))),
      shs.where(isCorpus(col("doc_id"))),
      (a, b) => isCorpus(b) || ordinal(b) < ordinal(a),
      materialize)
  }

  /** The stream-fold VERDICT LEDGER as a persisted catalog artifact
    * (r16 verdict task 8): a crawl pipeline records each batch's
    * admission verdicts ONCE — the ledger is the pipeline's output
    * state, exactly like the contamination pair set (16a) — so the fold
    * derivation (the two largest remaining sf10full CPU lines together
    * with d10's) runs once per corpus state in the build session and
    * every later read pays a result-sized table scan. Verdicts are
    * min()-aggregated longs + a 3-value string → serve ≡ recompute
    * bit-for-bit (StreamingSpec pins served ≡ text-derived fold); the
    * DuckDB oracle still re-derives the whole fold from raw text per
    * gate run. Keyed by the LAZY verdict plan itself (materialize =
    * false), so a changed threshold/band layout mints a new key and can
    * never serve stale. */
  private[graft] lazy val E15Verdicts: ArtifactFamily = new ArtifactFamily("e15verd", Docs,
    defining = e15Program(_, _, materialize = false),
    build = (spark, dir, _) => e15Program(spark, dir, materialize = true))

  def e15StreamDedup(spark: SparkSession, dir: String): DataFrame =
    E15Verdicts.serve(spark, dir).orderBy(col("doc_id").asc)

  private def d10Program(spark: SparkSession, dir: String,
      materialize: Boolean): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // The existing side probes the PERSISTED index artifacts, filtered
    // to the fixture's existing ids — per-doc rows are corpus-independent,
    // so the filtered full-corpus artifact equals an index built over the
    // existing side alone, and the serve path is the one a deployment
    // pays daily (the oracle re-derives identical state from raw text).
    val idx = DedupSig.serve(spark, dir)
      .where(col("doc_id") % IncrementalMod =!= 0)
    incrementalDedupProgram(
      docs.where(col("doc_id") % IncrementalMod === 0).select(col("doc_id"), col("text")),
      idx, idx,
      Shingles.serve(spark, dir).where(col("doc_id") % IncrementalMod =!= 0),
      (_, _) => lit(true),
      materialize)
  }

  /** d10's verdict ledger — same argument and contract as
    * [[E15Verdicts]]. */
  private[graft] lazy val D10Verdicts: ArtifactFamily = new ArtifactFamily("d10verd", Docs,
    defining = d10Program(_, _, materialize = false),
    build = (spark, dir, _) => d10Program(spark, dir, materialize = true))

  def d10IncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    D10Verdicts.serve(spark, dir).orderBy(col("doc_id").asc)

  // ---------------------------------------------------------------------
  // Incremental LABEL REFRESH: d10's batch-probe economics applied to the
  // labels ARTIFACT — append a crawl batch into an existing (doc_id,
  // label) table without re-running min-label propagation over the full
  // corpus. New edges can only touch the batch (old×old pairs are
  // unchanged), so the full union graph's components equal the components
  // of a CONTRACTED graph in which every existing endpoint is collapsed
  // to its cluster label. The propagation loop therefore runs over a
  // batch-scaled edge set; existing rows are updated by ONE broadcast
  // remap join (clusters bridged by a batch doc merge to the smaller
  // label, exactly as a from-scratch rebuild would). Min-label exactness:
  // contracted node ids are old labels (each the MIN of its old
  // component) plus batch/previously-isolated ids, so the component min
  // over contracted ids is the true min over all members.
  // ---------------------------------------------------------------------
  /** Contract-and-propagate: fold `newEdges` — every near-dup edge with
    * at least one batch endpoint — into `existingLabels`. [[Labels]]'s
    * refresh feeds it the batch-touching SLICE of the refreshed edges_
    * artifact instead of re-deriving band candidates the scored_
    * refresh already found (r17: the re-probe cost 227 CPU-s at
    * sf10full where the slice + this propagation costs ~20). Exactness:
    * old×old edges cannot change under an append, so the union graph's
    * components equal the components of the CONTRACTED graph in which
    * every existing endpoint is collapsed to its cluster label; the
    * loop runs over a batch-scaled edge set and existing rows update by
    * one remap join. */
  private def mergeNewEdgesIntoLabels(existingLabels: DataFrame,
      newEdges: DataFrame): DataFrame = {
    // contract: an existing endpoint is represented by its cluster label
    // (batch ids and previously-isolated existing ids pass through)
    val lab = existingLabels.select(col("doc_id").as("e_id"), col("label").as("e_lab"))
    val contracted = newEdges
      .join(lab.as("la"), col("doc_a") === col("la.e_id"), "left_outer")
      .join(lab.as("lb"), col("doc_b") === col("lb.e_id"), "left_outer")
      .select(coalesce(col("la.e_lab"), col("doc_a")).as("doc_a"),
        coalesce(col("lb.e_lab"), col("doc_b")).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
    val contractedLabels = minLabelComponents(contracted) // batch-scale loop
    // existing rows: one remap join (old label → merged component label)
    val remap = contractedLabels
      .select(col("doc_id").as("old_lab"), col("label").as("new_lab"))
    val refreshedOld = existingLabels
      .join(remap, col("label") === col("old_lab"), "left_outer")
      .select(col("doc_id"), coalesce(col("new_lab"), col("label")).as("label"))
    // contracted nodes NOT in the old table: batch docs and existing docs
    // that just gained their first edge (old-label nodes are already
    // covered by the remap — their own row remaps like any member's)
    val fresh = contractedLabels
      .join(existingLabels.select(col("doc_id")), Seq("doc_id"), "left_anti")
    refreshedOld.unionAll(fresh)
  }

  // ---------------------------------------------------------------------
  // Incremental refresh for the SERVED ARTIFACT FAMILIES (r16 verdict
  // task 1). Until r17 the artifact lifecycle answered ANY corpus change
  // with a full rebuild of every family (r16 gate: 1,658.9 s prebuild at
  // sf10full) — but corpus snapshots evolve by append, and for the
  // append case every refreshable family has a batch-cost update that is
  // ROW-IDENTICAL to a from-scratch rebuild. Each family declares its
  // own shape ([[graft.sources.ArtifactFamily.Refresh]]): per-row
  // families link the old generation and add batch rows; edges_ and the
  // profile statistics re-derive from their refreshed upstream; scored_,
  // contam_, contaud_ and labels_ fold the batch into the old
  // generation. Each refresh persists under the NEW state's own key
  // (the same key a from-scratch build computes), so later cold
  // sessions serve the incrementally-built table transparently and
  // serve ≡ recompute stays a checked contract.
  // ---------------------------------------------------------------------
  /** The appended documents between two corpus states (see
    * [[graft.sources.ArtifactFamily.appendedRows]]). */
  private def appendedBatch(spark: SparkSession, oldDir: String, newDir: String): DataFrame =
    ArtifactFamily.appendedRows(spark, "documents", oldDir, newDir)

  /** Band candidates touching a batch: batch signatures probed against
    * an existing signature index (canonicalized to doc_a < doc_b like the
    * from-scratch self-join) plus the batch self-pairs. */
  private def batchCandidates(sigB: DataFrame, oldSig: DataFrame): DataFrame =
    bandCandidates(sigB, oldSig, canonical = false)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .unionAll(bandCandidates(sigB, sigB, canonical = true))

  /** The distinct endpoint doc_ids of a candidate pair set. */
  private def endpoints(cand: DataFrame): DataFrame =
    cand.select(col("doc_a").as("doc_id"))
      .unionAll(cand.select(col("doc_b").as("doc_id"))).distinct()

  /** Refresh EVERY incrementally-refreshable served family for the
    * corpus at `newDir` (= `oldDir` plus an appended batch) — the
    * deployment's "corpus advanced one snapshot" entry point. Families
    * refresh in registry (dependency) order, and only those whose read
    * tables exist in both states ([[ArtifactFamily.refreshable]]).
    * Returns (family, table name) for each refreshed artifact; every
    * table is named with the NEW state's from-scratch key, so all later
    * consumers — this session or any cold JVM — serve transparently. */
  def refreshArtifactsAfterAppend(spark: SparkSession,
      oldDir: String, newDir: String): Seq[(String, String)] =
    ArtifactFamily.refreshable(spark, oldDir, newDir).map { f =>
      f.refreshAfterAppend(spark, oldDir, newDir)
      f.kind -> f.name(spark, newDir)
    }

  // ---------------------------------------------------------------------
  // d11 — source-overlap matrix: for every pair of sources, the number of
  // distinct word-3-gram shingles present in BOTH, with each side's
  // shingle-set size and the overlap coefficient shared/min(|a|,|b|) —
  // the "which feeds crawl the same content" audit that decides dedup
  // order and per-source trust before mixing. Reuses the persisted
  // doc-shingle frame; the (source, shingle) projection de-dups
  // map-side, and the self-join expands each shingle by at most
  // |sources|² — bounded by the source-set size, never by corpus size,
  // so the matrix costs one shingle-keyed shuffle at any scale.
  // ---------------------------------------------------------------------
  /** Source-overlap matrix over ANY (doc_id, text, source) frame. */
  def sourceOverlap(docs: DataFrame): DataFrame =
    sourceOverlapOfShingles(shinglesOf(docs), docs)

  /** The d11 matrix over a prebuilt distinct (doc_id, shingle) frame —
    * split out (r18, the d02 pattern) so the catalog path feeds the
    * SERVED shingles_ artifact (row-identical to [[shinglesOf]]) while
    * the (source,shingle) de-dup + bounded self-join stay in-window. */
  private[graft] def sourceOverlapOfShingles(sh: DataFrame, docs: DataFrame): DataFrame = {
    val ss = sh
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("shingle")).distinct()
      .transform(persistOnce)
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = ss.as("a")
      .join(ss.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared") / least(col("n_a"), col("n_b"))).as("overlap"))
      .orderBy(col("n_shared").desc, col("source_a").asc, col("source_b").asc)
  }

  def d11SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOfShingles(Shingles.serve(spark, dir),
      Tables.load(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // d12 — cross-document boilerplate spans: per document, the share of
  // its word-4-gram positions whose 4-gram also appears in ≥
  // BoilerMinDocs distinct documents — the C4-style "remove spans every
  // page repeats" signal (nav bars, license headers, templated intros),
  // complementary to t08 (repetition WITHIN a doc) and d07 (overlap with
  // a specific eval set). Plan shape is the t09/t14 contract: one
  // persisted per-(doc, span) count frame feeds both the
  // document-frequency aggregate and the scoring join; the df table
  // shuffles once on the span key; every later aggregate keys on doc_id
  // and is map-side combinable — nothing corpus-quadratic at any scale.
  // ---------------------------------------------------------------------
  val SpanWidth = 4
  val BoilerMinDocs = 3

  /** Boilerplate-span shares over ANY (doc_id, text, source) frame.
    *
    * Spans travel as `graft_ngram_h60` codes (r13): the span CONTENT
    * never reaches the output — only df-counts keyed on it — so the
    * whole pre-aggregation/df/scoring chain shuffles 8-byte codes
    * instead of multi-word span strings, and the span build is the
    * byte-walk instead of the interpreted transform/concat_ws chain
    * (the t04 class). The oracle mirrors the SAME md5-derived code in
    * SQL, so parity stays exact; two DISTINCT spans colliding (≈2⁻⁶⁰)
    * is the d17 sketch-key caveat. */
  /** The per-(doc, span-code) count frame d12 starts from — factored out
    * so the fixture wrapper can serve it as the `spans_` catalog
    * artifact (per-DOC derivation → file-level append refresh). */
  private[graft] def spanTfOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(expr(s"graft_ngram_h60(text, $SpanWidth)")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))

  private[graft] lazy val Spans: ArtifactFamily = new ArtifactFamily("spans", Docs,
    defining = (spark, dir) => spanTfOf(docText(spark, dir)),
    build = (spark, dir, _) => spanTfOf(graft.plans.Scale.spreadIfNarrow(docText(spark, dir))),
    refresh = RowAppend((batch, _) => spanTfOf(batch.select(col("doc_id"), col("text")))))

  /** Boilerplate-span shares over a pre-built (doc_id, g, c) frame plus
    * the (doc_id, source) projection — the span document-frequency rides
    * a `count() OVER (PARTITION BY g)` window on the one g-keyed
    * exchange (guide §2.4; the t09/t14 restructure), replacing the
    * groupBy(g)+join-back that shuffled the span frame twice. */
  private[graft] def boilerplateSpansOverTf(pd: DataFrame, docsLite: DataFrame): DataFrame = {
    val scored = pd
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_spans"),
        sum(when(col("df") >= BoilerMinDocs, col("c")).otherwise(lit(0L)))
          .as("n_boiler_spans"))
    docsLite
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_boiler_spans"), lit(0L)).as("n_boiler_spans"),
        // NULL > 0 is NULL → otherwise-branch in both engines (t13 contract)
        when(col("n_spans") > 0, col("n_boiler_spans") / col("n_spans"))
          .otherwise(lit(0.0)).as("boiler_share"))
      .orderBy(col("doc_id").asc)
  }

  /** Boilerplate-span shares over ANY (doc_id, text, source) frame. */
  def boilerplateSpans(docs: DataFrame): DataFrame =
    boilerplateSpansOverTf(spanTfOf(docs), docs.select(col("doc_id"), col("source")))

  def d12BoilerplateSpans(spark: SparkSession, dir: String): DataFrame =
    boilerplateSpansOverTf(Spans.serve(spark, dir),
      Tables.load(spark, dir, "documents").select(col("doc_id"), col("source")))

  // ---------------------------------------------------------------------
  // d13 — canonicalization dedup: exact dedup AFTER text normalization
  // (lowercase, strip non-alphanumerics, collapse runs of whitespace) —
  // the "same page, different casing/punctuation" tier between d01
  // (byte-exact) and d02/d03 (fuzzy). The corpus has no natural casing
  // variants, so the query runs over a deterministically AUGMENTED view
  // (the t11 pattern): docs with doc_id % 7 == 0 get a noisy reupload
  // (id -doc_id-1 — provably disjoint from ANY non-negative real id, so
  // a 100TB corpus with ids past 1e6 can't collide a synthetic with a
  // real doc; upper-cased, padded, trailing '!!') that normalization
  // must collapse back onto its original — so every group the query
  // emits is a normalization catch that byte-exact d01 provably misses
  // (n_exact_variants > 1 in every row). Same plan family as d01: one
  // map-side-combinable hash-groupBy on md5(canonical); the normalize
  // chain is codegen'd string ops fused into the scan.
  // ---------------------------------------------------------------------
  /** The noisy-reupload augmentation, spelled once in SQL that parses
    * identically on Spark and DuckDB (t11 contract). */
  private val noisyAugSql: String =
    """aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT -doc_id - 1, concat('  ', upper(text), '  !!')
      |  FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Canonicalization dedup over ANY (doc_id, text) frame — operates on
    * the input AS GIVEN. Contract: ids < 0 are reserved for
    * synthetic/staging rows and are never chosen as keeper (the fixture
    * wrapper exploits this; a real corpus with non-negative ids keeps
    * its plain min). */
  def canonicalDedup(docs: DataFrame): DataFrame = {
    // graft_canon ≡ trim(regexp_replace(regexp_replace(lower(text),
    // "[^a-z0-9 ]", ""), " +", " ")) — one codegen byte-walk instead of
    // two regex scans + four per-row string materializations (equality
    // spec-pinned incl. unicode edge cases; the DuckDB oracle keeps the
    // regex formulation, so the md5 keys stay cross-checked per row)
    val canon = expr("graft_canon(text)")
    docs
      .groupBy(md5(canon).as("canon_hash"))
      // keeper = smallest ORIGINAL id: synthetics live at negative ids,
      // so min() over the non-negatives (min skips NULLs on both
      // engines; every group contains its original, so never NULL)
      .agg(min(when(col("doc_id") >= 0, col("doc_id"))).as("keep_doc_id"),
        count(lit(1)).as("dup_count"),
        countDistinct(md5(col("text"))).as("n_exact_variants"))
      .where(col("dup_count") > 1)
      .orderBy(col("keep_doc_id").asc)
  }

  /** Fixture wrapper: the synthetic corpus has no natural casing
    * variants, so docs with doc_id % 7 == 0 get a noisy reupload at the
    * disjoint id -doc_id-1. Augmentation is TEST DATA — it lives here,
    * not in [[canonicalDedup]]. */
  def d13CanonicalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    canonicalDedup(docs.select(col("doc_id"), col("text"))
      .unionAll(docs.where(col("doc_id") % 7 === 0)
        .select((-col("doc_id") - 1L).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("  !!")).as("text"))))
  }

  // ---------------------------------------------------------------------
  // d14 — dedup threshold sweep: the exact-Jaccard histogram over the
  // LSH candidate pairs, with the cumulative pair count at or above
  // each bucket — the tuning curve behind ClusterThreshold ("how many
  // more pairs does lowering tau to 0.5 merge?"). Runs on the SAME
  // candidate derivation d03/d08 verify (lshSharedSql on the oracle
  // side), so the sweep describes exactly the pair population the
  // production threshold acts on; cost is the d03 verify stage plus a
  // ≤ SweepBuckets+1-row rollup. The cumulative tail is a broadcast
  // theta-join over those ≤21 bucket rows (the t06 idiom), not a
  // zero-partition window.
  // ---------------------------------------------------------------------
  val SweepBuckets = 20

  /** The sweep tail over a scored candidate frame: pairs sharing ≥1
    * shingle (shared non-null — the inner sharedCounts population)
    * bucketed by exact Jaccard, with the cumulative tail as a broadcast
    * theta-join over the ≤ SweepBuckets+1 bucket rows. */
  private def sweepFromScored(scored: DataFrame): DataFrame = {
    val j = col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared"))
    val buckets = scored.where(col("shared").isNotNull)
      .select(floor(j * SweepBuckets).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
    buckets.as("a")
      .join(broadcast(buckets.as("b")), col("b.bucket") >= col("a.bucket"))
      .groupBy(col("a.bucket").as("bucket"), col("a.n_pairs").as("n_pairs"))
      .agg(sum(col("b.n_pairs")).as("n_pairs_ge"))
      .select(col("bucket"), (col("bucket").cast("double") / SweepBuckets).as("tau_lo"),
        col("n_pairs"), col("n_pairs_ge"))
      .orderBy(col("bucket").asc)
  }

  /** Jaccard-threshold sweep over ANY (doc_id, text) frame. */
  def thresholdSweep(docs: DataFrame): DataFrame =
    sweepFromScored(scoredCandidatesOf(docs))

  def d14ThresholdSweep(spark: SparkSession, dir: String): DataFrame =
    sweepFromScored(Scored.serve(spark, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d14_threshold_sweep" -> d14ThresholdSweep _,
    "d13_canonical_dedup" -> d13CanonicalDedup _,
    "d12_boilerplate_spans" -> d12BoilerplateSpans _,
    "d11_source_overlap" -> d11SourceOverlap _,
    "d10_incremental_dedup" -> d10IncrementalDedup _,
    "e15_stream_dedup" -> e15StreamDedup _,
    "d01_exact_dedup" -> d01ExactDedup _,
    "d06_neardup_clusters" -> d06NeardupClusters _,
    "d07_contamination" -> d07Contamination _,
    "d02_ngram_jaccard" -> d02NgramJaccard _,
    "d03_minhash_lsh" -> d03MinhashLsh _,
    "d04_simhash" -> d04Simhash _,
    "d05_embedding_neardup" -> d05EmbeddingNeardup _,
    "d08_lsh_clusters" -> d08LshClusters _,
    "d09_dedup_apply" -> d09DedupApply _,
    "d15_decontaminate_apply" -> d15DecontaminateApply _,
    "d16_containment_audit" -> d16ContainmentAudit _,
    "d17_containment_sketch" -> d17ContainmentSketch _,
    "d18_contamination_sketch" -> d18ContaminationSketch _,
    "d19_decontaminate_sketch" -> d19DecontaminateSketch _,
    "d20_boilerplate_strip" -> d20BoilerplateStrip _
  )

  /** DuckDB mirror of [[lshSignatures]]'s columns (over CTE `h`). */
  private def sigColsSql: String = (0 until NumHashes)
    .map(i => s"min(${permSql(i, "h")}) AS mh$i").mkString(",\n         ")

  /** DuckDB recursive connected-components labels over an `edges(doc_a,
    * doc_b)` CTE, ending at `labels(doc, cluster_id)` — mirror of
    * [[minLabelComponents]]; shared by the d06/d08 cluster oracles and
    * d09's apply oracle. */
  private def componentsLabelsSql: String =
    """bi AS (SELECT doc_a, doc_b FROM edges
      |       UNION ALL SELECT doc_b, doc_a FROM edges),
      |reach(doc, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT bi.doc_b, reach.lab FROM reach JOIN bi ON reach.doc = bi.doc_a),
      |labels AS (SELECT doc, min(lab) AS cluster_id FROM reach GROUP BY doc)""".stripMargin

  /** [[componentsLabelsSql]] + the multi-doc cluster report — mirror of
    * [[clusterOutput]], shared verbatim by the d06 and d08 oracles (the
    * refinement test assumes both cluster with identical semantics). */
  private def componentsTailSql: String =
    s"""$componentsLabelsSql,
       |csize AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)
       |SELECT doc AS doc_id, labels.cluster_id, cluster_size,
       |       doc = labels.cluster_id AS is_keeper
       |FROM labels JOIN csize ON labels.cluster_id = csize.cluster_id
       |WHERE cluster_size > 1
       |ORDER BY labels.cluster_id ASC NULLS FIRST, doc ASC NULLS FIRST""".stripMargin

  /** DuckDB mirror of [[bandCandidates]], parameterized the same way
    * (left/right signature CTEs; `canonical` adds the doc_a < doc_b
    * self-join dedup) — the one definition of banding on the SQL side.
    * `combinator` must be "UNION" in plain WITH queries; under WITH
    * RECURSIVE a bare top-level UNION chain in a CTE body gets DuckDB's
    * recursive-union treatment and can leave DUPLICATE rows (observed:
    * doubled cand rows doubling `shared` counts) — there, use
    * "UNION ALL" and wrap with an explicit outer SELECT DISTINCT. */
  private def bandJoinsSql(combinator: String, leftT: String = "sig",
      rightT: String = "sig", canonical: Boolean = true): String =
    (0 until NumBands).map { jb =>
      val extra = if (canonical) "\n   AND x.doc_id < y.doc_id" else ""
      s"""  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM $leftT x JOIN $rightT y
         |    ON x.mh${2 * jb} = y.mh${2 * jb} AND x.mh${2 * jb + 1} = y.mh${2 * jb + 1}$extra""".stripMargin
    }.mkString(s"\n$combinator\n")

  /** DuckDB mirror of [[excerptAugmented]] as an `aug` CTE. */
  private def excerptAugSql: String =
    """aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT -doc_id - 1,
      |         array_to_string((regexp_split_to_array(text, '\s+'))[1:15], ' ')
      |  FROM documents WHERE doc_id % 17 = 0)""".stripMargin

  /** DuckDB mirror of [[scoreContainment]]'s tail over CTEs `shared` +
    * `sizes` — shared verbatim by the d16 and d17 oracles (the two
    * operators differ ONLY in their candidate stream). */
  private def scoreContainmentSql: String =
    s"""SELECT s.doc_a, s.doc_b, sa.n AS n_a, sb.n AS n_b, s.shared,
       |       round(s.shared / least(sa.n, sb.n), 6) AS containment,
       |       round(s.shared / (sa.n + sb.n - s.shared), 6) AS jaccard,
       |       CAST(CASE WHEN s.shared / (sa.n + sb.n - s.shared) < $ClusterThreshold
       |            THEN 1 ELSE 0 END AS BIGINT) AS resemblance_missed
       |FROM shared s
       |JOIN sizes sa ON s.doc_a = sa.doc_id
       |JOIN sizes sb ON s.doc_b = sb.doc_id
       |WHERE s.shared / least(sa.n, sb.n) >= $ContainmentThreshold
       |ORDER BY round(s.shared / least(sa.n, sb.n), 6) DESC NULLS LAST,
       |         s.doc_a ASC NULLS FIRST, s.doc_b ASC NULLS FIRST""".stripMargin

  /** DuckDB mirror of [[sharedCounts]] over CTEs `cand` + `sh`. */
  private def sharedCountsSql: String =
    """shared AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS shared
      |  FROM cand c
      |  JOIN sh a ON c.doc_a = a.doc_id
      |  JOIN sh b ON c.doc_b = b.doc_id AND a.shingle = b.shingle
      |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB mirror of the d18/d19 sketch chain ([[contamSketchCandidates]]
    * + the exact verify of [[contaminationSketchPairs]]), ending at CTEs
    * `shared(eval_id, train_id, shared)` + `evsizes(eval_id, n_eval)` —
    * shared verbatim by the two oracles so detection and removal read
    * identical pairs on the oracle side too. The anchor stage mirrors
    * the Scala bottom-K exactly (distinct h per doc → no rank ties; the
    * window counts rows AFTER the rk filter, so ka = min(K, n_h) =
    * size(anchor_hs)). */
  private def contamSketchChainSql: String =
    s"""$shinglesSql,
       |hs AS (SELECT DISTINCT doc_id, ${hash60Sql("shingle")} AS h FROM sh),
       |ev AS (SELECT doc_id AS eval_id, h FROM hs WHERE doc_id % 10 = 0),
       |evsizes AS (SELECT eval_id, count(*) AS n_eval FROM ev GROUP BY 1),
       |tr AS (SELECT doc_id AS train_id, h FROM hs WHERE doc_id % 10 <> 0),
       |anchors AS (
       |  SELECT eval_id, h, count(*) OVER (PARTITION BY eval_id) AS ka
       |  FROM (
       |    SELECT eval_id, h,
       |           row_number() OVER (PARTITION BY eval_id ORDER BY h ASC) AS rk
       |    FROM ev)
       |  WHERE rk <= $ContamAnchorK),
       |dfok AS (SELECT h FROM tr GROUP BY h HAVING count(*) <= $ContamDfCap),
       |idx AS (SELECT train_id, h FROM tr WHERE h IN (SELECT h FROM dfok)),
       |hits AS (
       |  SELECT eval_id, train_id, count(*) AS m, min(ka) AS ka
       |  FROM anchors JOIN idx USING (h)
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT eval_id, train_id FROM hits
       |  WHERE m >= least($ContamMinAnchorHits, ka)),
       |shared AS (
       |  SELECT c.eval_id, c.train_id, count(*) AS shared
       |  FROM cand c
       |  JOIN ev e ON c.eval_id = e.eval_id
       |  JOIN tr t ON c.train_id = t.train_id AND e.h = t.h
       |  GROUP BY 1, 2)""".stripMargin

  /** The candidate-derivation CTE chain (sh → sig → cand → sizes →
    * shared) for NON-recursive WITH queries — the un-thresholded prefix
    * of [[lshEdgesSql]], shared with d14's sweep oracle so "candidate
    * pair" means the same thing whether it is being thresholded or
    * histogrammed. */
  private[operators] def lshSharedSql: String =
    s"""$shinglesSql,
       |h AS (SELECT doc_id, ${h31Sql("shingle")} AS h FROM sh),
       |sig AS (SELECT doc_id, $sigColsSql
       |        FROM h GROUP BY doc_id),
       |cand AS (
       |${bandJoinsSql("UNION")}),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |$sharedCountsSql""".stripMargin

  /** The full edge-derivation CTE chain (sh → sig → cand → sizes →
    * shared → edges) for NON-recursive WITH queries — the SQL mirror of
    * [[lshEdges]], shared with Similarity's s08 oracle so the audited
    * pair set is definitionally the one d08/d09 cluster on. */
  private[operators] def lshEdgesSql: String =
    s"""$lshSharedSql,
       |edges AS (
       |  SELECT s.doc_a, s.doc_b FROM shared s
       |  JOIN sizes sa ON s.doc_a = sa.doc_id
       |  JOIN sizes sb ON s.doc_b = sb.doc_id
       |  WHERE s.shared / (sa.n + sb.n - s.shared) >= $ClusterThreshold)""".stripMargin

  /** The WITH RECURSIVE preamble from raw documents to cluster `labels`
    * (sh → sig → band cand → verified edges → connected-component
    * labels) — the recursive-CTE counterpart of [[lshEdgesSql]] +
    * [[componentsLabelsSql]], shared by the d09 apply oracle and
    * Curation's p01 pipeline oracle so "near-dup" means exactly one
    * thing everywhere. (UNION ALL + outer DISTINCT in `cand`: see the
    * [[bandJoinsSql]] recursive-union caveat.) */
  private[operators] def recursiveLabelsSql: String =
    s"""$shinglesSql,
       |h AS (SELECT doc_id, ${h31Sql("shingle")} AS h FROM sh),
       |sig AS (SELECT doc_id, $sigColsSql
       |        FROM h GROUP BY doc_id),
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |${bandJoinsSql("UNION ALL")}
       |  ) band_hits),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |$sharedCountsSql,
       |edges AS (
       |  SELECT s.doc_a, s.doc_b FROM shared s
       |  JOIN sizes sa ON s.doc_a = sa.doc_id
       |  JOIN sizes sb ON s.doc_b = sb.doc_id
       |  WHERE s.shared / (sa.n + sb.n - s.shared) >= $ClusterThreshold),
       |$componentsLabelsSql""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "d14_threshold_sweep" ->
      s"""WITH $lshSharedSql,
         |jac AS (
         |  SELECT CAST(floor(s.shared / (sa.n + sb.n - s.shared) * $SweepBuckets)
         |    AS BIGINT) AS bucket
         |  FROM shared s
         |  JOIN sizes sa ON s.doc_a = sa.doc_id
         |  JOIN sizes sb ON s.doc_b = sb.doc_id),
         |b AS (SELECT bucket, count(*) AS n_pairs FROM jac GROUP BY 1)
         |SELECT a.bucket, a.bucket::DOUBLE / $SweepBuckets AS tau_lo, a.n_pairs,
         |       CAST(sum(b2.n_pairs) AS BIGINT) AS n_pairs_ge
         |FROM b a JOIN b b2 ON b2.bucket >= a.bucket
         |GROUP BY a.bucket, a.n_pairs
         |ORDER BY a.bucket ASC NULLS FIRST""".stripMargin,

    "d13_canonical_dedup" ->
      s"""WITH $noisyAugSql,
         |c AS (
         |  SELECT doc_id, text,
         |         trim(regexp_replace(regexp_replace(lower(text),
         |           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS canon
         |  FROM aug)
         |SELECT md5(canon) AS canon_hash,
         |       min(CASE WHEN doc_id >= 0 THEN doc_id END) AS keep_doc_id,
         |       count(*) AS dup_count,
         |       count(DISTINCT md5(text)) AS n_exact_variants
         |FROM c GROUP BY md5(canon)
         |HAVING count(*) > 1
         |ORDER BY keep_doc_id ASC NULLS FIRST""".stripMargin,

    "d12_boilerplate_spans" ->
      s"""WITH w AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents),
         |spans AS (
         |  SELECT doc_id, ${hash60Sql(s"array_to_string(ws[i:i+${SpanWidth - 1}], ' ')")} AS g
         |  FROM w, unnest(generate_series(1, greatest(len(ws)-${SpanWidth - 1}, 0))) AS t(i)),
         |pd AS (SELECT doc_id, g, count(*) AS c FROM spans GROUP BY 1, 2),
         |dfq AS (SELECT g, count(*) AS df FROM pd GROUP BY 1),
         |sc AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_spans,
         |         CAST(sum(CASE WHEN df >= $BoilerMinDocs THEN c ELSE 0 END) AS BIGINT)
         |           AS n_boiler_spans
         |  FROM pd JOIN dfq USING (g) GROUP BY 1)
         |SELECT d.doc_id, d.source,
         |       coalesce(sc.n_spans, 0) AS n_spans,
         |       coalesce(sc.n_boiler_spans, 0) AS n_boiler_spans,
         |       CASE WHEN sc.n_spans > 0 THEN sc.n_boiler_spans / sc.n_spans
         |            ELSE 0.0 END AS boiler_share
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin,

    "d11_source_overlap" ->
      s"""WITH $shinglesSql,
         |ss AS (
         |  SELECT DISTINCT d.source, sh.shingle
         |  FROM sh JOIN documents d USING (doc_id)),
         |sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
         |  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_shared, sa.n AS n_a, sb.n AS n_b,
         |       n_shared / least(sa.n, sb.n) AS overlap
         |FROM pairs
         |JOIN sizes sa ON pairs.source_a = sa.source
         |JOIN sizes sb ON pairs.source_b = sb.source
         |ORDER BY n_shared DESC NULLS LAST,
         |         source_a ASC NULLS FIRST, source_b ASC NULLS FIRST""".stripMargin,

    "d10_incremental_dedup" ->
      s"""WITH $shinglesSql,
         |h AS (SELECT doc_id, ${h31Sql("shingle")} AS h FROM sh),
         |sig AS (SELECT doc_id, $sigColsSql
         |        FROM h GROUP BY doc_id),
         |newsig AS (SELECT * FROM sig WHERE doc_id % $IncrementalMod = 0),
         |oldsig AS (SELECT * FROM sig WHERE doc_id % $IncrementalMod <> 0),
         |exactmatch AS (
         |  SELECT i.doc_id, min(e.doc_id) AS exact_match
         |  FROM documents i JOIN documents e
         |    ON md5(i.text) = md5(e.text)
         |   AND i.doc_id % $IncrementalMod = 0 AND e.doc_id % $IncrementalMod <> 0
         |  GROUP BY 1),
         |cand AS (
         |${bandJoinsSql("UNION", "newsig", "oldsig", canonical = false)}),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |$sharedCountsSql,
         |nearmatch AS (
         |  SELECT s.doc_a AS doc_id, min(s.doc_b) AS near_match
         |  FROM shared s
         |  JOIN sizes sa ON s.doc_a = sa.doc_id
         |  JOIN sizes sb ON s.doc_b = sb.doc_id
         |  WHERE s.shared / (sa.n + sb.n - s.shared) >= $ClusterThreshold
         |  GROUP BY 1)
         |SELECT i.doc_id,
         |       CASE WHEN exact_match IS NOT NULL THEN 'exact_dup'
         |            WHEN near_match IS NOT NULL THEN 'near_dup'
         |            ELSE 'keep' END AS verdict,
         |       coalesce(exact_match, near_match) AS match_id
         |FROM (SELECT doc_id FROM documents WHERE doc_id % $IncrementalMod = 0) i
         |LEFT JOIN exactmatch USING (doc_id)
         |LEFT JOIN nearmatch USING (doc_id)
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    // d10's template with a growing existing side: a doc in stream batch
    // k is probed against the corpus plus stream batches < k; the batch
    // ordinal is pure doc_id arithmetic, so the fold needs no recursion.
    "e15_stream_dedup" ->
      s"""WITH $shinglesSql,
         |h AS (SELECT doc_id, ${h31Sql("shingle")} AS h FROM sh),
         |sig AS (SELECT doc_id, $sigColsSql
         |        FROM h GROUP BY doc_id),
         |newsig AS (SELECT * FROM sig WHERE doc_id % $IncrementalMod = 0),
         |exactmatch AS (
         |  SELECT i.doc_id, min(e.doc_id) AS exact_match
         |  FROM documents i JOIN documents e
         |    ON md5(i.text) = md5(e.text)
         |   AND i.doc_id % $IncrementalMod = 0
         |   AND (e.doc_id % $IncrementalMod <> 0 OR
         |        (e.doc_id // $IncrementalMod) % $NumStreamBatches <
         |        (i.doc_id // $IncrementalMod) % $NumStreamBatches)
         |  GROUP BY 1),
         |cand0 AS (
         |${bandJoinsSql("UNION", "newsig", "sig", canonical = false)}),
         |cand AS (
         |  SELECT doc_a, doc_b FROM cand0
         |  WHERE doc_b % $IncrementalMod <> 0 OR
         |        (doc_b // $IncrementalMod) % $NumStreamBatches <
         |        (doc_a // $IncrementalMod) % $NumStreamBatches),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |$sharedCountsSql,
         |nearmatch AS (
         |  SELECT s.doc_a AS doc_id, min(s.doc_b) AS near_match
         |  FROM shared s
         |  JOIN sizes sa ON s.doc_a = sa.doc_id
         |  JOIN sizes sb ON s.doc_b = sb.doc_id
         |  WHERE s.shared / (sa.n + sb.n - s.shared) >= $ClusterThreshold
         |  GROUP BY 1)
         |SELECT i.doc_id,
         |       CASE WHEN exact_match IS NOT NULL THEN 'exact_dup'
         |            WHEN near_match IS NOT NULL THEN 'near_dup'
         |            ELSE 'keep' END AS verdict,
         |       coalesce(exact_match, near_match) AS match_id
         |FROM (SELECT doc_id FROM documents WHERE doc_id % $IncrementalMod = 0) i
         |LEFT JOIN exactmatch USING (doc_id)
         |LEFT JOIN nearmatch USING (doc_id)
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "d07_contamination" ->
      s"""WITH $shinglesSql,
         |hs AS (SELECT DISTINCT doc_id, ${hash60Sql("shingle")} AS h FROM sh),
         |ev AS (SELECT doc_id AS eval_id, h FROM hs WHERE doc_id % 10 = 0),
         |evsizes AS (SELECT eval_id, count(*) AS n_eval FROM ev GROUP BY 1),
         |tr AS (SELECT doc_id AS train_id, h FROM hs WHERE doc_id % 10 <> 0),
         |overlap AS (
         |  SELECT eval_id, train_id, count(*) AS shared
         |  FROM ev JOIN tr USING (h)
         |  GROUP BY 1, 2)
         |SELECT eval_id, train_id, shared, n_eval
         |FROM overlap JOIN evsizes USING (eval_id)
         |WHERE shared::DOUBLE / n_eval >= $ContaminationThreshold
         |ORDER BY shared::DOUBLE / n_eval DESC NULLS LAST,
         |         eval_id ASC NULLS FIRST, train_id ASC NULLS FIRST
         |LIMIT 200""".stripMargin,

    "d15_decontaminate_apply" ->
      s"""WITH $shinglesSql,
         |hs AS (SELECT DISTINCT doc_id, ${hash60Sql("shingle")} AS h FROM sh),
         |ev AS (SELECT doc_id AS eval_id, h FROM hs WHERE doc_id % 10 = 0),
         |evsizes AS (SELECT eval_id, count(*) AS n_eval FROM ev GROUP BY 1),
         |tr AS (SELECT doc_id AS train_id, h FROM hs WHERE doc_id % 10 <> 0),
         |overlap AS (
         |  SELECT eval_id, train_id, count(*) AS shared
         |  FROM ev JOIN tr USING (h)
         |  GROUP BY 1, 2),
         |dirty AS (
         |  SELECT DISTINCT train_id
         |  FROM overlap JOIN evsizes USING (eval_id)
         |  WHERE shared::DOUBLE / n_eval >= $ContaminationThreshold)
         |SELECT doc_id, lang, source, n_chars
         |FROM documents
         |WHERE doc_id % 10 <> 0
         |  AND doc_id NOT IN (SELECT train_id FROM dirty)
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "d16_containment_audit" ->
      s"""WITH $excerptAugSql,
         |${shinglesSqlOver("aug")},
         |h AS (SELECT doc_id, ${h31Sql("shingle")} AS h FROM sh),
         |sig AS (SELECT doc_id, $sigColsSql
         |        FROM h GROUP BY doc_id),
         |cand AS (
         |${bandJoinsSql("UNION")}),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |$sharedCountsSql
         |$scoreContainmentSql""".stripMargin,

    "d17_containment_sketch" ->
      s"""WITH $excerptAugSql,
         |${shinglesSqlOver("aug")},
         |hs AS (SELECT DISTINCT doc_id, ${h31Sql("shingle")} AS h FROM sh),
         |anchors AS (
         |  SELECT doc_id, h, count(*) OVER (PARTITION BY doc_id) AS ka
         |  FROM (
         |    SELECT doc_id, h,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY h ASC) AS rk
         |    FROM hs)
         |  WHERE rk <= $AnchorK),
         |dfok AS (SELECT h FROM hs GROUP BY h HAVING count(*) <= $AnchorDfCap),
         |idx AS (SELECT doc_id, h FROM hs WHERE h IN (SELECT h FROM dfok)),
         |hits AS (
         |  SELECT least(p.doc_id, q.doc_id) AS doc_a,
         |         greatest(p.doc_id, q.doc_id) AS doc_b,
         |         p.doc_id AS probe, count(*) AS m, min(p.ka) AS ka
         |  FROM anchors p JOIN idx q ON p.h = q.h AND p.doc_id <> q.doc_id
         |  GROUP BY 1, 2, 3),
         |cand AS (
         |  SELECT DISTINCT doc_a, doc_b FROM hits
         |  WHERE m >= least($MinAnchorHits, ka)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |$sharedCountsSql
         |$scoreContainmentSql""".stripMargin,

    "d18_contamination_sketch" ->
      s"""WITH $contamSketchChainSql
         |SELECT s.eval_id, s.train_id, s.shared, n_eval
         |FROM shared s JOIN evsizes USING (eval_id)
         |WHERE s.shared::DOUBLE / n_eval >= $ContaminationThreshold
         |ORDER BY s.shared::DOUBLE / n_eval DESC NULLS LAST,
         |         s.eval_id ASC NULLS FIRST, s.train_id ASC NULLS FIRST
         |LIMIT 200""".stripMargin,

    "d19_decontaminate_sketch" ->
      s"""WITH $contamSketchChainSql,
         |dirty AS (
         |  SELECT DISTINCT s.train_id
         |  FROM shared s JOIN evsizes USING (eval_id)
         |  WHERE s.shared::DOUBLE / n_eval >= $ContaminationThreshold)
         |SELECT doc_id, lang, source, n_chars
         |FROM documents
         |WHERE doc_id % 10 <> 0
         |  AND doc_id NOT IN (SELECT train_id FROM dirty)
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "d20_boilerplate_strip" ->
      s"""WITH w AS (
         |  SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ws FROM documents),
         |grams AS (
         |  SELECT doc_id, i, ${hash60Sql(s"array_to_string(ws[i:i+${SpanWidth - 1}], ' ')")} AS g
         |  FROM w, unnest(generate_series(1, greatest(len(ws)-${SpanWidth - 1}, 0))) AS t(i)),
         |hot AS (
         |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM grams) GROUP BY g
         |  HAVING count(*) >= $BoilerMinDocs),
         |badpos AS (
         |  SELECT DISTINCT doc_id, i + o AS p
         |  FROM grams JOIN hot USING (g),
         |       unnest(generate_series(0, ${SpanWidth - 1})) AS t2(o)),
         |words AS (
         |  SELECT doc_id, p, ws[p] AS word
         |  FROM w, unnest(generate_series(1, len(ws))) AS t3(p)),
         |kept AS (
         |  SELECT wd.doc_id, count(*) AS n_kept,
         |         string_agg(wd.word, ' ' ORDER BY wd.p) AS kept_text
         |  FROM words wd LEFT JOIN badpos b ON wd.doc_id = b.doc_id AND wd.p = b.p
         |  WHERE b.doc_id IS NULL
         |  GROUP BY 1)
         |SELECT w.doc_id, len(ws) AS n_words,
         |       len(ws) - coalesce(n_kept, 0) AS n_dropped,
         |       CASE WHEN coalesce(n_kept, 0) = len(ws) THEN w.text
         |            ELSE coalesce(kept_text, '') END AS text
         |FROM w LEFT JOIN kept USING (doc_id)
         |WHERE len(ws) - coalesce(n_kept, 0) > 0
         |ORDER BY w.doc_id ASC NULLS FIRST""".stripMargin,

    "d06_neardup_clusters" ->
      s"""WITH RECURSIVE $shinglesSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE shared / (sa.n + sb.n - shared) >= $ClusterThreshold),
         |$componentsTailSql""".stripMargin,

    "d01_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS dup_count
        |FROM documents GROUP BY 1
        |ORDER BY dup_count DESC NULLS LAST, keep_doc_id ASC NULLS FIRST""".stripMargin,

    "d02_ngram_jaccard" ->
      s"""WITH $shinglesSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared, sa.n AS n_a, sb.n AS n_b,
         |       round(shared / (sa.n + sb.n - shared), 6) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |ORDER BY shared / (sa.n + sb.n - shared) DESC NULLS LAST,
         |         doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST
         |LIMIT 100""".stripMargin,

    "d03_minhash_lsh" -> {
      val sigCols = sigColsSql
      val bandJoins = bandJoinsSql("UNION")
      val estSql = (0 until NumHashes)
        .map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END")
        .mkString("(", " + ", s")::DOUBLE / $NumHashes")
      s"""WITH $shinglesSql,
         |h AS (SELECT doc_id, ${h31Sql("shingle")} AS h, shingle FROM sh),
         |sig AS (SELECT doc_id, $sigCols
         |        FROM h GROUP BY doc_id),
         |cand AS (
         |$bandJoins),
         |withest AS (
         |  SELECT c.doc_a, c.doc_b, $estSql AS est_raw
         |  FROM cand c JOIN sig x ON c.doc_a = x.doc_id JOIN sig y ON c.doc_b = y.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS shared
         |  FROM withest c
         |  JOIN sh a ON c.doc_a = a.doc_id
         |  JOIN sh b ON c.doc_b = b.doc_id AND a.shingle = b.shingle
         |  GROUP BY 1, 2)
         |SELECT w.doc_a, w.doc_b, round(est_raw, 6) AS est_similarity,
         |       round(coalesce(shared, 0)::DOUBLE / (sa.n + sb.n - coalesce(shared, 0)), 6) AS jaccard
         |FROM withest w
         |LEFT JOIN shared s ON w.doc_a = s.doc_a AND w.doc_b = s.doc_b
         |JOIN sizes sa ON w.doc_a = sa.doc_id
         |JOIN sizes sb ON w.doc_b = sb.doc_id
         |ORDER BY coalesce(shared, 0)::DOUBLE / (sa.n + sb.n - coalesce(shared, 0)) DESC NULLS LAST,
         |         w.doc_a ASC NULLS FIRST, w.doc_b ASC NULLS FIRST
         |LIMIT 200""".stripMargin
    },

    "d04_simhash" -> simhashOracleSql(2),

    "d08_lsh_clusters" ->
      s"""WITH RECURSIVE $shinglesSql,
         |h AS (SELECT doc_id, ${h31Sql("shingle")} AS h FROM sh),
         |sig AS (SELECT doc_id, $sigColsSql
         |        FROM h GROUP BY doc_id),
         |cand AS (
         |  SELECT DISTINCT doc_a, doc_b FROM (
         |${bandJoinsSql("UNION ALL")}
         |  ) band_hits),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |$sharedCountsSql,
         |edges AS (
         |  SELECT s.doc_a, s.doc_b FROM shared s
         |  JOIN sizes sa ON s.doc_a = sa.doc_id
         |  JOIN sizes sb ON s.doc_b = sb.doc_id
         |  WHERE s.shared / (sa.n + sb.n - s.shared) >= $ClusterThreshold),
         |$componentsTailSql""".stripMargin,

    "d09_dedup_apply" ->
      s"""WITH RECURSIVE $recursiveLabelsSql,
         |exactkeep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |neardrop AS (SELECT doc AS doc_id FROM labels WHERE doc <> cluster_id)
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM exactkeep)
         |  AND doc_id NOT IN (SELECT doc_id FROM neardrop)
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "d05_embedding_neardup" ->
      s"""WITH $normedSql
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       a.label AS label_a, b.label AS label_b,
         |       round(${dotSql("a.e", "b.e")} / (a.nrm * b.nrm), 6) AS cosine
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |ORDER BY ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) DESC NULLS LAST,
         |         a.vec_id ASC NULLS FIRST, b.vec_id ASC NULLS FIRST
         |LIMIT 100""".stripMargin
  )
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.SharedHash._
import graft.sources.{ArtifactFamily, ContentMemo}
import graft.sources.ArtifactFamily.Append

/** Text-analysis operators over `documents`: language ID, quality
  * scoring, token counting, fingerprinting.
  *
  * All corpus-level statistics (language centroids, stopword lists) are
  * computed inside the query from the data itself — no external model
  * files — so the DuckDB oracle can rebuild the identical state. At
  * 100 TB each corpus statistic is one partial-aggregated shuffle over a
  * projected column, and the per-doc scoring join broadcasts the tiny
  * statistic table.
  */
object TextAnalysis {

  // ---------------------------------------------------------------------
  // t01 — language ID by char-bigram centroid: learn top-20 bigrams per
  // language on the 80% train split (doc_id % 5 != 0), classify the
  // holdout by profile overlap. A real n-gram language-ID pipeline shape:
  // profile build = one shuffle; classification = broadcast join.
  // ---------------------------------------------------------------------
  /** Language-ID over ANY (doc_id, text, lang) frame. */
  def languageId(docs: DataFrame): DataFrame = {
    // Bigrams travel as PRIMITIVE codepoint-pair codes (the codegen'd
    // graft_bigram_codes expression: one UTF-8 walk per row emitting
    // array<long>), not as two-char strings: the string formulation
    // (split to a per-char array + concat per bigram) allocates ~35M
    // short-lived strings per 50k docs and the explode feeding profile
    // building spent its time in that churn. Code order/equality match
    // the string form exactly (UTF-8 byte order IS codepoint order, the
    // encoding is injective), so the profile's count + tie-break select
    // the same bigrams and the DuckDB oracle keeps its substring form —
    // BigramCodesSpec pins the equivalence. (Historical alternatives
    // that measured slower: persisting the shared explode 2.3s → 4.6s
    // at sf0.1; pre-aggregating on the wide (doc_id, lang, bg) key
    // 9.9s → 28.3s at sf1 — the wide-key shuffle worsens with scale.)
    val bigrams = docs.where(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("lang"),
        explode(expr("graft_bigram_codes(text)")).as("bg"))
    val profile = bigrams
      .groupBy(col("lang").as("p_lang"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("p_lang")).orderBy(col("cnt").desc, col("bg").asc)))
      .where(col("rk") <= 20)
    // Classification is MAP-ONLY (the t04 idiom): the old shape exploded
    // the holdout's bigrams, ran a corpus-wide DISTINCT shuffle, joined
    // the profile, and aggregated — reuniting values that never had to
    // leave their row. Instead each holdout doc folds to its per-row
    // distinct bigram-code set, and a |langs|-row broadcast of the
    // per-language top-20 code arrays scores every language via
    // array_intersect in the same projection. score>0 replicates the
    // inner join's drop of languages (and docs) with zero overlap; array
    // sizes make the identical count because both sides are distinct sets.
    val profileArr = profile.groupBy(col("p_lang"))
      .agg(collect_list(col("bg")).as("p_bgs"))
    val scored = docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"),
        expr("array_distinct(graft_bigram_codes(text))").as("bgs"))
      .crossJoin(broadcast(profileArr))
      .select(col("doc_id"), col("lang"), col("p_lang"),
        size(array_intersect(col("bgs"), col("p_bgs"))).cast("long").as("score"))
      .where(col("score") > 0)
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("p_lang").asc)))
      .where(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("actual_lang"),
        col("p_lang").as("predicted_lang"), col("score"))
      .orderBy(col("doc_id").asc)
  }

  def t01LanguageId(spark: SparkSession, dir: String): DataFrame =
    languageId(Tables.loadSpread(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // t02 — quality scoring: length/word-shape/stopword-ratio heuristics.
  // The stopword list is the corpus's own top-10 words (computed in-query).
  // ---------------------------------------------------------------------
  /** Quality scoring over ANY (doc_id, text, lang) frame. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
    // top-10 via orderBy+limit (TakeOrderedAndProject): a global
    // row_number window would funnel every distinct word through ONE
    // reducer — the k survivors are found with per-partition partial
    // top-k instead, so no task ever holds the whole vocabulary
    val stop = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(10).select(col("word"))
    val stopHits = words.join(broadcast(stop), Seq("word"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("stop_hits"))
    // n_words / word_chars from the graft_token_counts walk (r13):
    // ws_tokens ≡ size(split(text, '\s+')), and n_chars − n_ws_chars ≡
    // length(regexp_replace(text, '\s+', '')) — whitespace is ASCII, one
    // char per byte (TextWalksSpec pins both against the regex forms)
    val base = docs.select(col("doc_id"), col("lang"),
      expr("graft_token_counts(text)").as("tc"))
      .select(col("doc_id"), col("lang"),
        col("tc.ws_tokens").as("n_words"),
        (col("tc.n_chars") - col("tc.n_ws_chars")).as("word_chars"))
    val meanLen = col("word_chars") / col("n_words")
    val stopRatio = coalesce(col("stop_hits"), lit(0L)) / col("n_words")
    val score = lit(0.4) * least(lit(1.0), col("n_words") / 100.0) +
      lit(0.3) * (lit(1.0) - stopRatio) +
      lit(0.3) * least(lit(1.0), meanLen / 8.0)
    // raw doubles, NOT rounded: both engines evaluate the identical IEEE
    // expression tree left-to-right, so unrounded values are bit-equal —
    // while round(x, 6) DISAGREES on exact half-way cases (Spark rounds
    // the shortest decimal repr HALF_UP, DuckDB rounds the true double;
    // doc 767 at sf0.1 lands on 0.5076875 exactly).
    base.join(stopHits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"), col("n_words"),
        meanLen.as("mean_word_len"),
        stopRatio.as("stop_ratio"),
        score.as("quality_score"))
      .orderBy(col("doc_id").asc)
  }

  def t02QualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScore(Tables.loadSpread(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // t03 — token counting: whitespace tokens, a BPE-ish regex token count
  // (letter runs / digit runs / single punctuation), and the chars/4
  // estimate. Pure per-row projection: at scale this is map-only work
  // that whole-stage codegen fuses into the scan.
  // ---------------------------------------------------------------------
  private val TokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token counting over ANY (doc_id, text, lang, source) frame.
    * One `graft_token_counts` byte-walk per row (r13) replaces the
    * split-array build + regexp_extract_all match-array build — both
    * allocated per-token intermediates just to be counted; TextWalksSpec
    * pins count equality against the regex forms, and the DuckDB oracle
    * keeps them. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), col("source"),
        expr("graft_token_counts(text)").as("tc"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("tc.ws_tokens").as("ws_tokens"),
        col("tc.regex_tokens").as("regex_tokens"),
        ceil(col("tc.n_chars") / 4.0).cast("long").as("est_bpe_tokens"))
      .orderBy(col("doc_id").asc)

  def t03TokenCounts(spark: SparkSession, dir: String): DataFrame =
    tokenCounts(Tables.loadSpread(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // t04 — document fingerprinting: rolling word-4-gram window hashes
  // (winnowing-style); fingerprint = min window hash. Robust to small
  // edits anywhere outside the minimal window.
  // ---------------------------------------------------------------------
  /** Rolling-window fingerprinting over ANY (doc_id, text) frame.
    *
    * MAP-ONLY and single-walk: the per-doc min/count/distinct fold
    * inside the codegen'd `graft_ngram_fp` byte-walk (functions/
    * TextWalks.scala) — tokens are encoded once and each window hash
    * feeds an incremental md5; no window STRING is ever materialized.
    * The r12 declarative form (transform(sequence…) → concat_ws →
    * per-window h31 → three array folds) was already shuffle-free but
    * allocated one string per (row × window) in interpreted
    * higher-order-function eval — the consume-based bench exposed it at
    * 60.9 s / 500k docs (sf10full); the walk is value-identical
    * (TextWalksSpec pins min/count/distinct against that exact chain,
    * distinct over the SAME h31 domain the oracle counts). Docs with
    * < 4 words produce no windows and are dropped (`n_windows > 0` ≡
    * the old `size(w) >= 4` guard — oracle parity).
    *
    * The `__barrier` column is load-bearing (r15, PERF 15b): the
    * n_windows filter REFERENCES the walk result, and predicate
    * pushdown happily substitutes the walk expression into the filter
    * and pushes it through the spread's round-robin exchange into the
    * single-split scan task — measured at sf10full, the "spread" plan
    * still ran the whole 9.5 s walk serially inside the scan stage
    * (wall ≈ cpu in ProbeT04). A non-deterministic column in the walk
    * projection makes it a pushdown fence (predicate pushdown through a
    * Project requires every project field deterministic), so the walk
    * evaluates where it was placed: above the exchange, across the
    * session's parallelism. The filter must REFERENCE the column
    * (always-true: monotonically_increasing_id is non-negative) or
    * column pruning deletes it and the fence with it — measured: the
    * unreferenced form re-pushed and re-serialized the walk. Values are
    * untouched — the column is dropped before output. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr("graft_ngram_fp(text, 4)").as("fp"),
        monotonically_increasing_id().as("__barrier"))
      .where(col("fp.n_windows") > 0 && col("__barrier") >= 0)
      .select(col("doc_id"),
        col("fp.fingerprint").as("fingerprint"),
        col("fp.n_windows").as("n_windows"),
        col("fp.n_distinct_windows").as("n_distinct_windows"))
      .orderBy(col("doc_id").asc)

  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprint(Tables.loadSpread(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // t05 — deterministic hash sampling: a 10% document sample keyed on the
  // content hash (not rand()), so the sample is reproducible across runs,
  // engines, and repartitioning — the only kind of sample a multi-stage
  // 100 TB pipeline can safely re-derive instead of materializing.
  // ---------------------------------------------------------------------
  val SamplePercent = 10

  /** Deterministic content-hash sampling over ANY frame with a `text`
    * column. */
  def hashSample(docs: DataFrame): DataFrame =
    docs
      .where(h31(col("text")) % 100 < SamplePercent)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id").asc)

  def t05HashSample(spark: SparkSession, dir: String): DataFrame =
    hashSample(Tables.load(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // t06 — vocabulary building: top-100 corpus word frequencies with ranks
  // and cumulative coverage share (the tokenizer-training precursor). One
  // explode + one groupBy (partial-aggregated, persisted: three tiny
  // consumers — top-k, total — of one corpus scan). The top-100 come from
  // orderBy+limit (partial top-k per partition, no global window); rank
  // and running sum are then rebuilt over JUST the 100 survivors with a
  // ≤100×100 broadcast theta-join — no single task ever holds the full
  // vocabulary, unlike a global row_number/partitionBy() window (which at
  // web scale is a one-reducer OOM).
  // ---------------------------------------------------------------------
  /** Vocabulary building over ANY (doc_id, text) frame. */
  def vocab(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .transform(graft.operators.Dedup.persistOnce)
    val top = counts.orderBy(col("freq").desc, col("word").asc).limit(100)
    val total = counts.agg(sum(col("freq")).as("tot"))
    // rank of a = |{b : b ≤ a in (freq desc, word asc) order}|; the same
    // set's freq sum is the running total — long sums, order-independent
    top.as("a")
      .join(broadcast(top.as("b")),
        col("b.freq") > col("a.freq") ||
          (col("b.freq") === col("a.freq") && col("b.word") <= col("a.word")))
      .groupBy(col("a.word").as("word"), col("a.freq").as("freq"))
      .agg(count(lit(1)).as("rank"), sum(col("b.freq")).as("cum"))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("word"), col("freq"),
        // raw double: bit-identical cross-engine (see t02 note)
        (col("cum") / col("tot")).as("cum_share"))
      .orderBy(col("rank").asc)
  }

  def t06Vocab(spark: SparkSession, dir: String): DataFrame =
    vocab(Tables.load(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // t08 — within-document repetition / boilerplate detection: the share of
  // repeated word-trigrams (1 − distinct/total) and the single most
  // frequent word's share of the document. High values flag template spam
  // and looped generations — a standard pre-training quality filter.
  // Per-doc aggregation only: every groupBy keys on doc_id (or
  // (doc_id, word)), so all stages are map-side combinable and the plan
  // has no corpus-global state at any scale.
  // ---------------------------------------------------------------------
  /** Within-document repetition stats over ANY (doc_id, text) frame.
    *
    * MAP-ONLY since r13: every statistic here is a within-row property
    * of one document, so the whole operator is the codegen'd
    * `graft_rep_stats` byte-walk (functions/TextWalks.scala) — one
    * token pass builds the per-row word-frequency map and dedups
    * trigrams as packed token-id triples, with EXACT string semantics
    * (the single-space join is injective over whitespace-free tokens,
    * so id-triple distinctness ≡ the old countDistinct over joined
    * trigram strings — no hash, no collision caveat; TextWalksSpec pins
    * equality against the exploded form). The r12 shape exploded the
    * full word AND trigram streams through two groupBy(doc_id) shuffle
    * chains plus a two-pass countDistinct to reunite rows that started
    * in the same document — 70.5 s / 500k docs at sf10full; at 100 TB
    * those shuffles are the entire cost, and they carry zero
    * information the row didn't already have. */
  def repetition(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr("graft_rep_stats(text)").as("r"))
      .select(col("doc_id"),
        col("r.n_words").as("n_words"),
        col("r.n_trigrams").as("n_trigrams"),
        col("r.n_distinct_trigrams").as("n_distinct_trigrams"),
        // raw doubles, no round() — see the t02 cross-engine note
        when(col("r.n_trigrams") > 0,
          lit(1.0) - col("r.n_distinct_trigrams") / col("r.n_trigrams"))
          .otherwise(lit(0.0)).as("rep_ratio"),
        (col("r.max_word_freq") / col("r.n_words")).as("top_word_share"))
      .orderBy(col("doc_id").asc)

  def t08Repetition(spark: SparkSession, dir: String): DataFrame =
    repetition(Tables.loadSpread(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // t09 — distinctive terms per document: rank each document's words by
  // tf/df (term frequency over corpus document frequency — the tf-idf
  // ordering without the log, so the score is a single IEEE division both
  // engines compute bit-identically). df is a count over the persisted tf
  // pairs — one extra map-combinable aggregate, no second corpus scan.
  // The final window partitions by doc_id and only ever holds one
  // document's vocabulary — bounded by doc length, not corpus size.
  // ---------------------------------------------------------------------
  val DistinctiveK = 3

  /** The per-(doc, word) term-frequency frame every word-statistics
    * consumer (t09/t12/t14, p01/p05 via t12) starts from — one explode +
    * one (doc_id, word) shuffle over the corpus text. Factored out so the
    * fixture wrappers can serve it as the `wtf_` catalog artifact (r17
    * verdict task 2): the frame is a per-DOC derivation, so an appended
    * corpus refreshes it at file level like shingles_/h60_. */
  private[graft] def wordTfOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))

  /** The (doc_id, word, tf) frame as a PERSISTED CATALOG ARTIFACT — the
    * h60 discipline applied to the text family: t09/t12/t14 (and p01/p05
    * through t12's rules) each re-derived the identical explode +
    * (doc_id, word) shuffle from raw text per query. Values are exact
    * (long counts, verbatim word strings) → serve ≡ recompute; the
    * DuckDB oracle still re-derives every consumer from raw text.
    * Per-DOC rows → file-level append refresh. */
  private[graft] lazy val WordTf: ArtifactFamily = new ArtifactFamily("wtf", Dedup.Docs,
    defining = (spark, dir) => wordTfOf(Dedup.docText(spark, dir)))(
    build = (spark, dir) => wordTfOf(graft.plans.Scale.spreadIfNarrow(Dedup.docText(spark, dir))),
    refresh = Some(Append((_, _, batch) => wordTfOf(batch.select(col("doc_id"), col("text"))))))

  /** Distinctive terms (tf/df) over a pre-built tf frame. The corpus df
    * rides a `count() OVER (PARTITION BY word)` window on the SAME
    * exchange the tf frame needs anyway (guide §2.4: two operations
    * keyed the same way share one shuffle) — the previous
    * groupBy(word)+join-back shape paid a second full shuffle of tf
    * plus a join for a value the window computes in place. */
  private[graft] def distinctiveTermsOverTf(tf: DataFrame): DataFrame =
    tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("word"))))
      .withColumn("score", col("tf") / col("df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("word").asc)))
      .where(col("rk") <= DistinctiveK)
      .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id").asc, col("rk").asc)

  /** Distinctive terms (tf/df) over ANY (doc_id, text) frame. */
  def distinctiveTerms(docs: DataFrame): DataFrame =
    distinctiveTermsOverTf(wordTfOf(docs))

  def t09DistinctiveTerms(spark: SparkSession, dir: String): DataFrame =
    distinctiveTermsOverTf(WordTf.serve(spark, dir))

  // ---------------------------------------------------------------------
  // t10 — sketch cardinality: per-source distinct-document counts via
  // HyperLogLog++ (approx_count_distinct, rsd 1%) next to the exact
  // countDistinct it approximates. At 100 TB the exact distinct shuffles
  // every distinct value; the HLL sketch is fixed-size mergeable state
  // (kilobytes per group) that partial-aggregates map-side — the only
  // one-pass way to count distincts over a web corpus.
  //
  // Oracle shape: DuckDB's approx_distinct is a DIFFERENT estimator, so
  // the raw HLL value cannot be oracle-compared. Instead the exact
  // columns are oracle-computed, and the estimate ships as the CLAIM it
  // exists to make — `hll_within_5pct` — which the oracle asserts TRUE:
  // an HLL drift past 5% relative error fails the driver row, not just
  // the (tighter) spec pin in OperatorSemanticsSpec.
  // ---------------------------------------------------------------------
  val SketchTolerance = 0.05

  /** The raw sketch-beside-exact aggregate; OperatorSemanticsSpec pins
    * the estimate's relative error on this frame directly. */
  private[graft] def t10Raw(spark: SparkSession, dir: String): DataFrame =
    sketchCardinalityRaw(Tables.loadSpread(spark, dir, "documents"))

  private def sketchCardinalityRaw(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("exact_distinct_texts"),
        approx_count_distinct(col("text"), 0.01).as("approx_distinct_texts"))

  /** HLL-beside-exact cardinality audit over ANY (source, text) frame. */
  def sketchCardinality(docs: DataFrame): DataFrame =
    sketchCardinalityRaw(docs)
      .select(col("source"), col("n_docs"), col("exact_distinct_texts"),
        (abs(col("approx_distinct_texts") - col("exact_distinct_texts"))
          .cast("double") / col("exact_distinct_texts") <= SketchTolerance)
          .as("hll_within_5pct"))
      .orderBy(col("source").asc)

  def t10SketchCardinality(spark: SparkSession, dir: String): DataFrame =
    sketchCardinality(Tables.loadSpread(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // t11 — PII detection + redaction: per-doc counts of email / phone /
  // long-account-number patterns plus the md5 of the redacted text —
  // the scrubbing pass every training corpus goes through before
  // release. The synthetic corpus contains no natural PII, so the query
  // runs over a deterministically AUGMENTED view (docs with
  // doc_id % 3 == 0 get a contact sentence synthesized from doc_id —
  // identical SQL on both engines), proving detection AND redaction
  // end-to-end with non-zero matches; on a real corpus the same
  // patterns point at the raw column. Regexes use the Java∩RE2 common
  // subset (classes, bounded/greedy quantifiers, no alternation or
  // lookaround) so Spark and DuckDB match byte-identically. Map-only
  // per-row work — codegen-fused into the scan like t03.
  // ---------------------------------------------------------------------
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val AcctRe = "[0-9]{9}"

  /** The PII-augmented text expression — spelled once in SQL that parses
    * identically on Spark and DuckDB, so the two sides cannot drift. */
  private val piiAugSql: String =
    """CASE WHEN doc_id % 3 = 0
      |THEN concat(text, ' contact user', cast(doc_id AS STRING),
      |            '@example.org call 202-555-0',
      |            lpad(cast(doc_id % 1000 AS STRING), 3, '0'),
      |            ' acct ',
      |            lpad(cast(doc_id * 271 % 1000000000 AS STRING), 9, '0'))
      |ELSE text END""".stripMargin.replace("\n", " ")

  /** PII detection + redaction over ANY (doc_id, lang, text) frame —
    * scans the text AS GIVEN (the fixture's synthetic-PII augmentation
    * lives in the t11 wrapper below; a user corpus is scanned raw). */
  def piiScan(docs: DataFrame): DataFrame =
    // Since r13 the whole scan is the codegen'd `graft_pii_stats`
    // byte-walk (functions/TextWalks.scala): the three patterns are
    // ASCII-only, so a byte-level scanner finds exactly the matches the
    // regex engine finds (TextWalksSpec pins count AND redaction-hash
    // equality against the regexp_extract_all/regexp_replace chain on
    // random PII soup + adversarial edges). The r12 form paid three
    // regexp_extract_all passes (each materializing a match-string
    // array) plus three sequential regexp_replace rebuilds — six regex
    // scans per row, 39.4 s / 500k docs at sf10full; the walk does five
    // branchy byte passes and never materializes the redacted text (its
    // md5 is computed in place).
    docs
      .select(col("doc_id"), col("lang"), expr("graft_pii_stats(text)").as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.n_emails").as("n_emails"),
        col("p.n_phones").as("n_phones"),
        col("p.n_accts").as("n_accts"),
        col("p.redacted_hash").as("redacted_hash"))
      .orderBy(col("doc_id").asc)

  /** Fixture wrapper: the corpus has no natural PII, so docs with
    * doc_id % 3 == 0 get a synthetic contact sentence. Augmentation is
    * TEST DATA — it lives here, not in [[piiScan]]. */
  def t11PiiScan(spark: SparkSession, dir: String): DataFrame =
    piiScan(Tables.loadSpread(spark, dir, "documents")
      .withColumn("text", expr(piiAugSql)))

  // ---------------------------------------------------------------------
  // t12 — composable quality-filter rules (Gopher-style): each document
  // gets one boolean per rule plus the conjunction `keep` — the
  // rule-by-rule transparency a curation pipeline needs to audit WHY a
  // document was dropped (and to tune thresholds from the flag marginals)
  // rather than a single opaque score like t02. Thresholds are calibrated
  // to the synthetic corpus so every rule fires both ways. All inputs
  // come from ONE persisted per-(doc, word) count frame: doc shape stats,
  // the corpus stopword list, and stopword coverage are three aggregates
  // over it, each map-side combinable; the stop list broadcasts. At
  // 100 TB nothing here holds corpus-global state — the widest shuffle is
  // the (doc_id, word) pre-aggregation.
  // ---------------------------------------------------------------------
  val MinWords = 25L
  val MeanLenLo = 4.0
  val MeanLenHi = 5.0
  val TopShareMax = 0.125
  val StopMinDistinct = 7L

  /** Quality filter over a pre-built (doc_id, word, c) frame plus the
    * (doc_id, lang) projection of the corpus. Restructured r18 (guide
    * §2.4): the previous shape ran THREE aggregates over wc (per-doc
    * shape, stop list, stop coverage) plus a raw-text regexp scan for
    * word_chars, then reunited them with two joins. Now ONE doc-keyed
    * aggregate over stop-marked wc rows computes shape, coverage AND
    * word_chars (Σ c·length(word) ≡ length(regexp_replace(text,'\\s+',''))
    * — split tokens concatenated are exactly the non-whitespace
    * characters, same \\s class in both expressions, exact integers), so
    * the raw text column is never touched and the join-back disappears;
    * only the tiny top-10 stop list keeps its own word-keyed pass. */
  private[graft] def qualityFilterOverTf(wc: DataFrame, docsLite: DataFrame): DataFrame = {
    val stop = wc.groupBy(col("word")).agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(10).select(col("word"))
    // wc is one row per (doc, word), so the conditional count of marked
    // rows IS the distinct stop-word count
    val marked = wc.join(broadcast(stop.withColumn("is_stop", lit(1))),
      Seq("word"), "left_outer")
    val ws = marked.groupBy(col("doc_id")).agg(
      max(col("c")).as("max_word_freq"),
      sum(col("c")).as("n_words"),
      sum(col("c") * length(col("word"))).as("word_chars"),
      sum(when(col("is_stop") === 1, 1L).otherwise(0L)).as("n_stop_distinct"))
    val meanLen = col("word_chars") / col("n_words")
    val topShare = col("max_word_freq") / col("n_words")
    val rLen = col("n_words") >= MinWords
    val rMean = meanLen >= MeanLenLo && meanLen <= MeanLenHi
    val rTop = topShare <= TopShareMax
    val rStop = col("n_stop_distinct") >= StopMinDistinct
    // raw doubles + comparisons on them: identical IEEE trees both
    // engines (see the t02 note), so the booleans cannot drift either
    docsLite.join(ws, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_words"),
        meanLen.as("mean_word_len"), topShare.as("top_word_share"),
        col("n_stop_distinct"),
        rLen.as("r_len"), rMean.as("r_mean"), rTop.as("r_top"), rStop.as("r_stop"),
        (rLen && rMean && rTop && rStop).as("keep"))
      .orderBy(col("doc_id").asc)
  }

  /** Gopher-style rule-based quality filter over ANY (doc_id, text,
    * lang) frame. */
  def qualityFilter(docs: DataFrame): DataFrame =
    qualityFilterOverTf(
      // persisted: two consumers (stop list, marked aggregate)
      graft.operators.Dedup.persistOnce(
        wordTfOf(docs).withColumnRenamed("tf", "c")),
      docs.select(col("doc_id"), col("lang")))

  def t12QualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityFilterOverTf(
      graft.operators.Dedup.persistOnce(
        WordTf.serve(spark, dir).withColumnRenamed("tf", "c")),
      Tables.load(spark, dir, "documents").select(col("doc_id"), col("lang")))

  // ---------------------------------------------------------------------
  // t13 — bigram-LM novelty / OOV scoring: train word-bigram counts on
  // the 80% split (doc_id % 5 != 0), then score EVERY document by its
  // out-of-vocabulary bigram rate and its mean train-frequency — the
  // membership/novelty signal a perplexity filter gives, built from
  // exact integer sums (no transcendental functions, so both engines are
  // bit-identical by construction: two long sums, one final division).
  // Scale: the per-(doc, bigram) pre-aggregation bounds the join input,
  // the join is bigram-keyed equi (the LM table shuffles once), and the
  // final per-doc aggregate is map-side combinable. Holdout docs
  // (doc_id % 5 == 0) are where the novelty signal means something;
  // train docs score near-zero OOV by construction — both ship, since a
  // real filter scores the whole corpus.
  // ---------------------------------------------------------------------
  /** The per-(doc, bigram) count frame t13 starts from — factored out so
    * the fixture wrapper can serve it as the `dbg_` catalog artifact
    * (per-DOC derivation → file-level append refresh, like wtf_). */
  private[graft] def bigramTfOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(w) >= 2
          |THEN transform(sequence(1, size(w)-1), i -> concat_ws(' ', slice(w, i, 2)))
          |ELSE array() END""".stripMargin)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))

  private[graft] lazy val BigramTf: ArtifactFamily = new ArtifactFamily("dbg", Dedup.Docs,
    defining = (spark, dir) => bigramTfOf(Dedup.docText(spark, dir)))(
    build = (spark, dir) => bigramTfOf(graft.plans.Scale.spreadIfNarrow(Dedup.docText(spark, dir))),
    refresh = Some(Append((_, _, batch) => bigramTfOf(batch.select(col("doc_id"), col("text"))))))

  /** Bigram-LM novelty over a pre-built (doc_id, bg, c) frame plus the
    * (doc_id, lang) projection. Restructured r18 (guide §2.4): the train
    * LM count rides a `sum(CASE train) OVER (PARTITION BY bg)` window on
    * the one bg-keyed exchange — the previous groupBy(bg)+join-back
    * built a separate LM table and shuffled dbg a second time to attach
    * it. cnt = 0 ⟺ no train row held the bigram ⟺ the old left join's
    * NULL, and every sum is over the same exact integers. */
  private[graft] def bigramNoveltyOverDbg(dbg: DataFrame, docsLite: DataFrame): DataFrame = {
    val cnt = sum(when(col("doc_id") % 5 =!= 0, col("c")).otherwise(lit(0L)))
      .over(Window.partitionBy(col("bg")))
    val scored = dbg.withColumn("cnt", cnt)
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(when(col("cnt") === 0, col("c")).otherwise(lit(0L))).as("n_oov"),
        sum(col("c") * col("cnt")).as("sum_train_freq"))
    docsLite
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(col("n_bigrams") > 0, col("n_oov") / col("n_bigrams"))
          .otherwise(lit(0.0)).as("oov_rate"),
        when(col("n_bigrams") > 0, col("sum_train_freq") / col("n_bigrams"))
          .otherwise(lit(0.0)).as("mean_train_freq"))
      .orderBy(col("doc_id").asc)
  }

  /** Bigram-LM novelty scoring over ANY (doc_id, text) frame. */
  def bigramNovelty(docs: DataFrame): DataFrame =
    bigramNoveltyOverDbg(bigramTfOf(docs), docs.select(col("doc_id"), col("lang")))

  def t13BigramNovelty(spark: SparkSession, dir: String): DataFrame =
    bigramNoveltyOverDbg(BigramTf.serve(spark, dir),
      Tables.load(spark, dir, "documents").select(col("doc_id"), col("lang")))

  // ---------------------------------------------------------------------
  // t14 — token-rarity scoring: per document, the share of tokens whose
  // word occurs in exactly ONE document corpus-wide (hapax share) and
  // the mean corpus document-frequency of its tokens — the
  // perplexity-shaped rarity signal built entirely from exact integer
  // counts (no logs, so both engines agree bitwise; a high hapax share
  // flags OCR noise / mojibake, a high mean df flags boilerplate).
  // Same plan shape as t09: one persisted (doc, word) tf frame feeds
  // both the df aggregate and the scoring join; the df table shuffles
  // once on word; the final per-doc aggregate is map-side combinable.
  // ---------------------------------------------------------------------
  /** Token-rarity scoring over a pre-built tf frame plus the
    * (doc_id, lang) projection — df via the same one-exchange
    * `count() OVER (PARTITION BY word)` window as t09 (guide §2.4). */
  private[graft] def rarityScoreOverTf(tf: DataFrame, docsLite: DataFrame): DataFrame = {
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("word"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_words"),
        sum(when(col("df") === 1, col("tf")).otherwise(lit(0L))).as("n_hapax"),
        sum(col("tf") * col("df")).as("sum_df"))
    docsLite
      .join(scored, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("n_hapax"),
        (col("n_hapax") / col("n_words")).as("hapax_share"),
        (col("sum_df") / col("n_words")).as("mean_token_df"))
      .orderBy(col("doc_id").asc)
  }

  /** Token-rarity scoring over ANY (doc_id, text, lang) frame. */
  def rarityScore(docs: DataFrame): DataFrame =
    rarityScoreOverTf(wordTfOf(docs), docs.select(col("doc_id"), col("lang")))

  def t14RarityScore(spark: SparkSession, dir: String): DataFrame =
    rarityScoreOverTf(WordTf.serve(spark, dir),
      Tables.load(spark, dir, "documents").select(col("doc_id"), col("lang")))

  // ---------------------------------------------------------------------
  // t15 — per-source vocabulary-growth audit: token count, type count
  // (distinct words), hapax count (words seen once in the source),
  // type-token ratio and hapax share — the Heaps/Zipf-shape numbers that
  // tell a tokenizer team whether a source is natural text (hapax-heavy
  // tail) or templated spam (tiny closed vocabulary). One
  // (source, word) pre-aggregation — map-side combinable — then a
  // per-source rollup of exact integers; the two ratios are single IEEE
  // divisions (t02 contract).
  // ---------------------------------------------------------------------
  /** Per-source vocabulary-growth audit over ANY (source, text) frame. */
  def vocabGrowth(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(split(col("text"), "\\s+")).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types") / col("n_tokens")).as("type_token_ratio"),
        (col("n_hapax") / col("n_types")).as("hapax_share"))
      .orderBy(col("source").asc)

  def t15VocabGrowth(spark: SparkSession, dir: String): DataFrame =
    vocabGrowth(Tables.loadSpread(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // t16 — corpus length card: per (source, decimal magnitude of
  // n_chars) doc/token counts with each magnitude's share of its
  // source — the length-distribution page of a dataset card, where
  // truncation cliffs and boilerplate spikes show up as magnitude
  // anomalies. The magnitude bucket is the DIGIT COUNT of n_chars
  // (length of its decimal rendering) — an exact integer log10, immune
  // to the floor(log(x)) float-boundary hazard of a transcendental
  // bucket. One map-combinable aggregate over ≤ sources×magnitudes
  // groups; per-source totals rejoin by broadcast (the p05 shape).
  // ---------------------------------------------------------------------
  /** Length-distribution card over ANY (source, n_chars) frame. */
  def lengthCard(docs: DataFrame): DataFrame = {
    val byMag = docs
      .select(col("source"), col("n_chars"),
        length(col("n_chars").cast("string")).as("magnitude"),
        ceil(col("n_chars") / 4.0).cast("long").as("tokens"))
      .groupBy(col("source"), col("magnitude"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("n_tokens"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
    val totals = byMag.groupBy(col("source")).agg(sum(col("n_docs")).as("src_docs"))
    byMag.join(broadcast(totals), Seq("source"))
      .select(col("source"), col("magnitude"), col("n_docs"), col("n_tokens"),
        col("min_chars"), col("max_chars"),
        (col("n_docs").cast("double") / col("src_docs")).as("doc_share"))
      .orderBy(col("source").asc, col("magnitude").asc)
  }

  def t16LengthCard(spark: SparkSession, dir: String): DataFrame =
    lengthCard(Tables.load(spark, dir, "documents"))

  // ---------------------------------------------------------------------
  // t17 — encoding / non-printable audit: per document, the count and
  // share of characters outside printable ASCII ([ -~]) with a suspect
  // flag — the mojibake/binary-contamination screen a web-scraped corpus
  // passes before tokenization. The corpus is clean by construction, so
  // (t11 pattern) the query runs over a deterministically AUGMENTED view
  // — docs with doc_id % 11 == 0 get control bytes (BEL, DEL via chr())
  // appended, so detection provably fires both ways. Map-only per-row
  // regex work in the Java∩RE2 class subset, codegen-fused like t03.
  // ---------------------------------------------------------------------
  /** The control-byte augmentation — one SQL string both engines parse
    * identically (chr() exists on both; code points < 128 dodge any
    * extended-charset ambiguity). */
  private val encAugSql: String =
    "CASE WHEN doc_id % 11 = 0 THEN concat(text, chr(7), 'x', chr(127)) ELSE text END"

  /** Encoding / non-printable audit over ANY (doc_id, source, text)
    * frame — scans the text AS GIVEN (the fixture's control-byte
    * augmentation lives in the t17 wrapper). */
  def encodingAudit(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), col("text").as("t"))
      .select(col("doc_id"), col("source"),
        length(col("t")).cast("long").as("n_chars"),
        length(regexp_replace(col("t"), "[ -~]", "")).cast("long").as("n_nonprintable"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("n_nonprintable"),
        // zero guard: an empty doc is 0/0 — NULL on Spark but
        // version-dependent in DuckDB; pin 0.0 identically in both
        when(col("n_chars") > 0, col("n_nonprintable") / col("n_chars"))
          .otherwise(lit(0.0)).as("nonprintable_share"),
        (col("n_nonprintable") > 0).as("is_suspect"))
      .orderBy(col("doc_id").asc)

  /** Fixture wrapper: the corpus is clean by construction, so docs with
    * doc_id % 11 == 0 get control bytes appended. Augmentation is TEST
    * DATA — it lives here, not in [[encodingAudit]]. */
  def t17EncodingAudit(spark: SparkSession, dir: String): DataFrame =
    encodingAudit(Tables.loadSpread(spark, dir, "documents")
      .withColumn("text", expr(encAugSql)))

  // ---------------------------------------------------------------------
  // t18 — Good-Turing frequency spectrum: the counts-of-counts table
  // N_r = |{words seen exactly r times}| per language, with the
  // Good-Turing adjusted count r* = (r+1)·N_{r+1}/N_r (Gale & Sampson's
  // raw estimator before smoothing). The spectrum is the standard input
  // to coverage estimation (how much probability mass the unseen tail
  // holds: N_1/N) and corpus-health checks (a templated corpus collapses
  // the spectrum to a few spikes). All counts are exact integers and the
  // one r* division happens per OUTPUT row — no cross-engine fp
  // summation anywhere. Scale: the (lang, word) aggregate is map-side
  // combinable and vocab-bounded, the spectrum aggregate is
  // spectrum-bounded (≤ distinct frequency values), and the N_{r+1}
  // lookup is a broadcast self-join of the tiny spectrum — the corpus is
  // read exactly once.
  // ---------------------------------------------------------------------
  /** Good-Turing frequency spectrum over ANY (lang, text) frame. */
  def freqSpectrum(docs: DataFrame): DataFrame = {
    val spectrum = docs
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("freq"))
      .groupBy(col("lang"), col("freq")).agg(count(lit(1)).as("n_types"))
    val next = spectrum.select(col("lang").as("lang2"),
      col("freq").as("freq2"), col("n_types").as("n_next"))
    spectrum
      .join(broadcast(next),
        col("lang") === col("lang2") && col("freq2") === col("freq") + 1,
        "left_outer")
      .select(col("lang"), col("freq"), col("n_types"),
        round((col("freq") + 1).cast("double") *
          coalesce(col("n_next"), lit(0L)) / col("n_types"), 6).as("r_star"))
      .orderBy(col("lang").asc, col("freq").asc)
  }

  def t18FreqSpectrum(spark: SparkSession, dir: String): DataFrame =
    freqSpectrum(Tables.loadSpread(spark, dir, "documents"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t18_freq_spectrum" -> t18FreqSpectrum _,
    "t17_encoding_audit" -> t17EncodingAudit _,
    "t16_length_card" -> t16LengthCard _,
    "t15_vocab_growth" -> t15VocabGrowth _,
    "t14_rarity_score" -> t14RarityScore _,
    "t12_quality_filter" -> t12QualityFilter _,
    "t13_bigram_novelty" -> t13BigramNovelty _,
    "t10_sketch_cardinality" -> t10SketchCardinality _,
    "t11_pii_scan" -> t11PiiScan _,
    "t01_language_id" -> t01LanguageId _,
    "t02_quality_score" -> t02QualityScore _,
    "t03_token_counts" -> t03TokenCounts _,
    "t04_fingerprint" -> t04Fingerprint _,
    "t05_hash_sample" -> t05HashSample _,
    "t06_vocab" -> t06Vocab _,
    "t07_stratified_sample" -> t07StratifiedSample _,
    "t08_repetition" -> t08Repetition _,
    "t09_distinctive_terms" -> t09DistinctiveTerms _
  )

  // ---------------------------------------------------------------------
  // t07 — stratified downsampling (domain mixing): equal docs per
  // language — per stratum, the `quota` docs with the smallest
  // (content-hash, doc_id) key, so the selection is reproducible and
  // partition-independent like t05 (quota = smallest language's count,
  // probed on the driver when the plan is built).
  //
  // Selection is distributed-selection via a hash histogram, NOT a
  // per-stratum row_number window: with a handful of languages, a window
  // partitioned by `lang` funnels corpus/L rows through ONE reducer — a
  // guaranteed single-task OOM at web scale. Instead:
  //   1. bucket the hash domain into B ordered slices (monotone in h, so
  //      bucket order == hash order) and build the (lang, bucket)
  //      histogram — one map-combinable aggregate, ≤ L×B rows;
  //   2. a running sum over the histogram (window input bounded by B
  //      rows per stratum, never by corpus size) finds each stratum's
  //      boundary bucket and how many docs it still needs from it;
  //   3. docs in buckets below the boundary are selected outright; the
  //      exact (h, doc_id) rank runs ONLY inside the boundary bucket —
  //      ~stratumSize/B rows per stratum, bounded by the bucket width.
  // The result is bit-identical to the naive rank (bucket order refines
  // hash order), so the DuckDB oracle keeps the simple row_number form.
  // ---------------------------------------------------------------------
  val SampleBuckets = 4096

  /** Stratified downsampling over ANY (doc_id, text, lang, source)
    * frame: `quota` docs per language. */
  def stratifiedSample(docs: DataFrame, quota: Long): DataFrame = {
    // h ∈ [0, P31); bucket = ⌊h·B/P31⌋ ∈ [0, B) is monotone in h and
    // h·B < 2^43 — no 64-bit overflow
    val keyed = docs.select(col("doc_id"), col("lang"), col("source"),
        h31(col("text")).as("h"))
      .withColumn("bucket", expr(s"(h * $SampleBuckets) DIV $P31"))
    val hist = keyed.groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col("lang")).orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // the unique bucket per stratum where the cumulative count crosses
    // the quota; `need` = docs still owed from inside it
    val boundary = hist
      .withColumn("cum_before", coalesce(sum(col("c")).over(wc), lit(0L)))
      .where(col("cum_before") < quota && col("cum_before") + col("c") >= quota)
      .select(col("lang"), col("bucket").as("b_bucket"),
        (lit(quota) - col("cum_before")).as("need"))
    val withB = keyed.join(broadcast(boundary), Seq("lang"))
    val below = withB.where(col("bucket") < col("b_bucket"))
      .select(col("doc_id"), col("lang"), col("source"))
    // exact rank only over the boundary bucket's rows (bounded by the
    // bucket width, not the stratum size)
    val wb = Window.partitionBy(col("lang")).orderBy(col("h").asc, col("doc_id").asc)
    val atBoundary = withB.where(col("bucket") === col("b_bucket"))
      .withColumn("rk", row_number().over(wb))
      .where(col("rk") <= col("need"))
      .select(col("doc_id"), col("lang"), col("source"))
    below.unionAll(atBoundary).orderBy(col("doc_id").asc)
  }

  /** t07 reads its quota once per content state of `documents`. */
  def t07StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    stratifiedSample(docs, quotaMemo(spark, dir, "t07_quota", Seq("documents"))(
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .agg(min(col("n"))).first().getLong(0)))
  }

  /** The smallest language's doc count — every stratum's sample size. */
  private val quotaMemo = new ContentMemo[Long]

  /** DuckDB CTE chain for the t12 rule inputs, ending at `chars`, `ws`,
    * `cov` — shared with Curation's p01 oracle so the pipeline's quality
    * stage is definitionally t12's. */
  /** The t02 score-derivation CTEs (words → stop-list → stop-hit counts
    * → per-doc shape columns) — ONE definition shared by the t02 oracle
    * and every pipeline oracle that consumes the quality score (p07), so
    * the score cannot drift between its producer and its consumers. */
  private[operators] val scoreBaseCtesSql: String =
    """words AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents),
      |stop AS (
      |  SELECT word FROM (
      |    SELECT word, count(*) AS cnt FROM words GROUP BY word
      |    ORDER BY cnt DESC, word ASC LIMIT 10)),
      |stophits AS (
      |  SELECT doc_id, count(*) AS stop_hits FROM words JOIN stop USING (word) GROUP BY 1),
      |base AS (
      |  SELECT doc_id, lang,
      |         len(regexp_split_to_array(text, '\s+'))::BIGINT AS n_words,
      |         length(regexp_replace(text, '\s+', '', 'g'))::BIGINT AS word_chars
      |  FROM documents)""".stripMargin

  /** t02's exact score expression over `base LEFT JOIN stophits` columns. */
  private[operators] val scoreExprSql: String =
    """0.4::DOUBLE * least(1.0::DOUBLE, n_words / 100.0::DOUBLE) +
      |       0.3::DOUBLE * (1.0::DOUBLE - coalesce(stop_hits, 0) / n_words) +
      |       0.3::DOUBLE * least(1.0::DOUBLE, (word_chars / n_words) / 8.0::DOUBLE)""".stripMargin

  private[operators] val qualityCtesSql: String =
    """qw AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents),
      |wc AS (SELECT doc_id, word, count(*) AS c FROM qw GROUP BY 1, 2),
      |ws AS (
      |  SELECT doc_id, max(c) AS max_word_freq, sum(c)::BIGINT AS n_words
      |  FROM wc GROUP BY 1),
      |stop AS (
      |  SELECT word FROM (
      |    SELECT word, sum(c)::BIGINT AS cnt FROM wc GROUP BY 1
      |    ORDER BY cnt DESC, word ASC LIMIT 10)),
      |cov AS (
      |  SELECT doc_id, count(*) AS n_stop_distinct
      |  FROM wc JOIN stop USING (word) GROUP BY 1),
      |chars AS (
      |  SELECT doc_id, lang,
      |         length(regexp_replace(text, '\s+', '', 'g'))::BIGINT AS word_chars
      |  FROM documents)""".stripMargin

  /** The t12 `keep` predicate over the [[qualityCtesSql]] columns — one
    * definition for the t12 and p01 oracles. */
  private[operators] def keepPredSql: String =
    s"""n_words >= $MinWords
       |         AND word_chars / n_words >= $MeanLenLo
       |         AND word_chars / n_words <= $MeanLenHi
       |         AND max_word_freq / n_words <= $TopShareMax
       |         AND coalesce(n_stop_distinct, 0) >= $StopMinDistinct""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "t18_freq_spectrum" ->
      """WITH wc AS (
        |  SELECT lang, word, count(*) AS freq
        |  FROM (SELECT lang, unnest(regexp_split_to_array(text, '\s+')) AS word
        |        FROM documents)
        |  GROUP BY 1, 2),
        |spec AS (SELECT lang, freq, count(*) AS n_types FROM wc GROUP BY 1, 2)
        |SELECT s.lang, s.freq, s.n_types,
        |       round((s.freq + 1)::DOUBLE * coalesce(n2.n_types, 0) / s.n_types, 6)
        |         AS r_star
        |FROM spec s
        |LEFT JOIN spec n2 ON n2.lang = s.lang AND n2.freq = s.freq + 1
        |ORDER BY s.lang ASC NULLS FIRST, s.freq ASC NULLS FIRST""".stripMargin,

    "t17_encoding_audit" ->
      s"""WITH a AS (
         |  SELECT doc_id, source, $encAugSql AS t FROM documents),
         |c AS (
         |  SELECT doc_id, source,
         |         length(t)::BIGINT AS n_chars,
         |         length(regexp_replace(t, '[ -~]', '', 'g'))::BIGINT AS n_nonprintable
         |  FROM a)
         |SELECT doc_id, source, n_chars, n_nonprintable,
         |       CASE WHEN n_chars > 0 THEN n_nonprintable / n_chars
         |            ELSE 0.0 END AS nonprintable_share,
         |       n_nonprintable > 0 AS is_suspect
         |FROM c
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "t16_length_card" ->
      """WITH m AS (
        |  SELECT source, CAST(length(CAST(n_chars AS VARCHAR)) AS INTEGER) AS magnitude,
        |         count(*) AS n_docs,
        |         CAST(sum(ceil(n_chars / 4.0)::BIGINT) AS BIGINT) AS n_tokens,
        |         min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS src_docs
        |      FROM m GROUP BY 1)
        |SELECT m.source, magnitude, n_docs, n_tokens, min_chars, max_chars,
        |       CAST(n_docs AS DOUBLE) / src_docs AS doc_share
        |FROM m JOIN t ON m.source = t.source
        |ORDER BY m.source ASC NULLS FIRST, magnitude ASC NULLS FIRST""".stripMargin,

    "t15_vocab_growth" ->
      """WITH w AS (
        |  SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS word
        |  FROM documents),
        |sw AS (SELECT source, word, count(*) AS c FROM w GROUP BY 1, 2),
        |agg AS (
        |  SELECT source,
        |         CAST(sum(c) AS BIGINT) AS n_tokens,
        |         count(*) AS n_types,
        |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |  FROM sw GROUP BY source)
        |SELECT source, n_tokens, n_types, n_hapax,
        |       n_types / n_tokens AS type_token_ratio,
        |       n_hapax / n_types AS hapax_share
        |FROM agg
        |ORDER BY source ASC NULLS FIRST""".stripMargin,

    "t14_rarity_score" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT doc_id,
        |         CAST(sum(tf) AS BIGINT) AS n_words,
        |         CAST(sum(CASE WHEN df = 1 THEN tf ELSE 0 END) AS BIGINT) AS n_hapax,
        |         CAST(sum(tf * df) AS BIGINT) AS sum_df
        |  FROM tf JOIN dfq USING (word) GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, s.n_words, s.n_hapax,
        |       s.n_hapax / s.n_words AS hapax_share,
        |       s.sum_df / s.n_words AS mean_token_df
        |FROM documents d JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin,

    "t12_quality_filter" ->
      s"""WITH $qualityCtesSql
         |SELECT doc_id, lang, n_words,
         |       word_chars / n_words AS mean_word_len,
         |       max_word_freq / n_words AS top_word_share,
         |       coalesce(n_stop_distinct, 0) AS n_stop_distinct,
         |       n_words >= $MinWords AS r_len,
         |       word_chars / n_words >= $MeanLenLo
         |         AND word_chars / n_words <= $MeanLenHi AS r_mean,
         |       max_word_freq / n_words <= $TopShareMax AS r_top,
         |       coalesce(n_stop_distinct, 0) >= $StopMinDistinct AS r_stop,
         |       $keepPredSql AS keep
         |FROM chars JOIN ws USING (doc_id) LEFT JOIN cov USING (doc_id)
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "t13_bigram_novelty" ->
      """WITH dbg AS (
        |  SELECT doc_id, bg, count(*) AS c FROM (
        |    SELECT doc_id,
        |           unnest(CASE WHEN len(w) >= 2
        |             THEN list_transform(generate_series(1, len(w)-1),
        |                  i -> array_to_string(w[i:i+1], ' '))
        |             ELSE [] END) AS bg
        |    FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents))
        |  GROUP BY 1, 2),
        |train AS (
        |  SELECT bg, sum(c)::BIGINT AS cnt FROM dbg WHERE doc_id % 5 <> 0 GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
        |         sum(CASE WHEN cnt IS NULL THEN c ELSE 0 END)::BIGINT AS n_oov,
        |         sum(c * coalesce(cnt, 0))::BIGINT AS sum_train_freq
        |  FROM dbg LEFT JOIN train USING (bg) GROUP BY 1)
        |SELECT d.doc_id, d.lang,
        |       coalesce(n_bigrams, 0) AS n_bigrams,
        |       coalesce(n_oov, 0) AS n_oov,
        |       CASE WHEN n_bigrams > 0 THEN n_oov / n_bigrams
        |            ELSE 0.0::DOUBLE END AS oov_rate,
        |       CASE WHEN n_bigrams > 0 THEN sum_train_freq / n_bigrams
        |            ELSE 0.0::DOUBLE END AS mean_train_freq
        |FROM documents d LEFT JOIN scored USING (doc_id)
        |ORDER BY d.doc_id ASC NULLS FIRST""".stripMargin,

    "t11_pii_scan" ->
      s"""WITH aug AS (SELECT doc_id, lang, $piiAugSql AS a FROM documents)
         |SELECT doc_id, lang,
         |       len(regexp_extract_all(a, '$EmailRe'))::BIGINT AS n_emails,
         |       len(regexp_extract_all(a, '$PhoneRe'))::BIGINT AS n_phones,
         |       len(regexp_extract_all(a, '$AcctRe'))::BIGINT AS n_accts,
         |       md5(regexp_replace(regexp_replace(regexp_replace(a,
         |           '$EmailRe', '<EMAIL>', 'g'),
         |           '$PhoneRe', '<PHONE>', 'g'),
         |           '$AcctRe', '<ACCT>', 'g')) AS redacted_hash
         |FROM aug
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "t10_sketch_cardinality" ->
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT text) AS exact_distinct_texts,
        |       TRUE AS hll_within_5pct
        |FROM documents GROUP BY source
        |ORDER BY source ASC NULLS FIRST""".stripMargin,

    "t01_language_id" ->
      """WITH bigrams AS (
        |  SELECT doc_id, lang,
        |         unnest(list_transform(generate_series(1, length(text)-1),
        |                i -> substring(text, i, 2))) AS bg
        |  FROM documents),
        |profile AS (
        |  SELECT * FROM (
        |    SELECT lang AS p_lang, bg, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY lang
        |             ORDER BY count(*) DESC, bg ASC) AS rk
        |    FROM bigrams WHERE doc_id % 5 <> 0 GROUP BY lang, bg)
        |  WHERE rk <= 20),
        |testbg AS (
        |  SELECT DISTINCT doc_id, lang, bg FROM bigrams WHERE doc_id % 5 = 0),
        |scored AS (
        |  SELECT doc_id, lang, p_lang, count(*) AS score
        |  FROM testbg JOIN profile USING (bg)
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, lang AS actual_lang, p_lang AS predicted_lang, score
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, p_lang ASC) AS rk FROM scored)
        |WHERE rk = 1
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "t02_quality_score" ->
      s"""WITH $scoreBaseCtesSql
         |SELECT doc_id, lang, n_words,
         |       word_chars / n_words AS mean_word_len,
         |       coalesce(stop_hits, 0) / n_words AS stop_ratio,
         |       $scoreExprSql AS quality_score
         |FROM base LEFT JOIN stophits USING (doc_id)
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "t03_token_counts" ->
      s"""SELECT doc_id, lang, source,
         |       len(regexp_split_to_array(text, '\\s+'))::BIGINT AS ws_tokens,
         |       len(regexp_extract_all(text, '$TokenRegex'))::BIGINT AS regex_tokens,
         |       ceil(length(text) / 4.0)::BIGINT AS est_bpe_tokens
         |FROM documents
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "t04_fingerprint" ->
      s"""WITH wins AS (
         |  SELECT doc_id,
         |         unnest(list_transform(generate_series(1, len(w)-3),
         |                i -> array_to_string(w[i:i+3], ' '))) AS win
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents)),
         |h AS (SELECT doc_id, ${h31Sql("win")} AS h FROM wins)
         |SELECT doc_id, min(h) AS fingerprint, count(*) AS n_windows,
         |       count(DISTINCT h) AS n_distinct_windows
         |FROM h GROUP BY doc_id
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "t05_hash_sample" ->
      s"""SELECT doc_id, lang, source, n_chars
         |FROM documents
         |WHERE ${h31Sql("text")} % 100 < $SamplePercent
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "t06_vocab" ->
      """WITH counts AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents)
        |  GROUP BY word),
        |top AS (SELECT word, freq FROM counts ORDER BY freq DESC, word ASC LIMIT 100),
        |tot AS (SELECT sum(freq)::BIGINT AS tot FROM counts),
        |ranked AS (
        |  SELECT a.word, a.freq, count(*) AS rank, sum(b.freq)::BIGINT AS cum
        |  FROM top a JOIN top b
        |    ON b.freq > a.freq OR (b.freq = a.freq AND b.word <= a.word)
        |  GROUP BY a.word, a.freq)
        |SELECT rank, word, freq, cum / tot AS cum_share
        |FROM ranked, tot
        |ORDER BY rank ASC NULLS FIRST""".stripMargin,

    "t07_stratified_sample" ->
      s"""WITH quota AS (
         |  SELECT min(n) AS q FROM (SELECT lang, count(*) AS n FROM documents GROUP BY 1)),
         |ranked AS (
         |  SELECT doc_id, lang, source,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY ${h31Sql("text")} ASC, doc_id ASC) AS rk
         |  FROM documents)
         |SELECT doc_id, lang, source
         |FROM ranked WHERE rk <= (SELECT q FROM quota)
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,

    "t08_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
        |ws AS (
        |  SELECT doc_id, max(c) AS max_word_freq, sum(c)::BIGINT AS n_words
        |  FROM wc GROUP BY 1),
        |tg AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(w) >= 3
        |           THEN list_transform(generate_series(1, len(w)-2),
        |                i -> array_to_string(w[i:i+2], ' '))
        |           ELSE [] END) AS tg
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents)),
        |ts AS (
        |  SELECT doc_id, count(*) AS n_trigrams,
        |         count(DISTINCT tg) AS n_distinct_trigrams
        |  FROM tg GROUP BY 1)
        |SELECT ws.doc_id, n_words,
        |       coalesce(n_trigrams, 0) AS n_trigrams,
        |       coalesce(n_distinct_trigrams, 0) AS n_distinct_trigrams,
        |       CASE WHEN n_trigrams > 0
        |            THEN 1.0::DOUBLE - n_distinct_trigrams / n_trigrams
        |            ELSE 0.0::DOUBLE END AS rep_ratio,
        |       max_word_freq / n_words AS top_word_share
        |FROM ws LEFT JOIN ts ON ws.doc_id = ts.doc_id
        |ORDER BY ws.doc_id ASC NULLS FIRST""".stripMargin,

    "t09_distinctive_terms" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT doc_id, word, tf, df, tf / df AS score
         |  FROM tf JOIN dfq USING (word)),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |           ORDER BY score DESC, word ASC) AS rk
         |  FROM scored)
         |SELECT doc_id, rk, word, tf, df, score
         |FROM ranked WHERE rk <= $DistinctiveK
         |ORDER BY doc_id ASC NULLS FIRST, rk ASC NULLS FIRST""".stripMargin
  )
}

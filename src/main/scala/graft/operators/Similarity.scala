package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.sources.{ArtifactFamily, ContentMemo}
import graft.operators.Dedup.{dotExpr, dotSql, normed, normedOf, normedSql}
import graft.plans.Scale

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * s01 is the exactness baseline: brute-force cosine top-k for a query
  * set. At 100 TB the query side stays small (it's a probe set) and the
  * corpus side is the big relation — the plan broadcasts the query set
  * and streams the corpus, so cost is one corpus scan per batch of
  * queries, no shuffle of the corpus itself.
  *
  * s02 is the scale path: sign-bit LSH (random-hyperplane LSH with
  * axis-aligned planes — deterministic, so the DuckDB oracle can mirror
  * it). Corpus and queries hash to buckets; the join is bucket-equi, so
  * a 1000-executor run shuffles each corpus vector once to its bucket
  * instead of comparing all pairs. Recall comes from the bucket width
  * (8 bits → 256 buckets); production would probe multiple tables.
  */
object Similarity {

  val TopK = 5
  val QuerySet = 10 // vec_id < 10 are the probe vectors

  /** Brute-force cosine top-k over ARBITRARY corpus and probe
    * (vec_id, embedding, label) frames — the exactness baseline every
    * bucketed ANN variant is measured against. Probes broadcast; a probe
    * whose vec_id also appears in the corpus never matches itself. */
  def annBruteforce(corpus: DataFrame, probes: DataFrame): DataFrame = {
    val v = normedOf(corpus)
    val q = normedOf(probes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val cos = expr(dotExpr.format("qe", "embedding")) / (col("qn") * col("nrm"))
    // two-phase rank: per-partition partial top-k before the per-query
    // window, so no reducer ever holds one query's full scored corpus
    val scored = broadcast(q).join(v, col("query_id") =!= col("vec_id"))
    Scale.twoPhaseTopKRanked(scored, col("query_id"),
        Seq(cos.desc, col("vec_id").asc), TopK, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("label").as("neighbor_label"), round(cos, 6).as("cosine"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  def s01AnnBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    // s01 is the ONE embeddings consumer that is genuinely map-only
    // (broadcast probes; dots + partial top-k fuse into the scan
    // stage), so a single-row-group corpus file pins ALL its work to
    // one task — the r14 embeddings-spread revert (PERF 14f.3) was
    // right for d05/s02/s03, which shuffle by cell/bucket right after
    // the load, but wrong here: ProbeS01 measured 8.7-12 s → 3.9 s
    // (digest identical) from spreading just this corpus side. The
    // probe side stays unspread (10 rows, broadcast).
    annBruteforce(Scale.spreadIfNarrow(emb), emb.where(col("vec_id") < QuerySet))
  }

  /** Sign-bit bucket of the first 8 dimensions. */
  private val BucketBits = 8
  private def bucketCol(e: String) = (0 until BucketBits)
    .map(j => when(element_at(col(e), j + 1) > 0f, 1L << j).otherwise(0L))
    .reduce(_ + _)
  private def bucketSql(e: String) = (0 until BucketBits)
    .map(j => s"CASE WHEN $e[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END")
    .mkString("(", " + ", ")")

  /** Sign-bit LSH-bucketed cosine top-k over ARBITRARY corpus and probe
    * frames — the bucket-equi scale path. */
  def annLshBuckets(corpus: DataFrame, probes: DataFrame): DataFrame = {
    val v = normedOf(corpus).withColumn("bucket", bucketCol("embedding"))
    val q = normedOf(probes).withColumn("bucket", bucketCol("embedding"))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("bucket"))
    val cos = expr(dotExpr.format("qe", "embedding")) / (col("qn") * col("nrm"))
    val scored = q.join(v, Seq("bucket"))
      .where(col("query_id") =!= col("vec_id"))
    Scale.twoPhaseTopKRanked(scored, col("query_id"),
        Seq(cos.desc, col("vec_id").asc), TopK, "rank")
      .select(col("query_id"), col("bucket"), col("vec_id").as("neighbor_id"),
        col("rank"), round(cos, 6).as("cosine"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  def s02AnnLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    annLshBuckets(emb, emb.where(col("vec_id") < QuerySet))
  }

  // ---------------------------------------------------------------------
  // s03 — IVF (inverted-file) ANN over TRAINED centroids: the corpus is
  // partitioned into K cells around k-means centroids fitted by a fixed
  // number of deterministic Lloyd iterations (below), then each query
  // searches only its nearest cell. At 100 TB this is the classic
  // two-level index: the centroid table broadcasts (K rows), cell
  // assignment is one map pass, and each probe touches 1/K of the corpus
  // via a cell-equi join.
  // ---------------------------------------------------------------------
  val IvfCells = 8
  val IvfIters = 2

  /** The measured IVF cost model (ProbeSemK, PERF.md r11 11c): the
    * Σ cell² sweep falls ~n²/k while assignment rises ~n·k·dim, with the
    * optimum near ONE CELL PER ~3,125 VECTORS at 200k vectors (k=64:
    * 24.6 s vs 107.1 s at the k=8 floor). [[ivfKFor]] encodes that rule
    * so every dir-keyed IVF query carries a corpus-sized k, and
    * [[oracleSqlFor]] regenerates the DuckDB mirrors at the SAME k (the
    * d04 adaptive-oracle pattern) — closing the r11 gap where fixtures
    * pinned k=8 at every scale just to keep static mirrors valid. All
    * driver sfs (≤20k vectors) land on the [[IvfCells]] floor, so
    * fixture results and bench history are unchanged. */
  val IvfTargetCell = 3125L

  /** Power-of-two cell count for an n-vector corpus:
    * 2^round(log2(n / [[IvfTargetCell]])), floored at [[IvfCells]] and
    * capped at 4096 (the one-row centroid broadcast stays ≈2 MB at
    * 64 dims; a >12M-vector corpus should shard before growing k past
    * the cap). */
  def ivfKFor(n: Long): Int = {
    val raw = n.toDouble / IvfTargetCell
    if (raw <= IvfCells) IvfCells
    // clamp the EXPONENT before shifting: 4096 = 2^12, and an Int shift
    // past 31 wraps mod 32 (n ≳ 5e12 would otherwise produce a k below
    // the floor or negative, silently bypassing both bounds)
    else 1 << math.min(12L, math.round(math.log(raw) / math.log(2.0))).toInt
  }

  /** Row count of `dir`'s embeddings, probed once per content state of
    * the table ([[graft.Tables.rowCount]]). */
  private[graft] def vecCount(spark: SparkSession, dir: String): Long =
    graft.Tables.rowCount(spark, dir, "embeddings")

  /** The cell count every dir-keyed IVF query (and its oracle mirror)
    * uses for `dir`. */
  private[graft] def ivfK(spark: SparkSession, dir: String): Int =
    ivfKFor(vecCount(spark, dir))

  /** Double-precision fold dot for mixed float-array × double-array
    * inputs (centroid distances): identical left-to-right IEEE summation
    * to [[dotSql]]'s list_reduce, so training is oracle-mirrorable.
    * Codegen'd (graft_dot_fd) since r11: "corpus×K rows" stops being off
    * the hot path once K grows with the corpus — at 200k vectors × k=64
    * the interpreted aggregate(zip_with(...)) fold owned the training
    * stage (ProbeSemK thread dumps showed ZipWith.eval inside the
    * assignment sort projection). */
  private def ddotMixed(fa: String, da: String): String =
    s"graft_dot_fd($fa, $da)"

  /** k-means centroids trained with [[IvfIters]] deterministic Lloyd
    * iterations: seeded from the first K vectors (cast to double), each
    * round reassigns every vector to its argmax-cosine centroid
    * (tiebreak cent_id asc) and recomputes cell means on the exact
    * integer 1e-9 grid (the s04 quantization contract — floor(x·1e9)
    * summed in DECIMAL(38,0), one double cast at the end), so both
    * engines produce bit-identical centroids and the DuckDB oracle
    * unrolls the loop CTE-for-CTE. A cell that loses every member
    * vanishes — deterministically on both engines. Scale: each round is
    * one broadcast-assign map pass plus one (cell, dim) partial
    * aggregate; nothing is corpus-quadratic, and the fixed unrolled
    * iteration count keeps plan depth constant (no checkpoint needed). */
  /** Iteration-0 centroids: the first K vectors, cast to double arrays —
    * the deterministic seed Lloyd refines (and the spec's untrained
    * baseline). */
  private[graft] def seedCentroids(spark: SparkSession, dir: String): DataFrame =
    seedCentroidsOf(normed(spark, dir), ivfK(spark, dir))

  private def seedCentroidsOf(v: DataFrame, k: Int = IvfCells): DataFrame =
    v.where(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("ce"))
      .withColumn("cn", sqrt(expr(ddot("ce", "ce"))))

  /** The spherical k-means objective under a centroid set: mean over the
    * corpus of each vector's best cosine to any centroid. What Lloyd
    * training exists to increase; OperatorSemanticsSpec asserts trained >
    * seed (measured 0.187 → 0.255 at sf0.001, monotone per iteration at
    * every sf — see PERF.md). */
  private[graft] def ivfObjective(spark: SparkSession, dir: String, cents: DataFrame): Double = {
    val v = normed(spark, dir)
    v.join(broadcast(cents))
      .select(col("vec_id"),
        (expr(ddotMixed("embedding", "ce")) / (col("nrm") * col("cn"))).as("cc"))
      .groupBy(col("vec_id")).agg(max(col("cc")).as("m"))
      .agg(avg(col("m"))).first().getDouble(0)
  }

  private val Emb = Seq("embeddings")

  /** Trained IVF centroids, served as a PERSISTED CATALOG ARTIFACT: an
    * IVF deployment builds its index ONCE per corpus and serves every
    * query — in this session or any later one; the artifact outlives the
    * JVM — from the K-row parquet table (kilobytes; each consumer
    * broadcasts it). Results are identical to retraining because the
    * Lloyd loop is deterministic (exact integer-grid means, fixed
    * iteration count) and doubles round-trip parquet bit-exactly. Keyed
    * by the corpus AND the (unrolled, lazy) training plan, so a changed
    * K, iteration count, or seed rule can never serve a stale index.
    * Not append-refreshed: an append re-keys it, and the first serve of
    * the new state retrains. */
  private[graft] lazy val Centroids: ArtifactFamily = new ArtifactFamily("cents", Emb,
    defining = computeTrainedCentroids)()

  private def computeTrainedCentroids(spark: SparkSession, dir: String): DataFrame =
    computeTrainedCentroidsOf(normed(spark, dir), ivfK(spark, dir))

  /** Train IVF centroids over ANY (vec_id, embedding, label) frame —
    * the DataFrame-in trainer. Pair with
    * [[graft.sources.Artifacts.servePersisted]] for the
    * build-once-serve-many deployment shape on your own table.
    *
    * `k` is the deployment's scale knob: the SemDeDup / IVF contract is
    * that cell population stays BOUNDED as the corpus grows (grow k ∝ n
    * so the Σ cell² sweep and per-probe scan cost stay linear per
    * decade). The dir-keyed fixture queries pin k = [[IvfCells]] so the
    * static DuckDB oracle mirrors reproduce them; a deployment growing
    * its corpus passes its own k here. */
  def trainCentroids(corpus: DataFrame, k: Int = IvfCells,
      iters: Int = IvfIters): DataFrame =
    computeTrainedCentroidsOf(normedOf(corpus), k, iters)

  private def computeTrainedCentroidsOf(v: DataFrame, k: Int = IvfCells,
      iters: Int = IvfIters): DataFrame = {
    var cents = seedCentroidsOf(v, k)
    (1 to iters).foreach { _ =>
      // Assignment is a map pass over a ONE-ROW broadcast of the whole
      // centroid set (array-aggregated), argmaxed per vector by the same
      // (cosine desc, cent_id asc) total order the former
      // broadcast-join + vec_id-window form ranked by — bit-identical,
      // but nothing shuffles before the (cent_id, dim) partial
      // aggregate. The former window hash-shuffled n×k rows carrying
      // BOTH arrays and spilled at corpus-sized k (ProbeSemK r11, 200k
      // vectors × k=256: UnsafeSorter spill files in the thread dumps).
      // collect_list's nondeterministic order is harmless: the argmax
      // comparator is a total order (ties on cent_id), so the result is
      // independent of array order. Stays LAZY (no driver fetch of an
      // intermediate centroid frame), so the served-artifact key keeps
      // hashing the training DERIVATION, and training never executes
      // during artifact-name computation.
      val centsArr = cents
        .agg(collect_list(struct(col("cent_id"), col("ce"), col("cn"))).as("ca"))
      val assigned = v.crossJoin(broadcast(centsArr))
        .select(
          expr("element_at(ca, graft_cell_top1(embedding, nrm, ca)).cent_id")
            .as("cent_id"),
          col("embedding"))
      cents = assigned
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("dim0", "x")))
        .groupBy(col("cent_id"), col("dim0"))
        .agg((sum(floor(col("x").cast(DoubleType) * lit(1e9)).cast(DecimalType(38, 0)))
          .cast(DoubleType) / count(lit(1)) / lit(1e9)).as("c"))
        .groupBy(col("cent_id"))
        .agg(expr("transform(array_sort(collect_list(struct(dim0, c))), s -> s.c)").as("ce"))
        .withColumn("cn", sqrt(expr(ddot("ce", "ce"))))
    }
    cents
  }

  /** The k-row centroid table fetched to the driver, sorted by cent_id —
    * the index is kilobytes, and inlining it as a literal makes cell
    * assignment a MAP-ONLY pass. The alternative (broadcast join + a
    * row_number window partitioned by vec_id) hash-shuffled n×k rows at
    * every consumer: at 200k vectors × k=64 the ProbeSemK study measured
    * that shuffle DOMINATING the Σ cell² sweep it feeds (214 s vs the
    * 7× smaller intrinsic pair work) — the assignment, not the sweep,
    * was the scale ceiling of the whole IVF family. */
  private def collectCents(cents: DataFrame): Cents =
    cents.select(col("cent_id").cast("long"), col("ce"), col("cn")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
      .sortBy(_._1)

  /** (cent_id, centroid, norm) rows sorted by cent_id. */
  type Cents = Seq[(Long, Seq[Double], Double)]

  /** [[collectCents]] of `dir`'s served [[Centroids]] table, fetched once
    * per table name. The name carries the corpus content key and only
    * the training build writes under it, so one name always holds the
    * same rows. */
  private def servedCents(spark: SparkSession, dir: String): Cents = {
    val cents = Centroids.serve(spark, dir)
    centsMemo.at(Centroids.kind, dir, Centroids.name(spark, dir))(collectCents(cents))
  }

  private val centsMemo = new ContentMemo[Cents]

  /** cr = 1 only — the common case (every corpus-side consumer): the
    * codegen'd graft_cell_top1 argmax picks the home cell in one native
    * loop, no per-centroid struct allocation (which dominated at
    * corpus-sized k), no explode. Same schema as
    * `cellRankedLit(...).where(cr === 1)` and bit-identical content. */
  private def cellTop1Lit(v: DataFrame, cl: Cents): DataFrame = {
    val vCols = v.columns.toSeq
    v.withColumn("__cents", typedlit(cl))
      .withColumn("__best",
        expr("element_at(__cents, graft_cell_top1(embedding, nrm, __cents))"))
      .select(vCols.map(col) ++ Seq(col("__best._1").as("cent_id"),
        col("__best._2").as("ce"), col("__best._3").as("cn"),
        lit(1).as("cr")): _*)
  }

  /** Full ranking (cr = 1..k) for the multi-probe side: per row the
    * literal centroid array is scored with the same fold and argsorted
    * by (cosine desc, cent_id asc) — bit-identical to the former
    * broadcast-join + vec_id-window form, with zero exchanges. Output
    * schema matches the old join form: v.* ++ (cent_id, ce, cn) ++ cr.
    * Probe frames only (small); corpus-side consumers take
    * [[cellTop1Lit]], which skips the per-centroid struct churn. */
  private def cellRankedLit(v: DataFrame, cl: Cents): DataFrame = {
    val vCols = v.columns.toSeq
    v.withColumn("__cents", typedlit(cl))
      .withColumn("__ranked", expr(
        """array_sort(
          |  transform(__cents, c -> struct(
          |    graft_dot_fd(embedding, c._2) / (nrm * c._3) AS cc,
          |    c._1 AS cent_id, c._2 AS ce, c._3 AS cn)),
          |  (a, b) -> CASE WHEN a.cc > b.cc THEN -1 WHEN a.cc < b.cc THEN 1
          |                 WHEN a.cent_id < b.cent_id THEN -1
          |                 WHEN a.cent_id > b.cent_id THEN 1 ELSE 0 END)"""
          .stripMargin.replace("\n", " ")))
      .select(vCols.map(col) :+ posexplode(col("__ranked")): _*)
      .select(vCols.map(col) ++ Seq(col("col.cent_id").as("cent_id"),
        col("col.ce").as("ce"), col("col.cn").as("cn"),
        (col("pos") + 1).cast("int").as("cr")): _*)
  }

  /** IVF ANN over ARBITRARY corpus/probe frames and a given set of
    * centroid rows ([[trainedCents]] or a served artifact, collected
    * once for both sides): corpus rows live in their home
    * cell; each probe searches only its own home cell via a cell-equi
    * join. */
  def annIvf(corpus: DataFrame, probes: DataFrame, cl: Cents): DataFrame = {
    val assigned = cellTop1Lit(normedOf(corpus), cl)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("label"),
        col("cent_id").as("cell"))
    val q = cellTop1Lit(normedOf(probes), cl)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("cent_id").as("cell"))
    val cos = expr(dotExpr.format("qe", "embedding")) / (col("qn") * col("nrm"))
    val scored = q.join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
    Scale.twoPhaseTopKRanked(scored, col("query_id"),
        Seq(cos.desc, col("vec_id").asc), TopK, "rank")
      .select(col("query_id"), col("cell"), col("vec_id").as("neighbor_id"),
        col("rank"), round(cos, 6).as("cosine"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** The `k` centroid rows [[trainCentroids]] trains over `corpus`. */
  def trainedCents(corpus: DataFrame, k: Int = IvfCells): Cents =
    collectCents(trainCentroids(corpus, k))

  def s03AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    annIvf(emb, emb.where(col("vec_id") < QuerySet), servedCents(spark, dir))
  }

  // ---------------------------------------------------------------------
  // s05 — IVF with multi-probe (nprobe = 2): identical index to s03, but
  // each query searches its TWO nearest cells instead of one — the
  // standard IVF recall knob. The corpus is still assigned to exactly one
  // cell (so a neighbor cannot appear twice), the probe side just fans
  // out to 2 rows per query; cost is 2/K of the corpus per probe instead
  // of 1/K. Per query, the candidate pool is a superset of s03's (the
  // first probe cell IS s03's cell), so recall vs the exact s01 truth can
  // only improve — OperatorSemanticsSpec asserts that monotonicity.
  // ---------------------------------------------------------------------
  val NProbe = 2

  /** Multi-probe IVF ANN over ARBITRARY corpus/probe frames and a given
    * set of centroid rows: each probe fans out to its `nprobe` nearest
    * cells; the corpus stays singly-assigned, so a neighbor can't repeat. */
  def annIvfMultiprobe(corpus: DataFrame, probes: DataFrame, cl: Cents,
      nprobe: Int = NProbe): DataFrame = {
    val assigned = cellTop1Lit(normedOf(corpus), cl)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("label"),
        col("cent_id").as("cell"))
    val qprobe = cellRankedLit(normedOf(probes), cl).where(col("cr") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("cent_id").as("cell"))
    val cos = expr(dotExpr.format("qe", "embedding")) / (col("qn") * col("nrm"))
    val scored = qprobe.join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
    Scale.twoPhaseTopKRanked(scored, col("query_id"),
        Seq(cos.desc, col("vec_id").asc), TopK, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), round(cos, 6).as("cosine"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  def s05AnnIvfMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    annIvfMultiprobe(emb, emb.where(col("vec_id") < QuerySet),
      servedCents(spark, dir))
  }

  // ---------------------------------------------------------------------
  // s07 — IVF cell audit: per-cell population and mean cosine to the
  // trained centroid — the index-quality report a production ANN
  // deployment watches (skewed cells → probe-cost imbalance; low mean
  // cosine → loose cells). Gives the Lloyd TRAINING itself a
  // driver-visible oracle row: every centroid value, assignment, and
  // statistic is recomputed by DuckDB through the same unrolled CTEs.
  // The per-cell cosine total accumulates floor(cos·1e9) integers
  // (DECIMAL(38,0)), so the mean is order-independent and bit-identical
  // cross-engine — the s04 quantization contract again.
  // ---------------------------------------------------------------------
  /** Per-cell population and mean cosine of ANY (vec_id, embedding,
    * label) corpus under the centroid rows `cl`. */
  private[graft] def ivfCellStats(corpus: DataFrame, cl: Cents): DataFrame = {
    val cos = expr(ddotMixed("embedding", "ce")) / (col("nrm") * col("cn"))
    cellTop1Lit(normedOf(corpus), cl)
      .where(col("cr") === 1)
      .select(col("cent_id").as("cell"),
        floor(cos * lit(1e9)).cast(DecimalType(38, 0)).as("qcos"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        (sum(col("qcos")).cast(DoubleType) / count(lit(1)) / lit(1e9)).as("mean_cosine"))
      .orderBy(col("cell").asc)
  }

  def s07IvfCellStats(spark: SparkSession, dir: String): DataFrame =
    ivfCellStats(graft.Tables.load(spark, dir, "embeddings"), servedCents(spark, dir))

  // ---------------------------------------------------------------------
  // s08 — cross-modal dedup audit: every LEXICAL near-dup pair (the
  // exact-verified LSH edge set d08/d09 cluster on) scored by the
  // EMBEDDING cosine of the two docs' vectors — the "does my embedding
  // space see the duplication my shingles see" check that gates a
  // SemDeDup-style semantic-dedup rollout (if lexical dups don't sit
  // near each other in embedding space, no cosine threshold can be
  // trusted to find them). The pair set comes from the bucketed LSH
  // machinery (never all-pairs); the vector lookups are two equi-joins
  // on the shared doc/vec id domain.
  // ---------------------------------------------------------------------
  /** The audit over ANY (doc_a, doc_b) pair set and (vec_id, embedding,
    * label) corpus sharing one id domain. */
  private[graft] def crossmodalAudit(edges: DataFrame, corpus: DataFrame): DataFrame = {
    val v = normedOf(corpus)
    val cos = expr(dotExpr.format("ea", "eb")) / (col("na") * col("nb"))
    edges
      .join(v.select(col("vec_id").as("doc_a"), col("embedding").as("ea"),
        col("nrm").as("na"), col("label").as("label_a")), Seq("doc_a"))
      .join(v.select(col("vec_id").as("doc_b"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("label").as("label_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("label_a"), col("label_b"),
        round(cos, 6).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_a").asc, col("doc_b").asc)
  }

  // r14: the pair set is the PERSISTED edge artifact (shared with the d08
  // label build), not a per-query re-derivation — s08's cost no longer
  // depends on which d-family caches happen to be resident
  def s08CrossmodalAudit(spark: SparkSession, dir: String): DataFrame =
    crossmodalAudit(Dedup.Edges.serve(spark, dir), graft.Tables.load(spark, dir, "embeddings"))

  // ---------------------------------------------------------------------
  // s04 — label-centroid outliers: per-label mean vector, then each
  // vector's squared distance to its own centroid; top-20 farthest are
  // the mislabeled/outlier candidates (embedding-quality audit). The
  // per-(label,dim) component sum accumulates components quantized to an
  // integer 1e-9 grid — floor(v·1e9) is the identical IEEE multiply+floor
  // on both engines, and the integer sum (DECIMAL(38,0) accumulator, no
  // 64-bit overflow at any corpus size) is exact and order-independent,
  // so partial/final aggregation layout cannot change the result. ONE
  // double cast at the end. Bounded memory: a plain partial-aggregated
  // sum, never a per-group collected array (the previous
  // collect_list+sorted-fold form held every vector of a label in one
  // task — unbounded at corpus scale). The 1e-9 centroid quantization is
  // the documented contract (embeddings are float32 — ~7 significant
  // digits — so the grid is below input precision anyway).
  // ---------------------------------------------------------------------
  val OutlierTopK = 20

  /** Per-label centroid as a sorted double array (integer-grid exact sums
    * — see the s04 note). One partial-aggregated shuffle on (label, dim);
    * the collect_list is bounded by the embedding DIMENSION, not by
    * vectors per label. Shared by s04 (outlier distances) and s06
    * (label-affinity matrix). */
  private def centroidArr(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.load(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim0", "v")))
      .groupBy(col("label"), col("dim0"))
      .agg((sum(floor(col("v").cast(DoubleType) * lit(1e9)).cast(DecimalType(38, 0)))
        .cast(DoubleType) / count(lit(1)) / lit(1e9)).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim0, c))), s -> s.c)").as("cent"))

  def s04CentroidOutliers(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val d2 = expr(
      """aggregate(zip_with(embedding, cent,
        |          (x, y) -> (cast(x AS double) - y) * (cast(x AS double) - y)),
        |cast(0.0 AS double), (acc, q) -> acc + q)""".stripMargin.replace("\n", " "))
    emb.join(centroidArr(spark, dir), Seq("label"))
      .select(col("vec_id"), col("label"), d2.as("dist2"))
      .orderBy(col("dist2").desc, col("vec_id").asc)
      .limit(OutlierTopK)
  }

  // ---------------------------------------------------------------------
  // s06 — label-affinity matrix: cosine similarity between every pair of
  // label centroids (the "which classes/domains are embedding-near"
  // audit that guides mixture weights and contamination checks). The
  // centroid build is the same exact integer-grid aggregation as s04;
  // the matrix itself is an L×L broadcast theta-join over L centroid
  // rows — L is bounded (a label set), so this costs nothing at any
  // corpus size. The double-array dot uses the built-in fold: this is
  // OFF the hot path (L² evaluations total), where graft_dot's codegen
  // only matters for per-pair corpus work.
  // ---------------------------------------------------------------------
  private def ddot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0.0 AS double), (acc, q) -> acc + q)"

  def s06LabelAffinity(spark: SparkSession, dir: String): DataFrame = {
    // persisted: both join sides read it, and unpersisted the corpus-wide
    // explode+aggregate behind it would run twice (the t09 lesson);
    // norms hoisted to one per label (the normed() convention) instead of
    // recomputed inside the L² pair rows
    val centArr = centroidArr(spark, dir)
      .withColumn("nrm", sqrt(expr(ddot("cent", "cent"))))
      .transform(graft.operators.Dedup.persistOnce)
    val a = centArr.select(col("label").as("label_a"), col("cent").as("ca"),
      col("nrm").as("na"))
    val b = centArr.select(col("label").as("label_b"), col("cent").as("cb"),
      col("nrm").as("nb"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        (expr(ddot("ca", "cb")) / (col("na") * col("nb"))).as("cosine"))
      .orderBy(col("label_a").asc, col("label_b").asc)
  }

  // ---------------------------------------------------------------------
  // s09 — kNN graph over LSH buckets: every corpus vector's top-3 cosine
  // neighbors WITHIN its sign-bit bucket — the graph build behind
  // SemDeDup-style semantic dedup and graph-based diversity sampling.
  // Unlike s01/s02 (a bounded probe set), the probe side here is the
  // whole corpus, so the all-pairs form is corpus-quadratic and banned;
  // the bucket-equi self-join touches only within-bucket pairs (expected
  // n²/B per bucket), and the two-phase rank keeps any one reducer's
  // window bounded by a single vector's bucket matches. Vectors alone in
  // their bucket yield no edges — the documented LSH recall trade, same
  // as s02 (production would union multiple hash tables to close it).
  // The finished edge set is served as a persisted catalog artifact
  // ([[KnnGraph]]): s09 and s11 are two consumers of one build.
  // ---------------------------------------------------------------------
  val KnnK = 3

  /** The ranked kNN edge rows (no global order) — the artifact body the
    * bucket-equi build produces and [[KnnGraph]] persists. */
  private[graft] def knnGraphRanked(spark: SparkSession, dir: String): DataFrame = {
    val v = normed(spark, dir).withColumn("bucket", bucketCol("embedding"))
    val q = v.select(col("vec_id"), col("embedding").as("qe"),
      col("nrm").as("qn"), col("bucket"))
    val cos = expr(dotExpr.format("qe", "embedding")) / (col("qn") * col("nrm"))
    // the in-bucket pairing is quadratic in bucket size, so a skewed
    // corpus (hot sources → hot sign-bit cells) must not land one cell's
    // n² work on one reducer: the adaptive cell join splits hot cells
    // across tasks with an identical pair set (r9 sf1skew measurement:
    // 71.6 s → see PERF.md round-10 addendum)
    // score each pair ONCE and project the embeddings away BEFORE the
    // two-phase rank: the ranking windows sort/shuffle every surviving
    // pair row, and carrying two 64-float arrays through those sorts
    // (plus re-deriving the dot in the final projection) made the pair
    // stream ~14× wider than the (ids, label, cosine) tuple it needs
    val scored = graft.plans.Scale.adaptiveSaltedCellJoin(
        q,
        v.select(col("vec_id").as("neighbor_id"), col("embedding"),
          col("nrm"), col("label").as("neighbor_label"), col("bucket")),
        "bucket")
      .where(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"), col("neighbor_label"),
        cos.as("cosine"))
    Scale.twoPhaseTopKRanked(scored, col("vec_id"),
        Seq(col("cosine").desc, col("neighbor_id").asc), KnnK, "rank")
      .select(col("vec_id"), col("neighbor_id"), col("rank"),
        col("neighbor_label"), round(col("cosine"), 6).as("cosine"))
  }

  /** The kNN graph as a PERSISTED CATALOG ARTIFACT — the edge set is
    * index state exactly like the IVF centroids and s12's verdicts: the
    * bucketed pair sweep runs ONCE per corpus and every consumer (s09's
    * presentation, s11's components, any later session) pays a table
    * scan. Keyed by corpus dir + content fingerprint + the semantic
    * hash of the defining plan, so a changed K / bucket rule / salt
    * scheme can never serve stale edges. Columns round-trip exactly
    * (ids, a label string, and a round(·,6) double — parquet stores the
    * double bit-identically), so serve ≡ rebuild row-for-row. */
  private[graft] lazy val KnnGraph: ArtifactFamily = new ArtifactFamily("knng", Emb,
    defining = knnGraphRanked)()

  def s09KnnGraph(spark: SparkSession, dir: String): DataFrame =
    KnnGraph.serve(spark, dir)
      .orderBy(col("vec_id").asc, col("rank").asc)

  // ---------------------------------------------------------------------
  // s10 — ANN recall audit: per query, how many of the exact brute-force
  // top-k (s01, the ground truth) the IVF index (s03) actually returned
  // — THE quality metric an ANN deployment monitors, and the number that
  // justifies every approximate index ("95% recall at 1/K the cost").
  // Composes the two existing chains and joins their (query, neighbor)
  // sets; the probe set is small by contract (s01's broadcast argument),
  // so the audit costs one corpus scan per side plus a probe-sized join.
  // The trained-centroid cache serves the IVF side — same artifact every
  // other index consumer reads.
  // ---------------------------------------------------------------------
  /** Per-query recall of an `approx` (query_id, neighbor_id) result
    * against the exact `truth` one. */
  private[graft] def annRecall(truth: DataFrame, approx: DataFrame): DataFrame = {
    val t = truth.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id").as("a_q"), col("neighbor_id").as("a_n"))
    val hits = t
      .join(a, col("query_id") === col("a_q") && col("neighbor_id") === col("a_n"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    t.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) / col("k")).as("recall"))
      .orderBy(col("query_id").asc)
  }

  def s10AnnRecall(spark: SparkSession, dir: String): DataFrame =
    annRecall(s01AnnBruteforce(spark, dir), s03AnnIvf(spark, dir))

  // ---------------------------------------------------------------------
  // s11 — connected components over the mutualized kNN graph: s09's
  // bucket-local top-k edges, undirected, clustered by the same
  // min-label propagation d06/d08 use — embedding-space community
  // detection (semantic dedup at the cluster grain, the grouping a
  // diversity-aware sampler consumes). Reuses the engine's two scale
  // primitives end-to-end: the kNN build is bucket-equi (never
  // all-pairs) and the propagation loop is O(diameter) checkpointed
  // rounds over only the docs that touch an edge. The DuckDB oracle
  // rebuilds the identical graph and clusters it with a recursive CTE.
  // ---------------------------------------------------------------------
  /** Component labels over the kNN graph — keyed like d08's labels: by
    * the corpus and the semantic hash of the EDGE derivation (the loop
    * itself is imperative and has no single defining plan), so a
    * changed K / bucket rule / threshold can never serve stale
    * components. Built from the served [[KnnGraph]] (the d08 pattern):
    * a second components run, or one after an s09 in the same session,
    * starts from a parquet scan instead of re-paying the bucketed pair
    * sweep. */
  private[graft] lazy val KnnLabels: ArtifactFamily = new ArtifactFamily("knnl", Emb,
    defining = knnGraphRanked)(
    build = (spark, dir) => knnLabelsOf(KnnGraph.serve(spark, dir)))

  /** Component labels of a kNN edge frame, edges taken undirected. */
  private[graft] def knnLabelsOf(graph: DataFrame): DataFrame =
    Dedup.minLabelComponents(graph
      .select(least(col("vec_id"), col("neighbor_id")).as("doc_a"),
        greatest(col("vec_id"), col("neighbor_id")).as("doc_b"))
      .distinct())

  /** s11's presentation of a (doc_id, label) component table. */
  private[graft] def knnComponents(labels: DataFrame): DataFrame =
    Dedup.clusterOutput(labels)
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        col("cluster_size"), col("is_keeper"))
      .orderBy(col("cluster_id").asc, col("vec_id").asc)

  def s11KnnComponents(spark: SparkSession, dir: String): DataFrame =
    knnComponents(KnnLabels.serve(spark, dir))

  // ---------------------------------------------------------------------
  // s12 — SemDeDup semantic pruning: within each trained IVF cell, a
  // vector is PRUNED when a lower-id cellmate sits within cosine ≥
  // SemTau of it (keeper = the smallest such cellmate id) — the
  // published SemDeDup recipe (Abbas et al. 2023: k-means-cluster the
  // corpus, pairwise-compare only inside each cluster, keep one vector
  // per ε-ball). The within-cell pair join is the algorithm's actual
  // contract, not a shortcut: cost is Σ cell², and a deployment grows K
  // with the corpus so cells stay bounded — never corpus-quadratic.
  // Cross-cell near-dups are the documented recall trade (the same one
  // s02/s09 accept), and the s08 crossmodal audit is the gate that
  // justifies the threshold. Serves from the cached index build; the
  // keep-lowest rule makes the output deterministic and
  // layout-independent (no dependence on comparison order), so the
  // DuckDB oracle reproduces the prune set exactly.
  // ---------------------------------------------------------------------
  val SemTau = 0.4

  /** s12 SERVES the persisted verdict artifact (the s08/edges pattern,
    * r15): the Σ cell² sweep is index state — it runs once per corpus
    * via [[SemVerdicts]] and every later read (s12 itself, s13, the
    * next JVM) pays one table scan. Measured at sf10full: the sweep
    * burns ~190 s of executor CPU per derivation (ProbeStages, PERF
    * 15d); serving drops s12's steady state from 22.8 s to a scan.
    * Values are identical — the artifact's columns are exact (ids + a
    * status string), and [[s12Derive]]'s keep-lowest rule is
    * deterministic — only the plan changes. PlanSpec pins both: the
    * serve path reads `semv_*` with no pair machinery; the derivation
    * body stays cell-equi, never cartesian. */
  def s12Semdedup(spark: SparkSession, dir: String): DataFrame =
    SemVerdicts.serve(spark, dir)
      .select(col("vec_id"), col("cell"), col("status"), col("kept_by"))
      .orderBy(col("vec_id").asc)

  /** The SemDeDup DERIVATION body — what [[SemVerdicts]] materializes
    * once per corpus state. */
  private[graft] def s12Derive(spark: SparkSession, dir: String): DataFrame =
    semDedup(graft.Tables.load(spark, dir, "embeddings"), servedCents(spark, dir))

  /** SemDeDup verdicts over ANY (vec_id, embedding, label) corpus under
    * the centroid rows `cl`. */
  private[graft] def semDedup(corpus: DataFrame, cl: Cents): DataFrame =
    semDedupFromAssigned(Dedup.persistOnce(cellTop1Lit(normedOf(corpus), cl)
      .where(col("cr") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cent_id").as("cell"))))

  private def semDedupFromAssigned(assigned: DataFrame): DataFrame = {
    // `assigned`: one row per vec; PERSISTED because three plan
    // references consume it (both sides of the pair sweep + the verdict
    // join) — unpersisted it re-ran the centroid broadcast + double
    // window per reference, and under s13's extra join the re-runs
    // compounded (r11 sf10 study: s13 at 359 s vs s12's 8.5 s on the
    // same corpus).
    // The pair sweep is the SALTED cell-equi join, not a plain self-join
    // on `cell`: cell cardinality is ~the label count (8-10), so a plain
    // equi-join lands every pair in ≤10 of the shuffle partitions and
    // SortMergeJoin buffers each cell's whole population per key group —
    // the d05 lesson (PERF.md r9) applied to the within-cell sweep. The
    // salted form spreads cell×cell blocks over n²/targetPairs slices,
    // with the cosine fused into the codegen'd probe stage.
    val va = assigned.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("nrm").as("na"), col("cell"))
    val vb = assigned.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nb"), col("cell"))
    val cos = expr(dotExpr.format("ea", "eb")) / (col("na") * col("nb"))
    val pruned = graft.plans.Scale.adaptiveSaltedCellJoin(va, vb, "cell")
      .where(col("vec_a") < col("vec_b") && cos >= SemTau)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("kept_by"))
    assigned.select(col("vec_id"), col("cell"))
      .join(pruned, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"),
        when(col("kept_by").isNotNull, "pruned").otherwise("kept").as("status"),
        col("kept_by"))
      .orderBy(col("vec_id").asc)
  }

  // ---------------------------------------------------------------------
  // s13 — semantic-dedup APPLY: the embedding corpus that survives s12's
  // SemDeDup pruning, with each survivor's home cell and label — the
  // d09-for-embeddings last mile (s12 decides, this materializes the
  // served corpus). One doc-keyed filter over the s12 verdicts plus a
  // vec_id-equi label join; serves from the same cached index build.
  // ---------------------------------------------------------------------
  /** s12's verdict frame as a PERSISTED CATALOG ARTIFACT — the SemDeDup
    * prune set is index state exactly like d08's cluster labels: the
    * Σ cell² sweep runs ONCE per corpus and every consumer (s13 now; any
    * later reader, in this session or the next JVM) pays a table scan.
    * Keyed by corpus dir + content fingerprint + the semantic hash of
    * the defining plan, so a changed tau / K / centroid rule can never
    * serve stale verdicts. Columns are exact (ids + a status string — no
    * floats), so the parquet round-trip is bit-identical to recompute.
    *
    * The defining plan is [[s12Derive]] with the centroids left as their
    * training plan (the [[Centroids]] key plan) instead of the served
    * rows: naming semv then trains nothing, and a changed K, iteration
    * count or seed rule still moves its key. */
  private[graft] lazy val SemVerdicts: ArtifactFamily = new ArtifactFamily("semv", Emb,
    defining = (spark, dir) => {
      val ca = Centroids.defining(spark, dir)
        .agg(collect_list(struct(col("cent_id"), col("ce"), col("cn"))).as("ca"))
      semDedupFromAssigned(normed(spark, dir).crossJoin(ca).select(col("vec_id"),
        col("embedding"), col("nrm"),
        expr("element_at(ca, graft_cell_top1(embedding, nrm, ca)).cent_id").as("cell")))
    })(
    build = (spark, dir) => s12Derive(spark, dir))

  /** The corpus rows SemDeDup `verdicts` keep, with their cell. */
  private[graft] def semanticApply(verdicts: DataFrame, corpus: DataFrame): DataFrame =
    verdicts.where(col("status") === "kept").select(col("vec_id"), col("cell"))
      .join(corpus.select(col("vec_id"), col("label")), Seq("vec_id"))
      .orderBy(col("vec_id").asc)

  def s13SemanticApply(spark: SparkSession, dir: String): DataFrame =
    semanticApply(SemVerdicts.serve(spark, dir), graft.Tables.load(spark, dir, "embeddings"))

  // ---------------------------------------------------------------------
  // s14 — embedding drift audit: per label, the L2 distance between the
  // centroids of two corpus slices (vec_id parity stands in for "old
  // embedding batch vs re-embedded batch") — the monitor a deployment
  // watches after swapping the embedding model or ingesting a new crawl:
  // labels whose centroid moved are the ones whose ANN cells / SemDeDup
  // ε-balls need rebuilding. Numerics follow s04's contract end-to-end:
  // per-slice centroids from exact integer-grid sums, the distance a
  // single ordered fold per OUTPUT row (L rows total) — no fp summation
  // whose order an engine could choose. Scale: two partial-aggregated
  // shuffles on (label, dim) — each slice of the corpus is read once —
  // and an L-row broadcast join.
  // ---------------------------------------------------------------------
  private def labelCentroids(slice: DataFrame, centCol: String, nCol: String): DataFrame =
    slice
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim0", "v")))
      .groupBy(col("label"), col("dim0"))
      .agg((sum(floor(col("v").cast(DoubleType) * lit(1e9)).cast(DecimalType(38, 0)))
        .cast(DoubleType) / count(lit(1)) / lit(1e9)).as("c"),
        count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim0, c))), s -> s.c)")
        .as(centCol), max(col("n")).as(nCol))

  /** Per-label centroid drift between TWO arbitrary (vec_id, embedding,
    * label) frames — the DataFrame-in core (s14's fixture wrapper below
    * feeds it the even/odd halves). */
  def centroidDrift(a: DataFrame, b: DataFrame): DataFrame = {
    val ca = labelCentroids(a, "ca", "n_a")
    val cb = labelCentroids(b, "cb", "n_b")
    ca.join(broadcast(cb), Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(sqrt(expr(
          """aggregate(zip_with(ca, cb, (x, y) -> (x - y) * (x - y)),
            |cast(0.0 AS double), (acc, q) -> acc + q)""".stripMargin.replace("\n", " "))), 6)
          .as("drift"))
      .orderBy(col("label").asc)
  }

  /** Fixture wrapper: the driver corpus has no second snapshot, so the
    * even/odd vec_id halves stand in for "then" vs "now". */
  def s14CentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    centroidDrift(emb.where(col("vec_id") % 2 === 0),
      emb.where(col("vec_id") % 2 =!= 0))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s14_centroid_drift" -> s14CentroidDrift _,
    "s13_semantic_apply" -> s13SemanticApply _,
    "s12_semdedup" -> s12Semdedup _,
    "s11_knn_components" -> s11KnnComponents _,
    "s10_ann_recall" -> s10AnnRecall _,
    "s09_knn_graph" -> s09KnnGraph _,
    "s01_ann_bruteforce" -> s01AnnBruteforce _,
    "s02_ann_lsh_buckets" -> s02AnnLshBuckets _,
    "s03_ann_ivf" -> s03AnnIvf _,
    "s04_centroid_outliers" -> s04CentroidOutliers _,
    "s05_ann_ivf_multiprobe" -> s05AnnIvfMultiprobe _,
    "s06_label_affinity" -> s06LabelAffinity _,
    "s07_ivf_cell_stats" -> s07IvfCellStats _,
    "s08_crossmodal_audit" -> s08CrossmodalAudit _
  )

  private def ddotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** DuckDB mirror of [[Centroids]]: the Lloyd loop unrolled
    * CTE-for-CTE (seed c0 → assign a_i → exact-grid means m_i → c_i),
    * ending in `cents(cent_id, ce, cn)`. Shared verbatim by the s03 and
    * s05 oracles so the two indexes cannot train apart. The VARCHAR
    * roundtrip on the wide integer sum is the established DuckDB
    * correct-rounding workaround (see centroidCteSql). */
  private def lloydCentSql(k: Int): String = {
    val seed =
      s"""c0 AS (
         |  SELECT vec_id AS cent_id, list_transform(e, x -> x::DOUBLE) AS ce
         |  FROM v WHERE vec_id < $k),
         |c0n AS (SELECT cent_id, ce, sqrt(${ddotSql("ce", "ce")}) AS cn FROM c0)""".stripMargin
    val iters = (1 to IvfIters).map { i =>
      val prev = s"c${i - 1}n"
      s"""a$i AS (
         |  SELECT cent_id AS cell, e FROM (
         |    SELECT v.vec_id, v.e, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${dotSql("v.e", "c.ce")} / (v.nrm * c.cn) DESC,
         |                      c.cent_id ASC) AS cr
         |    FROM v CROSS JOIN $prev c)
         |  WHERE cr = 1),
         |ex$i AS (
         |  SELECT cell, i AS dim0, e[i]::DOUBLE AS x
         |  FROM a$i, unnest(generate_series(1, len(e))) AS t(i)),
         |m$i AS (
         |  SELECT cell AS cent_id, dim0,
         |         CAST(CAST(sum(floor(x * 1e9)::BIGINT) AS VARCHAR) AS DOUBLE)
         |           / count(*) / 1e9 AS c
         |  FROM ex$i GROUP BY 1, 2),
         |c$i AS (SELECT cent_id, list(c ORDER BY dim0) AS ce FROM m$i GROUP BY cent_id),
         |c${i}n AS (SELECT cent_id, ce, sqrt(${ddotSql("ce", "ce")}) AS cn FROM c$i)""".stripMargin
    }
    (seed +: iters).mkString(",\n") + s",\ncents AS (SELECT * FROM c${IvfIters}n)"
  }

  /** The exact-integer-grid centroid build shared by the s04 and s06
    * oracles — one definition so a quantization change can't drift
    * between them (mirrors [[centroidArr]] on the Spark side). */
  private val centroidCteSql: String =
    """ex AS (
      |  SELECT vec_id, label, i AS dim0, embedding[i]::DOUBLE AS v
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
      |cent AS (
      |  -- VARCHAR roundtrip: DuckDB sums BIGINT into HUGEINT, and its
      |  -- direct wide-integer→DOUBLE cast is not correctly rounded above
      |  -- 2^53; the string path is, matching Spark's BigDecimal cast
      |  SELECT label, dim0,
      |         CAST(CAST(sum(floor(v * 1e9)::BIGINT) AS VARCHAR) AS DOUBLE)
      |           / count(*) / 1e9 AS c
      |  FROM ex GROUP BY label, dim0),
      |centarr AS (SELECT label, list(c ORDER BY dim0) AS cent FROM cent GROUP BY label)""".stripMargin

  /** The full oracle map at IVF cell count `k` — the six IVF-indexed
    * mirrors (s03/s05/s07/s10/s12/s13) embed k in their Lloyd chain;
    * every other entry ignores it. */
  private[graft] def oracleSqlAt(k: Int): Map[String, String] = Map(
    "s14_centroid_drift" -> {
      def sliceCte(pred: String, suffix: String): String =
        s"""ex$suffix AS (
           |  SELECT label, i AS dim0, embedding[i]::DOUBLE AS v
           |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
           |  WHERE $pred),
           |cent$suffix AS (
           |  SELECT label, dim0,
           |         CAST(CAST(sum(floor(v * 1e9)::BIGINT) AS VARCHAR) AS DOUBLE)
           |           / count(*) / 1e9 AS c,
           |         count(*) AS n
           |  FROM ex$suffix GROUP BY label, dim0),
           |arr$suffix AS (
           |  SELECT label, list(c ORDER BY dim0) AS c$suffix,
           |         CAST(max(n) AS BIGINT) AS n_$suffix
           |  FROM cent$suffix GROUP BY label)""".stripMargin
      s"""WITH ${sliceCte("vec_id % 2 = 0", "a")},
         |${sliceCte("vec_id % 2 <> 0", "b")}
         |SELECT label, n_a, n_b,
         |       round(sqrt(list_reduce(
         |         list_transform(generate_series(1, len(ca)),
         |           i -> (ca[i] - cb[i]) * (ca[i] - cb[i])),
         |         (x, y) -> x + y)), 6) AS drift
         |FROM arra JOIN arrb USING (label)
         |ORDER BY label ASC NULLS FIRST""".stripMargin
    },

    "s13_semantic_apply" ->
      s"""WITH $normedSql,
         |${lloydCentSql(k)},
         |assigned AS (
         |  SELECT vec_id, e, nrm, label, cell FROM (
         |    SELECT v.vec_id, v.e, v.nrm, v.label, c.cent_id AS cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${dotSql("v.e", "c.ce")} / (v.nrm * c.cn) DESC,
         |                      c.cent_id ASC) AS cr
         |    FROM v CROSS JOIN cents c)
         |  WHERE cr = 1),
         |pruned AS (
         |  SELECT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) >= $SemTau
         |  GROUP BY b.vec_id)
         |SELECT s.vec_id, s.cell, s.label
         |FROM assigned s LEFT JOIN pruned p USING (vec_id)
         |WHERE p.vec_id IS NULL
         |ORDER BY s.vec_id ASC NULLS FIRST""".stripMargin,

    "s12_semdedup" ->
      s"""WITH $normedSql,
         |${lloydCentSql(k)},
         |assigned AS (
         |  SELECT vec_id, e, nrm, cell FROM (
         |    SELECT v.vec_id, v.e, v.nrm, c.cent_id AS cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${dotSql("v.e", "c.ce")} / (v.nrm * c.cn) DESC,
         |                      c.cent_id ASC) AS cr
         |    FROM v CROSS JOIN cents c)
         |  WHERE cr = 1),
         |pruned AS (
         |  SELECT b.vec_id, min(a.vec_id) AS kept_by
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) >= $SemTau
         |  GROUP BY b.vec_id)
         |SELECT s.vec_id, s.cell,
         |       CASE WHEN p.kept_by IS NOT NULL THEN 'pruned' ELSE 'kept' END AS status,
         |       p.kept_by
         |FROM assigned s LEFT JOIN pruned p USING (vec_id)
         |ORDER BY s.vec_id ASC NULLS FIRST""".stripMargin,

    "s11_knn_components" ->
      s"""WITH RECURSIVE $normedSql,
         |vb AS (SELECT *, ${bucketSql("e")} AS bucket FROM v),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |         ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) AS c
         |  FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |            ORDER BY c DESC, neighbor_id ASC) AS rank
         |  FROM scored),
         |edges AS (
         |  SELECT DISTINCT least(vec_id, neighbor_id) AS doc_a,
         |                  greatest(vec_id, neighbor_id) AS doc_b
         |  FROM ranked WHERE rank <= $KnnK),
         |bi AS (SELECT doc_a, doc_b FROM edges
         |       UNION ALL SELECT doc_b, doc_a FROM edges),
         |reach(nd, lab) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT bi.doc_b, reach.lab FROM reach JOIN bi ON reach.nd = bi.doc_a),
         |labels AS (SELECT nd, min(lab) AS cluster_id FROM reach GROUP BY nd),
         |csize AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)
         |SELECT nd AS vec_id, labels.cluster_id, cluster_size,
         |       nd = labels.cluster_id AS is_keeper
         |FROM labels JOIN csize ON labels.cluster_id = csize.cluster_id
         |WHERE cluster_size > 1
         |ORDER BY labels.cluster_id ASC NULLS FIRST, nd ASC NULLS FIRST""".stripMargin,

    "s10_ann_recall" ->
      s"""WITH $normedSql,
         |${lloydCentSql(k)},
         |assigned AS (
         |  SELECT vec_id, e, nrm, cell FROM (
         |    SELECT v.vec_id, v.e, v.nrm, c.cent_id AS cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${dotSql("v.e", "c.ce")} / (v.nrm * c.cn) DESC,
         |                      c.cent_id ASC) AS cr
         |    FROM v CROSS JOIN cents c)
         |  WHERE cr = 1),
         |iq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, cell
         |       FROM assigned WHERE vec_id < $QuerySet),
         |iranked AS (
         |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |           ORDER BY c DESC, neighbor_id ASC) AS rank
         |  FROM (
         |    SELECT iq.query_id, a.vec_id AS neighbor_id,
         |           ${dotSql("iq.qe", "a.e")} / (iq.qn * a.nrm) AS c
         |    FROM iq JOIN assigned a ON iq.cell = a.cell AND iq.query_id <> a.vec_id)),
         |approx AS (SELECT query_id, neighbor_id FROM iranked WHERE rank <= $TopK),
         |bq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM v
         |       WHERE vec_id < $QuerySet),
         |branked AS (
         |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |           ORDER BY c DESC, neighbor_id ASC) AS rank
         |  FROM (
         |    SELECT bq.query_id, v.vec_id AS neighbor_id,
         |           ${dotSql("bq.qe", "v.e")} / (bq.qn * v.nrm) AS c
         |    FROM bq JOIN v ON bq.query_id <> v.vec_id)),
         |truth AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= $TopK),
         |kk AS (SELECT query_id, count(*) AS k FROM truth GROUP BY 1),
         |hits AS (
         |  SELECT t.query_id, count(*) AS n_hits
         |  FROM truth t JOIN approx a
         |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |  GROUP BY 1)
         |SELECT kk.query_id, kk.k, coalesce(h.n_hits, 0) AS n_hits,
         |       coalesce(h.n_hits, 0) / kk.k AS recall
         |FROM kk LEFT JOIN hits h USING (query_id)
         |ORDER BY kk.query_id ASC NULLS FIRST""".stripMargin,

    "s09_knn_graph" ->
      s"""WITH $normedSql,
         |vb AS (SELECT *, ${bucketSql("e")} AS bucket FROM v),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id, b.label AS neighbor_label,
         |         ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) AS c
         |  FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |            ORDER BY c DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT vec_id, neighbor_id, rank, neighbor_label, round(c, 6) AS cosine
         |FROM ranked WHERE rank <= $KnnK
         |ORDER BY vec_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin,

    "s01_ann_bruteforce" ->
      s"""WITH $normedSql,
         |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM v WHERE vec_id < $QuerySet),
         |scored AS (
         |  SELECT q.query_id, v.vec_id AS neighbor_id, v.label AS neighbor_label,
         |         ${dotSql("q.qe", "v.e")} / (q.qn * v.nrm) AS c
         |  FROM q JOIN v ON q.query_id <> v.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY c DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, neighbor_label, round(c, 6) AS cosine
         |FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin,

    "s02_ann_lsh_buckets" ->
      s"""WITH $normedSql,
         |vb AS (SELECT *, ${bucketSql("e")} AS bucket FROM v),
         |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, bucket
         |      FROM vb WHERE vec_id < $QuerySet),
         |scored AS (
         |  SELECT q.query_id, q.bucket, v.vec_id AS neighbor_id,
         |         ${dotSql("q.qe", "v.e")} / (q.qn * v.nrm) AS c
         |  FROM q JOIN vb v ON q.bucket = v.bucket AND q.query_id <> v.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY c DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, bucket, neighbor_id, rank, round(c, 6) AS cosine
         |FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin,

    "s03_ann_ivf" ->
      s"""WITH $normedSql,
         |${lloydCentSql(k)},
         |assigned AS (
         |  SELECT vec_id, e, nrm, label, cell FROM (
         |    SELECT v.vec_id, v.e, v.nrm, v.label, c.cent_id AS cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${dotSql("v.e", "c.ce")} / (v.nrm * c.cn) DESC,
         |                      c.cent_id ASC) AS cr
         |    FROM v CROSS JOIN cents c)
         |  WHERE cr = 1),
         |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, cell
         |      FROM assigned WHERE vec_id < $QuerySet),
         |scored AS (
         |  SELECT q.query_id, q.cell, a.vec_id AS neighbor_id,
         |         ${dotSql("q.qe", "a.e")} / (q.qn * a.nrm) AS c
         |  FROM q JOIN assigned a ON q.cell = a.cell AND q.query_id <> a.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY c DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, cell, neighbor_id, rank, round(c, 6) AS cosine
         |FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin,

    "s05_ann_ivf_multiprobe" ->
      s"""WITH $normedSql,
         |${lloydCentSql(k)},
         |rankedcells AS (
         |  SELECT v.vec_id, v.e, v.nrm, v.label, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY v.vec_id
         |           ORDER BY ${dotSql("v.e", "c.ce")} / (v.nrm * c.cn) DESC,
         |                    c.cent_id ASC) AS cr
         |  FROM v CROSS JOIN cents c),
         |assigned AS (
         |  SELECT vec_id, e, nrm, label, cell FROM rankedcells WHERE cr = 1),
         |qprobe AS (
         |  SELECT vec_id AS query_id, e AS qe, nrm AS qn, cell
         |  FROM rankedcells WHERE vec_id < $QuerySet AND cr <= $NProbe),
         |scored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |         ${dotSql("q.qe", "a.e")} / (q.qn * a.nrm) AS c
         |  FROM qprobe q JOIN assigned a ON q.cell = a.cell AND q.query_id <> a.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY c DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, round(c, 6) AS cosine
         |FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin,

    "s04_centroid_outliers" ->
      s"""WITH $centroidCteSql,
         |dist AS (
         |  SELECT e.vec_id, e.label,
         |         list_reduce(list_transform(generate_series(1, len(e.embedding)),
         |           i -> (e.embedding[i]::DOUBLE - ca.cent[i]) * (e.embedding[i]::DOUBLE - ca.cent[i])),
         |           (a, b) -> a + b) AS dist2
         |  FROM embeddings e JOIN centarr ca USING (label))
         |SELECT vec_id, label, dist2
         |FROM dist
         |ORDER BY dist2 DESC NULLS LAST, vec_id ASC NULLS FIRST
         |LIMIT $OutlierTopK""".stripMargin,

    "s08_crossmodal_audit" ->
      s"""WITH ${Dedup.lshEdgesSql},
         |$normedSql
         |SELECT e.doc_a, e.doc_b, va.label AS label_a, vb.label AS label_b,
         |       round(${dotSql("va.e", "vb.e")} / (va.nrm * vb.nrm), 6) AS cosine
         |FROM edges e
         |JOIN v va ON e.doc_a = va.vec_id
         |JOIN v vb ON e.doc_b = vb.vec_id
         |ORDER BY cosine DESC NULLS LAST,
         |         e.doc_a ASC NULLS FIRST, e.doc_b ASC NULLS FIRST""".stripMargin,

    "s07_ivf_cell_stats" ->
      s"""WITH $normedSql,
         |${lloydCentSql(k)},
         |asg AS (
         |  SELECT cell, c FROM (
         |    SELECT cts.cent_id AS cell,
         |           ${dotSql("v.e", "cts.ce")} / (v.nrm * cts.cn) AS c,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${dotSql("v.e", "cts.ce")} / (v.nrm * cts.cn) DESC,
         |                      cts.cent_id ASC) AS cr
         |    FROM v CROSS JOIN cents cts)
         |  WHERE cr = 1),
         |q AS (SELECT cell, floor(c * 1e9)::BIGINT AS qcos FROM asg)
         |SELECT cell, count(*) AS n_vectors,
         |       CAST(CAST(sum(qcos) AS VARCHAR) AS DOUBLE) / count(*) / 1e9 AS mean_cosine
         |FROM q GROUP BY cell
         |ORDER BY cell ASC NULLS FIRST""".stripMargin,

    "s06_label_affinity" ->
      s"""WITH $centroidCteSql,
         |cnorm AS (
         |  SELECT label, cent, sqrt(${ddotSql("cent", "cent")}) AS nrm FROM centarr),
         |pairs AS (
         |  SELECT a.label AS label_a, b.label AS label_b,
         |         a.cent AS ca, b.cent AS cb, a.nrm AS na, b.nrm AS nb
         |  FROM cnorm a JOIN cnorm b ON a.label < b.label)
         |SELECT label_a, label_b,
         |       ${ddotSql("ca", "cb")} / (na * nb) AS cosine
         |FROM pairs
         |ORDER BY label_a ASC NULLS FIRST, label_b ASC NULLS FIRST""".stripMargin
  )

  /** Static oracle texts at the fixture k ([[IvfCells]]) — every driver
    * sf sits on the k floor, so this equals what r11 shipped. */
  lazy val oracleSql: Map[String, String] = oracleSqlAt(IvfCells)

  /** Corpus-adaptive oracle texts: the IVF mirrors regenerated at the k
    * the dir-keyed queries actually use for `dir` (the d04 pattern —
    * r11 verdict task 2). */
  def oracleSqlFor(spark: SparkSession, dir: String): Map[String, String] =
    oracleSqlAt(ivfK(spark, dir))
}

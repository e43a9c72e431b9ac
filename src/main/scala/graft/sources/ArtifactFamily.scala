package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.Tables

/** One persisted artifact FAMILY, declared once: its `kind` (the table
  * name prefix), the corpus tables it reads, its key-defining plan, its
  * build body, and how it follows a corpus append. Serving, dropping,
  * refreshing and the refresh ≡ rebuild checks all go through this
  * value, so a family cannot be served under one name and refreshed or
  * tested under another.
  *
  * Table names are `<kind>_<key>` with the key from
  * [[Artifacts.keyFor]] over the whole corpus dir, or — `tableScoped`
  * families — [[Artifacts.keyForTables]] over `reads` only.
  *
  * `multisetCount` names the count column of families whose rows are a
  * MULTISET keyed by value (the profile histograms): an append-refreshed
  * generation may carry one value in several rows, and every consumer
  * re-aggregates by value, so row comparisons go through [[canonical]]. */
final class ArtifactFamily private[graft] (
    val kind: String,
    val reads: Seq[String],
    private[graft] val defining: (SparkSession, String) => DataFrame,
    build: (SparkSession, String, ArtifactFamily.Built) => DataFrame,
    val refresh: ArtifactFamily.Refresh = ArtifactFamily.NoRefresh,
    tableScoped: Boolean = false,
    multisetCount: Option[String] = None) {
  import ArtifactFamily._

  def name(spark: SparkSession, dir: String): String =
    s"${kind}_" + (
      if (tableScoped) Artifacts.keyForTables(spark, dir, kind, reads)(defining(spark, dir))
      else Artifacts.keyFor(spark, dir, kind)(defining(spark, dir)))

  /** The family's table for the corpus at `dir`, built on a miss. */
  def serve(spark: SparkSession, dir: String): DataFrame =
    serveWith(spark, dir)(build(spark, dir, _))

  /** [[serve]] with a refresh fold as the build body, for the same table
    * name. Frames the body registers in its `Built` buffer are
    * unpersisted once the table is written. */
  private def serveWith(spark: SparkSession, dir: String)(body: Built => DataFrame): DataFrame = {
    serving.value.foreach(_ += kind)
    val built = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val res = Artifacts.servePersisted(spark, name(spark, dir))(body(built))
    built.foreach(_.unpersist(false))
    res
  }

  /** Drop catalog entry and files: the next serve is a cold build. */
  def drop(spark: SparkSession, dir: String): Unit =
    Artifacts.dropArtifact(spark, name(spark, dir))

  /** Rows as every consumer reads them (see `multisetCount`). */
  def canonical(df: DataFrame): DataFrame = multisetCount match {
    case None => df
    case Some(c) => df.groupBy(df.columns.filterNot(_ == c).map(col).toSeq: _*)
      .agg(sum(col(c)).as(c))
  }

  /** Serve `newDir`'s table (= `oldDir`'s corpus plus appended rows),
    * building it from `oldDir`'s generation by this family's refresh
    * shape when absent. The table is named with `newDir`'s from-scratch
    * key, so later cold sessions serve it transparently. */
  def refreshAfterAppend(spark: SparkSession, oldDir: String, newDir: String): DataFrame =
    refresh match {
      case RowAppend(rows) =>
        // per-row derivation: rows(new) = rows(old generation) ∪
        // rows(batch) — the old generation's part files are hard-linked
        // unchanged, only batch rows are computed and written: O(batch)
        // compute and O(files) metadata, no corpus-sized re-encode (r17:
        // rewriting shingles_ cost 70 CPU-s at sf10full for a 1% batch,
        // linking ~1)
        serve(spark, oldDir)
        val built = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        val res = Artifacts.servePersistedBy(spark, name(spark, newDir)) { stage =>
          rows(appendedRows(spark, reads.head, oldDir, newDir), built)
            .write.mode("overwrite").parquet(stage.toString)
          Artifacts.linkDataFilesInto(stage.getFileSystem(spark.sparkContext.hadoopConfiguration),
            Artifacts.location(spark, name(spark, oldDir)), stage)
        }
        built.foreach(_.unpersist(false))
        res
      case Rederive => serve(spark, newDir)
      case Fold(fold) => serveWith(spark, newDir)(fold(spark, oldDir, newDir, _))
      case NoRefresh => throw new UnsupportedOperationException(
        s"artifact family '$kind' has no append refresh")
    }
}

object ArtifactFamily {
  type Built = scala.collection.mutable.Buffer[DataFrame]

  /** The kinds of every family served on this thread while `body` runs,
    * nested builds included: which families a query's construction
    * consumes, read off the engine rather than listed by hand. */
  private[graft] def servedDuring(body: => Unit): Set[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    serving.withValue(Some(seen))(body)
    seen.toSet
  }

  private val serving =
    new scala.util.DynamicVariable[Option[scala.collection.mutable.Set[String]]](None)

  /** How a family follows a corpus append. */
  sealed trait Refresh
  /** Per-row derivation over the appended rows of the family's one read
    * table; `rows(batch, built)` derives the batch's rows. */
  final case class RowAppend(rows: (DataFrame, Built) => DataFrame) extends Refresh
  /** The ordinary build on the new state, once its upstream families
    * (earlier in [[all]]) are refreshed. */
  case object Rederive extends Refresh
  /** A family-specific fold `(spark, oldDir, newDir, built)` of the old
    * generation and the batch. */
  final case class Fold(fold: (SparkSession, String, String, Built) => DataFrame)
    extends Refresh
  /** Not refreshed on append: rebuilt on first serve of the new state. */
  case object NoRefresh extends Refresh

  /** Every family, in dependency order: a family's build and refresh
    * read only families listed before it. */
  lazy val all: Seq[ArtifactFamily] = {
    import graft.operators.{CartAnalytics => C, Dedup => D, Similarity => S, TextAnalysis => T}
    Seq(D.Shingles, D.H60, D.DedupSig, D.Scored, D.Edges, D.Contam, D.Labels,
      T.WordTf, T.BigramTf, D.Spans, D.ExcerptShingles, D.ContSig, D.ContAudit,
      C.ProfHist, C.ProfileStats, C.ProfStrHist, C.ProfileStrStats,
      S.Centroids, S.KnnGraph, S.KnnLabels, S.SemVerdicts, D.D10Verdicts, D.E15Verdicts)
  }

  /** The families an append from `oldDir` to `newDir` refreshes: those
    * with a refresh shape whose every read table exists in both states.
    * A documents-only state pair skips the orders families. */
  def refreshable(spark: SparkSession, oldDir: String, newDir: String): Seq[ArtifactFamily] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(dir: String, table: String) = {
      val p = new Path(dir, s"$table.parquet")
      p.getFileSystem(conf).exists(p)
    }
    all.filter(f => f.refresh != NoRefresh &&
      f.reads.forall(t => exists(oldDir, t) && exists(newDir, t)))
  }

  /** Row key of each table a row-append family may read. */
  private val appendKey = Map("documents" -> "doc_id", "orders" -> "o_orderkey")

  /** The appended rows of `table` between two corpus states: rows of
    * `newDir`'s table whose key is absent from `oldDir`'s. Reads the
    * new state fully and ONLY the key column of the old state
    * (parquet-pruned). Caller contract: `newDir` holds `oldDir`'s rows
    * plus appended ones; in-place row edits are a different lifecycle
    * and must rebuild.
    *
    * MATERIALIZED once per (table, state pair): every refreshed family
    * of the table needs the same batch, and deriving it per family
    * re-scanned the new table once per family. Keyed by both states'
    * table fingerprints; a superseded pair frees its checkpoint. */
  private[graft] def appendedRows(spark: SparkSession, table: String,
      oldDir: String, newDir: String): DataFrame = {
    val fp = Artifacts.tablesFingerprint(spark, oldDir, Seq(table)) + ":" +
      Artifacts.tablesFingerprint(spark, newDir, Seq(table))
    batchMemo.get((table, oldDir, newDir)) match {
      case Some((f, df)) if f == fp => df
      case prior =>
        val key = appendKey(table)
        val df = Tables.load(spark, newDir, table)
          .join(Tables.load(spark, oldDir, table).select(col(key)), Seq(key), "left_anti")
          .localCheckpoint()
        prior.foreach(p => graft.operators.Dedup.freeCheckpoint(p._2))
        batchMemo.put((table, oldDir, newDir), (fp, df))
        df
    }
  }

  /** (table, oldDir, newDir) → (state-pair fingerprint, materialized batch). */
  private val batchMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), (String, DataFrame)]
}

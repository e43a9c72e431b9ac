package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.Tables

/** One persisted artifact FAMILY, declared once: its `kind` (the table
  * name prefix), the corpus tables it reads, its key-defining plan, its
  * build body (the defining plan unless the family builds from served
  * artifacts), and its append refresh shape, if any. Serving, dropping,
  * refreshing and the refresh ≡ rebuild checks all go through this
  * value, so a family cannot be served under one name and refreshed or
  * tested under another.
  *
  * Table names are `<kind>_<key>`, one key rule for every family
  * ([[Artifacts.keyFor]]): the content fingerprint covers the corpus
  * tables the family declares in `reads`, so a family's table moves
  * exactly when a table it reads changes — an orders append leaves the
  * documents families' tables in place, and the reverse.
  *
  * An append refreshes what is built ([[refreshable]]); every other
  * family builds on its first serve of the new state. An `Append` links
  * the old generation's files and writes its delta; a `Fold` rewrites old
  * rows. On the old state a refresh serves only what its build serves.
  *
  * A family earns its place by reuse: at least two consumers, or an
  * append refresh. A family that would persist one query's final
  * answer and never refresh is that query's in-window derivation
  * instead (d10/e15 read `dedupsig_`/`shingles_` and keep no ledger).
  *
  * `multisetCount` names the count column of families whose rows are a
  * MULTISET keyed by value (the profile histograms): an append-refreshed
  * generation may carry one value in several rows, and every consumer
  * re-aggregates by value, so row comparisons go through [[canonical]]. */
final class ArtifactFamily private[graft] (
    val kind: String,
    val reads: Seq[String],
    private[graft] val defining: (SparkSession, String) => DataFrame)(
    build: (SparkSession, String) => DataFrame = defining,
    val refresh: Option[ArtifactFamily.Refresh] = None,
    multisetCount: Option[String] = None) {
  import ArtifactFamily._

  def name(spark: SparkSession, dir: String): String =
    s"${kind}_" + owning(Artifacts.keyFor(spark, dir, kind, reads)(defining(spark, dir)))

  /** The family's table for the corpus at `dir`, built on a miss. */
  def serve(spark: SparkSession, dir: String): DataFrame =
    serveWith(spark, dir)(build(spark, dir))

  /** [[serve]] with a refresh fold as the build body, for the same table
    * name. */
  private def serveWith(spark: SparkSession, dir: String)(body: => DataFrame): DataFrame = {
    serving.value.foreach(_ += kind)
    val table = name(spark, dir)
    owning(Artifacts.servePersisted(spark, table)(body))
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

  /** Whether `dir`'s generation has its `_SUCCESS` on disk: a cold JVM
    * sees only the files, not this JVM's catalog. */
  private def built(spark: SparkSession, dir: String): Boolean = {
    val success = new Path(Artifacts.location(spark, name(spark, dir)), "_SUCCESS")
    success.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(success)
  }

  /** Serve `newDir`'s table (= `oldDir`'s corpus plus appended rows),
    * building it from `oldDir`'s complete generation ([[refreshable]])
    * by this family's refresh shape when absent. The table is named with
    * `newDir`'s from-scratch key, so later cold sessions serve it
    * transparently. */
  def refreshAfterAppend(spark: SparkSession, oldDir: String, newDir: String): DataFrame =
    refresh.getOrElse(throw new UnsupportedOperationException(
        s"artifact family '$kind' has no append refresh")) match {
      case Append(delta) =>
        // rows(new) = rows(old generation) ∪ delta, disjoint: the old
        // part files are hard-linked, never served or re-encoded (r17:
        // rewriting shingles_ cost 70 CPU-s at sf10full for a 1% batch,
        // linking ~1); only the delta is computed and written.
        owning(Artifacts.servePersistedBy(spark, name(spark, newDir)) { stage =>
          delta(spark, oldDir, appendedRows(spark, reads.head, oldDir, newDir))
            .write.mode("overwrite").parquet(stage.toString)
          Artifacts.linkDataFilesInto(stage.getFileSystem(spark.sparkContext.hadoopConfiguration),
            Artifacts.location(spark, name(spark, oldDir)), stage)
        })
      case Fold(fold) => serveWith(spark, newDir)(fold(spark, oldDir, newDir))
    }
}

object ArtifactFamily {
  /** `body`, then unpersist every frame [[persisted]] recorded while it
    * ran: a build, a refresh or a key's defining plan owns exactly the
    * frames it persisted itself. Those serve only the artifact write (or
    * only the key), so left cached they would pin memory for the JVM's
    * lifetime and turn later scans of their plans into in-memory scans.
    * A frame cached before `body` ran stays cached; a nested family's
    * build releases its own frames when it ends. */
  private def owning[A](body: => A): A = {
    val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try persisting.withValue(Some(owned))(body)
    finally owned.foreach(_.unpersist(false))
  }

  /** Record that `df` was just persisted, for the innermost enclosing
    * build ([[graft.operators.Dedup.persistOnce]] calls this). Outside a
    * build it does nothing: a query's own persists stay its own. */
  private[graft] def persisted(df: DataFrame): Unit = persisting.value.foreach(_ += df)

  private val persisting =
    new scala.util.DynamicVariable[Option[scala.collection.mutable.Buffer[DataFrame]]](None)

  /** The kinds of every family served on this thread while `body` runs,
    * nested builds included: which families a query's construction
    * consumes, read off the engine rather than listed by hand. */
  private[graft] def servedDuring(body: => Unit): Set[String] = servedWhile(body)._2

  /** `body`'s value and [[servedDuring]]'s kinds. An enclosing call sees
    * the kinds too. */
  private[graft] def servedWhile[A](body: => A): (A, Set[String]) = {
    val seen = scala.collection.mutable.Set.empty[String]
    val a = serving.withValue(Some(seen))(body)
    noteServed(seen)
    (a, seen.toSet)
  }

  /** Report `kinds` as served to any enclosing [[servedDuring]]: a
    * construction whose plan was reused ([[PlanCache]]) serves what the
    * construction it reuses served. */
  private[graft] def noteServed(kinds: Iterable[String]): Unit =
    serving.value.foreach(_ ++= kinds)

  private val serving =
    new scala.util.DynamicVariable[Option[scala.collection.mutable.Set[String]]](None)

  /** How a family follows a corpus append. A family without one builds
    * on its first serve of the new state. */
  sealed trait Refresh
  /** The new rows are the old generation's rows plus a disjoint delta:
    * `delta(spark, oldDir, batch)` derives the rows the appended `batch`
    * of the family's one read table adds, and the old generation's files
    * are linked in unchanged. */
  final case class Append(delta: (SparkSession, String, DataFrame) => DataFrame) extends Refresh
  /** A family-specific fold `(spark, oldDir, newDir)` of the old
    * generation and the batch, for a family whose old rows change. */
  final case class Fold(fold: (SparkSession, String, String) => DataFrame) extends Refresh

  /** Every family, in dependency order: a family's build and refresh
    * read only families listed before it. */
  lazy val all: Seq[ArtifactFamily] = {
    import graft.operators.{CartAnalytics => C, Dedup => D, Similarity => S, TextAnalysis => T}
    Seq(D.Shingles, D.H60, D.DedupSig, D.Scored, D.Edges, D.Contam, D.Labels,
      T.WordTf, T.BigramTf, D.Spans, D.ExcerptShingles, D.ContAudit,
      C.ProfHist, C.ProfileStats, C.ProfStrHist, C.ProfileStrStats,
      S.Centroids, S.KnnGraph, S.KnnLabels, S.SemVerdicts)
  }

  /** The families whose every read table exists in each of `dirs`:
    * naming a family over a missing table fails. */
  def readable(spark: SparkSession, dirs: String*): Seq[ArtifactFamily] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(dir: String, table: String) = {
      val p = new Path(dir, s"$table.parquet")
      p.getFileSystem(conf).exists(p)
    }
    all.filter(_.reads.forall(t => dirs.forall(exists(_, t))))
  }

  /** The families an append from `oldDir` to `newDir` refreshes: those
    * with a refresh shape, readable in both states, whose `oldDir`
    * generation is complete. A family never built on the old state
    * builds on its first serve of the new one. */
  def refreshable(spark: SparkSession, oldDir: String, newDir: String): Seq[ArtifactFamily] =
    readable(spark, oldDir, newDir).filter(f => f.refresh.isDefined && f.built(spark, oldDir))

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
    * table fingerprints; a superseded pair frees its checkpoint, and
    * [[releaseBatches]] frees a pair's batches once its refresh ends. */
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

  /** Free the batches [[appendedRows]] materialized between `oldDir` and
    * `newDir`: a checkpoint stays pinned until freed. */
  private[graft] def releaseBatches(oldDir: String, newDir: String): Unit =
    batchMemo.keys.filter(k => k._2 == oldDir && k._3 == newDir).foreach { k =>
      batchMemo.remove(k).foreach(b => graft.operators.Dedup.freeCheckpoint(b._2))
    }

  /** (table, oldDir, newDir) → (state-pair fingerprint, materialized batch). */
  private val batchMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), (String, DataFrame)]
}

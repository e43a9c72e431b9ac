package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.graft.JobIds
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, LeafNode, LocalRelation,
  LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.Plans

/** The analyzed plan of each query's last construction, reused while
  * nothing the construction read has changed. A warm construction
  * otherwise spends most of its driver time in Catalyst's eager
  * analysis of a plan identical to the last one.
  *
  * One row per query name, replaced on a miss. A row serves a hit only
  * for the same live session and `dir`, while
  *  - every content fingerprint the construction took
  *    ([[Artifacts.tablesFingerprint]]: table loads, family keys, probe
  *    memos) is unchanged,
  *  - the artifact epoch is unchanged (no build, registration or drop),
  *  - the session's SQL conf is unchanged.
  * A construction is recorded only if it started no Spark job, changed
  * neither epoch nor conf, and its plan reads only corpus tables it
  * fingerprinted, artifact tables and local rows. Constructions that run
  * work (d06's propagation loop, cold artifact builds, first probes) are
  * therefore never reused.
  *
  * A hit is a fresh DataFrame over the recorded analyzed plan
  * ([[Plans.ofRows]]): optimization, physical planning, adaptive
  * execution and execution all run again, so no physical plan, shuffle
  * output or result is reused. It reports the families the recorded
  * construction served to any enclosing [[ArtifactFamily.servedDuring]]. */
object PlanCache {
  private final case class Row(spark: SparkSession, dir: String, reads: Set[Artifacts.Read],
      epoch: Long, conf: Map[String, String], kinds: Set[String], plan: LogicalPlan)

  private val rows = scala.collection.concurrent.TrieMap.empty[String, Row]
  private val hitCount = new java.util.concurrent.atomic.AtomicLong

  /** Constructions answered from a recorded plan, in this JVM. */
  def hits: Long = hitCount.get()

  /** Forget every recorded plan: the next construction of each query runs
    * in full (test hook). */
  private[graft] def clear(): Unit = rows.clear()

  /** `build` with its plan reused under query name `name`. */
  def apply(name: String)(build: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (spark, dir) => rows.get(name).filter(valid(_, spark, dir)) match {
      case Some(r) =>
        hitCount.incrementAndGet()
        ArtifactFamily.noteServed(r.kinds)
        Plans.ofRows(spark, r.plan)
      case None => record(name, spark, dir)(build(spark, dir))
    }

  private def valid(r: Row, spark: SparkSession, dir: String): Boolean =
    (r.spark eq spark) && r.dir == dir && !spark.sparkContext.isStopped &&
      r.epoch == Artifacts.epoch && r.conf == spark.conf.getAll &&
      r.reads.forall { case (d, tables, fp) => Artifacts.tablesFingerprint(spark, d, tables) == fp }

  private def record(name: String, spark: SparkSession, dir: String)(
      construct: => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val (job0, epoch0, conf0) = (JobIds.next(sc), Artifacts.epoch, spark.conf.getAll)
    val ((df, reads), kinds) = ArtifactFamily.servedWhile(Artifacts.readsDuring(construct))
    val plan = df.queryExecution.analyzed
    if (JobIds.next(sc) == job0 && Artifacts.epoch == epoch0 && spark.conf.getAll == conf0 &&
        readsOnlyRecorded(spark, plan, reads))
      rows.put(name, Row(spark, dir, reads, epoch0, conf0, kinds, plan))
    else rows.remove(name)
    df
  }

  /** Whether every leaf of `plan` is local rows, a reference to one of
    * its own CTEs, an artifact table, or a corpus table whose fingerprint
    * is in `reads`: the inputs the hit conditions cover. */
  private def readsOnlyRecorded(spark: SparkSession, plan: LogicalPlan,
      reads: Set[Artifacts.Read]): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    def pathOf(p: Path): String = p.getFileSystem(conf).makeQualified(p).toUri.getPath
    val artifactDb = pathOf(Artifacts.location(spark, "_").getParent)
    val tables = reads.flatMap { case (d, ts, _) => ts.map(t => pathOf(new Path(d, s"$t.parquet"))) }
    plan.collectWithSubqueries { case l: LeafNode => l }.forall {
      case _: LocalRelation | _: OneRowRelation | _: Range | _: CTERelationRef => true
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.rootPaths.map(p => p.toUri.getPath).forall(p =>
          tables(p) || new Path(p).getParent.toUri.getPath == artifactDb)
      case _ => false
    }
  }
}

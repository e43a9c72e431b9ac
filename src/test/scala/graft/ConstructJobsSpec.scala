package graft

import org.apache.spark.graft.ListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** A warm query starts no Spark job while its plan is built. Everything
  * a construction needs from immutable input — each table's parquet
  * schema, the order-date bounds, row counts, the served centroid rows —
  * is probed once per content state ([[graft.sources.ContentMemo]]), so
  * the second construction of every query over an unchanged corpus only
  * builds a plan. Each of those probes is a Spark job, schema inference
  * included, so a miss here shows up as a job count.
  *
  * d06 is exempt: its min-label propagation loop runs count jobs while
  * the plan is built, to decide when the components have converged.
  * Those jobs are the query's own work, not a probe of immutable input.
  *
  * A warm construction usually reuses its analyzed plan
  * ([[graft.sources.PlanCache]]) and so probes nothing at all; each
  * second construction is therefore also run with that cache cleared,
  * which keeps the probe memos' path covered.
  *
  * The memos key on content, not on file times: a corpus regenerated
  * with identical bytes (fresh mtimes) keeps every probe, the skew and
  * max-id probes included. */
class ConstructJobsSpec extends SparkSpec {

  /** Builds its plan by running label-propagation rounds. */
  private val runsWhileBuilding = Set("d06_neardup_clusters")

  /** Spark jobs started while `body` ran, counted after draining the
    * listener bus. */
  private def jobsStartedBy(body: => Unit): Long = {
    val started = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerSync.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerSync.drain(sc) }
    finally sc.removeSparkListener(listener)
    started.get
  }

  test("the second construction of every query starts no Spark job") {
    val started = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (q, _) => runsWhileBuilding(q) }
      .map { case (q, build) =>
        build(spark, sf) // first construction: probes, artifact builds
        val reused = jobsStartedBy(build(spark, sf))
        graft.sources.PlanCache.clear()
        q -> (reused + jobsStartedBy(build(spark, sf)))
      }
      .filter(_._2 > 0)
    assert(started.map(_._2).sum === 0L,
      "jobs started by warm constructions: " +
        started.map { case (q, n) => s"$q $n" }.mkString(", "))
  }

  test("a byte-identical rewrite of every corpus file starts no Spark job " +
      "in q02, p02 or p12's construction") {
    import java.nio.file.{Files, Path}
    val src = java.nio.file.Paths.get(sf)
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "regen")
      .resolve("corpus")
    Files.createDirectories(dir)
    def corpusFiles(root: Path): Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
    corpusFiles(src).foreach { f =>
      val to = dir.resolve(src.relativize(f).toString)
      Files.createDirectories(to.getParent)
      Files.write(to, Files.readAllBytes(f))
    }
    val qs = Seq("q02_co_abandoned_pairs", "p02_shard_packing", "p12_budget_head_cut")
    qs.foreach(q => SparkEntry.queries(q)(spark, dir.toString)) // probes, artifact builds
    Thread.sleep(1100) // a later mtime on coarse-granularity filesystems
    corpusFiles(dir).foreach(f => Files.write(f, Files.readAllBytes(f)))
    graft.sources.PlanCache.clear()
    val started = qs.map(q => q -> jobsStartedBy(SparkEntry.queries(q)(spark, dir.toString)))
      .filter(_._2 > 0)
    assert(started.isEmpty,
      "jobs started after a byte-identical rewrite: " +
        started.map { case (q, n) => s"$q $n" }.mkString(", "))
  }
}

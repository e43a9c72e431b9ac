package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

import graft.operators._
import graft.sources.{ArtifactFamily, PlanCache}

/** A query's construction reuses its last analyzed plan only while
  * nothing it read has changed ([[PlanCache]]): the same session and
  * corpus dir, the same content of every table it fingerprinted, no
  * artifact built, registered or dropped since, the same SQL conf, and
  * a recorded construction that started no Spark job. A hit must answer
  * exactly as a full construction does. */
class PlanCacheSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Whether `body`'s one construction was answered from a recorded plan. */
  private def hit(body: => DataFrame): (Boolean, DataFrame) = {
    val h0 = PlanCache.hits
    val df = body
    (PlanCache.hits > h0, df)
  }

  /** Construct `q` until its plan is recorded (cold builds and first
    * probes start jobs and are not recorded), then once more: a hit. */
  private def warmHit(q: String, session: SparkSession = spark, dir: String = sf): DataFrame = {
    val build = SparkEntry.queries(q)
    build(session, dir); build(session, dir)
    val (h, df) = hit(build(session, dir))
    assert(h, s"$q: a third construction over unchanged input must reuse its plan")
    df
  }

  /** A private copy of the test corpus, whose tables a test may rewrite. */
  private def corpusCopy(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), prefix).resolve("corpus").toString
    val fs = new Path(sf).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(sf)).foreach { st =>
      FileUtil.copy(fs, st.getPath, fs, new Path(dir, st.getPath.getName), false, fs.getConf)
    }
    dir
  }

  /** The query as its module declares it, outside the plan cache. */
  private def uncached(q: String): (SparkSession, String) => DataFrame =
    (CartAnalytics.queries ++ Dedup.queries ++ Similarity.queries ++ TextAnalysis.queries ++
      EventsAnalytics.queries ++ Multimodal.queries ++ Curation.queries)(q)

  test("a hit returns the same rows as a miss") {
    Seq("q02_co_abandoned_pairs", "q17_profile_orders_strings", "d07_contamination",
      "s03_ann_ivf", "t13_bigram_novelty", "e14_interarrival", "p07_curriculum_plan",
      "m04_content_dedup").foreach { q =>
      val fromHit = rows(warmHit(q))
      PlanCache.clear()
      val (h, df) = hit(SparkEntry.queries(q)(spark, sf))
      assert(!h, s"$q: a cleared cache must construct in full")
      assert(fromHit === rows(df), s"$q: the reused plan answers differently")
    }
  }

  test("an in-place rewrite of a read table with different bytes misses and answers anew") {
    val q = "q26_unpivot" // reads orders only
    val dir = corpusCopy("plan-rewrite-")
    val before = rows(warmHit(q, dir = dir))
    val orders = new Path(dir, "orders.parquet")
    val stage = new Path(dir + "-orders-stage")
    spark.read.parquet(orders.toString).where(col("o_orderkey") % 2 === 0)
      .write.parquet(stage.toString)
    val fs = orders.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(orders, true)
    assert(fs.rename(stage, orders))
    val (h, df) = hit(SparkEntry.queries(q)(spark, dir))
    assert(!h, "a construction over rewritten orders must not reuse the old plan")
    val after = rows(df)
    assert(after === rows(uncached(q)(spark, dir)))
    assert(after !== before, "the rewrite must change the answer, or the test shows nothing")
  }

  test("ArtifactFamily.drop misses") {
    val q = "s03_ann_ivf" // serves the centroid family
    val fromHit = rows(warmHit(q))
    Similarity.Centroids.drop(spark, sf)
    val (h, df) = hit(SparkEntry.queries(q)(spark, sf))
    assert(!h, "a construction after its family was dropped must not reuse the plan")
    assert(rows(df) === fromHit)
  }

  test("servedDuring reports the same kinds on a hit as on a miss") {
    val q = "d07_contamination"
    warmHit(q)
    PlanCache.clear()
    val onMiss = ArtifactFamily.servedDuring(SparkEntry.queries(q)(spark, sf))
    var h = false
    val onHit = ArtifactFamily.servedDuring { h = hit(SparkEntry.queries(q)(spark, sf))._1 }
    assert(h, "the second warm construction must be a hit")
    assert(onMiss.nonEmpty && onHit === onMiss)
  }

  test("a conf change that alters construction misses") {
    // q12's dimension joins read the broadcast threshold while the plan is
    // built (Scale.dimJoin): -1 takes the shuffle-hash escape
    val q = "q12_export_join"
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val warm = warmHit(q).queryExecution.analyzed
    spark.conf.set(key, "-1")
    try {
      val (h, df) = hit(SparkEntry.queries(q)(spark, sf))
      assert(!h, "a construction under a changed conf must not reuse the plan")
      assert(df.queryExecution.analyzed.toString !== warm.toString,
        "the conf change must alter the construction, or the test shows nothing")
      assert(rows(df) === rows(uncached(q)(spark, sf)))
    } finally spark.conf.unset(key)
  }

  test("another session never gets this session's plan") {
    val q = "q26_unpivot"
    val fromHit = rows(warmHit(q))
    val other = spark.newSession()
    val (h, df) = hit(SparkEntry.queries(q)(other, sf))
    assert(!h, "a plan recorded in one session must not serve another")
    assert(rows(df) === fromHit)
  }

  test("d06 is never cached") {
    // its min-label propagation runs count jobs while the plan is built
    val build = SparkEntry.queries("d06_neardup_clusters")
    val hits = (1 to 3).map(_ => hit(build(spark, sf))._1)
    assert(!hits.exists(identity), "d06's construction runs jobs and must never be reused")
    // its plan names the checkpoint's call site, which the dump masks
    val dumped = tools.DumpPlans.canon(build(spark, sf).queryExecution.explainString(FormattedMode))
    assert("""\.scala:\d+""".r.findFirstIn(dumped).isEmpty, s"unmasked call site:\n$dumped")
  }

  test("a hit plans exactly as a full construction does, for every query") {
    // the DumpPlans view (masked formatted plans). A hit plans as the
    // construction it reuses did, and as a construction with the cache
    // cleared does, byte for byte.
    def plan(df: DataFrame) = tools.DumpPlans.canon(df.queryExecution.explainString(FormattedMode))
    val checked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1 == "d06_neardup_clusters")
      .map { case (q, build) =>
        build(spark, sf) // cold builds and first probes
        PlanCache.clear()
        val recorded = plan(build(spark, sf))
        val (h, df) = hit(build(spark, sf))
        val fromHit = plan(df)
        PlanCache.clear()
        (q, h, fromHit == recorded, fromHit == plan(build(spark, sf)))
      }
    val notReused = checked.collect { case (q, false, _, _) => q }
    val unlikeRecorded = checked.collect { case (q, _, false, _) => q }
    val unlikeFull = checked.collect { case (q, _, _, false) => q }
    assert(notReused.isEmpty, s"warm constructions that did not reuse their plan: $notReused")
    assert(unlikeRecorded.isEmpty, s"hits that plan unlike the construction they reuse: $unlikeRecorded")
    assert(unlikeFull.isEmpty, s"hits that plan unlike a full construction: $unlikeFull")
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.operators.Dedup
import graft.sources.{ArtifactFamily, Artifacts}

/** Incremental artifact refresh through the one registry path
  * ([[graft.sources.ArtifactFamily.refreshAfterAppend]], looped by
  * `Dedup.refreshArtifactsAfterAppend`): appending a batch updates the
  * label artifact at batch-probe cost — no corpus-wide propagation loop
  * — reads no old corpus text, refreshes only what is built, and every
  * family served on the appended state is EXACTLY what a from-scratch
  * rebuild produces.
  */
class IncrementalRefreshSpec extends SparkSpec {
  import spark.implicits._

  // -------------------------------------------------------------------
  // crafted corpora: shingle arithmetic puts pair similarities on the
  // designed side of ClusterThreshold=0.6 (word-3-grams; an interior
  // single-word substitution kills exactly 3 shingles, an interior
  // 8-word segment substitution kills exactly 10)
  // -------------------------------------------------------------------
  private def words(prefix: String, n: Int): IndexedSeq[String] =
    (0 until n).map(i => s"$prefix$i")

  private def substituted(base: IndexedSeq[String], at: Seq[Int], tag: String): String =
    base.zipWithIndex.map { case (w, i) =>
      if (at.contains(i)) s"$tag$i" else w
    }.mkString(" ")

  private val base62 = words("tok", 62)
  private val subsAll = Seq(5, 12, 19, 26, 33, 40, 47, 54) // interior, ≥7 apart

  /** Two distinct near-dup clusters (A,A') and (B,B'):
    * j(A,B) = 36/84 ≈ 0.43 < 0.6, within-cluster j = 57/63 ≈ 0.90. */
  private val docA  = base62.mkString(" ")
  private val docA2 = substituted(base62, Seq(30), "alt")
  private val docB  = substituted(base62, subsAll, "sub")
  private val docB2 = substituted(base62, subsAll, "sub")
    .split(" ").updated(31, "alt31b").mkString(" ")
  /** Bridge doc: B's first four substitutions only —
    * j(C,A) = j(C,B) = 48/72 ≈ 0.667, both ≥ 0.6. */
  private val docC = substituted(base62, subsAll.take(4), "sub")
  private val docIso  = words("iso", 40).mkString(" ")     // isolated in v1
  private val docIso2 = substituted(words("iso", 40), Seq(20), "late")

  private def labelSet(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_id", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Count Spark jobs triggered by `body` (job-group scoped; the listener
    * bus is async, so poll until the count settles). */
  private def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val group = s"count-${System.nanoTime()}"
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties.getProperty("spark.jobGroup.id")).contains(group))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
    var (prev, settled) = (-1, n.get())
    while (prev != settled) { Thread.sleep(300); prev = settled; settled = n.get() }
    spark.sparkContext.removeSparkListener(l)
    settled
  }

  /** An 8-doc near-dup CHAIN (adjacent j = 60/80 = 0.75, two-apart
    * j = 50/90 ≈ 0.56 < 0.6): propagation needs ~diameter rounds, so a
    * from-scratch rebuild pays many loop jobs that the contracted
    * refresh must not. */
  private val chainBase = words("ch", 72)
  private def chainDoc(i: Int): String =
    chainBase.zipWithIndex.map { case (w, p) =>
      if (p < 8 * i) s"cs$p" else w
    }.mkString(" ")

  test("labels refresh after append: the contracted loop is shallower than a rebuild, " +
      "and a cold serve sees it") {
    val oldDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "inc-old-").toString
    val newDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "inc-new-").toString
    val chain = (0 until 8).map(i => (i.toLong, chainDoc(i), "en", "s", 100L))
    val batchRows = Seq((100L, chainDoc(7).replace("ch70", "zz70"), "en", "s", 100L))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    chain.toDF(cols: _*).write.parquet(s"$oldDir/documents.parquet")
    (chain ++ batchRows).toDF(cols: _*).write.parquet(s"$newDir/documents.parquet")

    // build (and persist) the v1 labels — the deployment precondition
    val v1 = labelSet(Dedup.Labels.serve(spark, oldDir))
    assert(v1 === (0 until 8).map(i => (i.toLong, 0L)).toSet,
      s"chain must form one cluster labeled 0, got $v1")

    // upstream families first, in registry order, as
    // refreshArtifactsAfterAppend runs them; the label fold reads the
    // edges_ slice, built on its first serve from the refreshed scored_
    ArtifactFamily.refreshable(spark, oldDir, newDir)
      .takeWhile(_ ne Dedup.Labels).foreach(_.refreshAfterAppend(spark, oldDir, newDir))
    Dedup.Edges.serve(spark, newDir)
    var refreshedLabels: Set[(Long, Long)] = null
    val refreshJobs = countJobs {
      refreshedLabels = labelSet(Dedup.Labels.refreshAfterAppend(spark, oldDir, newDir))
    }
    val refreshRounds = Dedup.lastPropagationRounds.get()
    val scratchJobs = countJobs {
      assert(labelSet(Dedup.minLabelComponents(Dedup.lshEdges(spark, newDir)))
        === refreshedLabels, "refresh must equal the from-scratch label table")
    }
    val scratchRounds = Dedup.lastPropagationRounds.get()
    assert(refreshedLabels.contains((100L, 0L)), "batch doc joins the chain cluster")
    info(s"refresh: $refreshJobs jobs / $refreshRounds propagation rounds; " +
      s"from-scratch: $scratchJobs jobs / $scratchRounds rounds")
    // the scale contract is the LOOP DEPTH: the refresh propagates over
    // the CONTRACTED batch-scale graph (existing components collapsed to
    // their label), so it must converge in fewer rounds than the
    // corpus-wide loop over the full chain. (Total job counts are a
    // constant-factor proxy that path compression invalidated — at this
    // fixture size both paths are dominated by fixed per-call overhead.)
    assert(refreshRounds < scratchRounds,
      s"contracted refresh loop ($refreshRounds rounds) must be shallower than " +
        s"the corpus-wide propagation loop ($scratchRounds rounds)")

    // cold serve: drop only the CATALOG entry (files persist, as after a
    // JVM restart) — d08's serve path must re-register and read the
    // incrementally built table without any build jobs
    spark.sql(s"DROP TABLE IF EXISTS `${Artifacts.Db}`." +
      s"`${Dedup.Labels.name(spark, newDir)}`")
    var coldServed: Set[(Long, Long)] = null
    val serveJobs = countJobs {
      coldServed = labelSet(Dedup.Labels.serve(spark, newDir))
    }
    assert(coldServed === refreshedLabels, "cold serve must see the refreshed labels")
    info(s"cold serve jobs=$serveJobs")
    assert(serveJobs < refreshJobs,
      "serving the refreshed artifact must not rebuild anything")
  }

  /** Serve every family in `families` on `newDir` after a refresh (a
    * refreshed generation, or a first build over refreshed upstreams),
    * then drop them all, rebuild each from scratch, and return (family →
    * canonical rows) for both. */
  private def refreshedVsScratch(families: Seq[ArtifactFamily], newDir: String)
      : (Map[String, Seq[String]], Map[String, Seq[String]]) = {
    def rows(): Map[String, Seq[String]] = families.map { f =>
      f.kind -> f.canonical(f.serve(spark, newDir)).collect().map(_.toString).sorted.toSeq
    }.toMap
    val incremental = rows()
    families.foreach(_.drop(spark, newDir))
    (incremental, rows())
  }

  private def assertRebuilt(incremental: Map[String, Seq[String]],
      scratch: Map[String, Seq[String]], why: String): Unit =
    incremental.keys.foreach { fam =>
      assert(incremental(fam) === scratch(fam), s"family '$fam' diverged from the rebuild: $why")
    }

  test("refreshArtifactsAfterAppend reads NO old corpus text: poisoning it (while " +
      "serving the real old generations) still yields the from-scratch rebuild") {
    val oldDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "poison-old-").toString
    val newDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "poison-new-").toString
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val oldRows = Seq((10L, docA), (11L, docA2), (20L, docB), (21L, docB2))
      .map { case (i, t) => (i, t, "en", "s", 100L) }
    val batchRows = Seq((100L, docC, "en", "s", 100L)) // bridges A- and B-clusters
    oldRows.toDF(cols: _*).write.parquet(s"$oldDir/documents.parquet")
    (oldRows ++ batchRows).toDF(cols: _*).write.parquet(s"$newDir/documents.parquet")

    // build every documents family's old generation from the REAL text
    val families = ArtifactFamily.all.filter(_.reads == Seq("documents"))
    families.foreach(_.serve(spark, oldDir))
    val realNames = families.map(_.name(spark, oldDir))

    // poison the old corpus's TEXT in place (same doc_ids, same schema),
    // then move each real generation under its poisoned-fingerprint name
    // — the serve path now behaves as if the artifacts were built from
    // this corpus, but any refresh that goes back to the old corpus's
    // TEXT reads garbage and diverges from the rebuild
    oldRows.map { case (i, _, l, s, n) => (i, s"poison $i", l, s, n) }
      .toDF(cols: _*).write.mode("overwrite").parquet(s"$oldDir/documents.parquet")
    val poisonedNames = families.map(_.name(spark, oldDir))
    assert(realNames.zip(poisonedNames).forall { case (a, b) => a != b },
      "poisoning must change the artifact keys (else this test is vacuous)")
    realNames.zip(poisonedNames).foreach { case (real, poisoned) =>
      val (from, to) = (Artifacts.location(spark, real), Artifacts.location(spark, poisoned))
      val fs = from.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Artifacts.dropEntry(spark, real)
      assert(!fs.exists(to) && fs.rename(from, to), s"could not alias $real as $poisoned")
    }

    val refreshed = Dedup.refreshArtifactsAfterAppend(spark, oldDir, newDir)
    assert(refreshed.map(_._1) === families.filter(_.refresh.isDefined).map(_.kind))
    val (incremental, scratch) = refreshedVsScratch(families, newDir)
    assert(incremental("labels").exists(_.contains("[100,10]")),
      s"fixture must merge both clusters through the bridge doc: ${incremental("labels")}")
    assertRebuilt(incremental, scratch, "its refresh re-read the (poisoned) old corpus " +
      "text instead of the persisted old generation")
  }

  test("three chained refreshes with cross-batch and bridging merges equal " +
      "the from-scratch union rebuild") {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val v0 = Seq(10L -> docA, 11L -> docA2, 20L -> docB, 21L -> docB2)
    val batches = Seq(
      Seq(100L -> docIso),  // isolated on arrival
      Seq(101L -> docIso2), // merges with PRIOR batch's doc
      Seq(102L -> docC))    // bridges the two v0 clusters
    val states = batches.scanLeft(v0)(_ ++ _).map { rows =>
      val dir = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "inc-chain-").toString
      rows.map { case (i, t) => (i, t, "en", "s", 100L) }.toDF(cols: _*)
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    // every family built on the first state; the refreshes carry them on
    ArtifactFamily.readable(spark, states.head).foreach(_.serve(spark, states.head))
    val refreshed = states.zip(states.tail).map { case (from, to) =>
      Dedup.refreshArtifactsAfterAppend(spark, from, to)
    }
    val shaped = ArtifactFamily.all.filter(f => f.refresh.isDefined && f.reads == Seq("documents"))
    assert(refreshed.forall(_.map(_._1) === shaped.map(_.kind)),
      s"every documents family with a refresh shape refreshes each time: $refreshed")
    val (chained, scratch) =
      refreshedVsScratch(ArtifactFamily.readable(spark, states.last), states.last)
    assertRebuilt(chained, scratch, "chained refreshes must stay exactly equal to a " +
      "from-scratch rebuild")
    val labels = chained("labels")
    assert(Seq(10L, 11L, 20L, 21L, 102L).forall(d => labels.contains(s"[$d,10]")),
      s"round-3 bridge must merge the two v0 clusters: $labels")
    assert(labels.contains("[100,100]") && labels.contains("[101,100]"),
      s"docs isolated in round 1 must pair up in round 2: $labels")
  }

  test("refreshArtifactsAfterAppend: every refreshed family is row-identical " +
      "to a from-scratch rebuild on the appended corpus (r16 verdict task 1)") {
    val v1 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "inc-fam-v1-").toString
    val v2 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "inc-fam-v2-").toString
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // ids chosen to exercise every family's split: 10/20/30/100 are eval
    // (%10==0) and 11/21/101 train for contam_; docC bridges the A- and
    // B-clusters for labels_; docIso2 pairs with the isolated docIso
    val v1Rows = Seq(10L -> docA, 11L -> docA2, 20L -> docB, 21L -> docB2,
      30L -> docIso).map { case (i, t) => (i, t, "en", "s", 100L) }
    val batchRows = Seq(100L -> docC, 101L -> docIso2)
      .map { case (i, t) => (i, t, "en", "s", 100L) }
    v1Rows.toDF(cols: _*).write.parquet(s"$v1/documents.parquet")
    (v1Rows ++ batchRows).toDF(cols: _*).write.parquet(s"$v2/documents.parquet")
    // every family built on the old state, as every query set would
    def buildOld(): Unit = ArtifactFamily.readable(spark, v1).foreach(_.serve(spark, v1))
    buildOld()

    // a documents-only state pair skips every family that reads orders
    val ordersFamilies = ArtifactFamily.all.filter(_.reads.contains("orders")).map(_.kind)
    assert(ordersFamilies.size === 4)
    assert(ArtifactFamily.refreshable(spark, v1, v2).map(_.kind).intersect(ordersFamilies)
      .isEmpty, "a documents-only append must not refresh the orders families")

    // orders append: fresh keys, some carrying value tuples already in
    // the old fact (the histogram multiset merge), some new values
    def ordersOf(rows: Seq[(Long, Long, String, Double, java.sql.Timestamp, String)]) =
      rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val t0 = java.sql.Timestamp.valueOf("1995-03-04 00:00:00")
    val oldOrders = (0L until 40L).map(i =>
      (i, i % 7, Seq("O", "P", "F")(i.toInt % 3), 100.0 + 3.25 * i, t0, s"${i % 5}-PRIO"))
    val batchOrders = (40L until 52L).map(i =>
      (i, i % 5, Seq("O", "P", "F")(i.toInt % 3), 90.5 + 7.75 * (i % 8), t0, s"${i % 5}-PRIO"))
    ordersOf(oldOrders).write.parquet(s"$v1/orders.parquet")
    ordersOf(oldOrders ++ batchOrders).write.parquet(s"$v2/orders.parquet")
    buildOld()

    val refreshed = Dedup.refreshArtifactsAfterAppend(spark, v1, v2)
    assert(refreshed.map(_._1) === ArtifactFamily.all.filter(_.refresh.isDefined).map(_.kind),
      "every built family with a refresh shape must refresh, in registry order")
    // from-scratch control: every family served on v2, then dropped
    // (files + entries) and rebuilt by the ordinary cold-build path
    val families = ArtifactFamily.readable(spark, v2)
    assert(families === ArtifactFamily.all.filter(_.reads.forall(Set("documents", "orders"))))
    val (incremental, scratch) = refreshedVsScratch(families, v2)
    // the refresh must have found actual work: batch docs appear in the
    // per-row families and the bridge doc merges the clusters
    assert(incremental("labels").exists(_.contains("[100,10]")),
      s"bridge doc must carry the merged min label: ${incremental("labels")}")
    assertRebuilt(incremental, scratch, "the incremental refresh (or the first build over " +
      "refreshed upstreams) must equal the from-scratch rebuild")
  }

  test("an append refreshes only what is built: an unbuilt family gets no old generation, " +
      "and a built one with no catalog entry is linked from its files") {
    val v1 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "inc-built-v1-").toString
    val v2 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "inc-built-v2-").toString
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val v1Rows = Seq(10L -> docA, 11L -> docA2, 20L -> docB, 21L -> docB2)
      .map { case (i, t) => (i, t, "en", "s", 100L) }
    val batchRows = Seq((100L, docC, "en", "s", 100L))
    v1Rows.toDF(cols: _*).write.parquet(s"$v1/documents.parquet")
    (v1Rows ++ batchRows).toDF(cols: _*).write.parquet(s"$v2/documents.parquet")

    // only h60 is built on the old state, and its catalog entry is gone
    // as in a cold JVM: only its files remain
    Dedup.H60.serve(spark, v1)
    val h60Old = Dedup.H60.name(spark, v1)
    Artifacts.dropEntry(spark, h60Old)
    val oldLoc = Artifacts.location(spark, h60Old)
    val fs = oldLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(loc: org.apache.hadoop.fs.Path) =
      fs.listStatus(loc).map(_.getPath).filterNot(p => p.getName.matches("[._].*"))
    /** `newLoc` holds every file of `oldFiles` as a `prev_` link, not a copy. */
    def assertLinked(kind: String, oldFiles: Seq[org.apache.hadoop.fs.Path],
        newLoc: org.apache.hadoop.fs.Path): Unit = {
      val linked = dataFiles(newLoc)
        .filter(_.getName.startsWith("prev_")).map(p => p.getName -> p).toMap
      assert(linked.keySet === oldFiles.map("prev_" + _.getName).toSet, s"$kind's links")
      oldFiles.foreach { p =>
        assert(java.nio.file.Files.isSameFile(java.nio.file.Paths.get(p.toUri.getPath),
          java.nio.file.Paths.get(linked("prev_" + p.getName).toUri.getPath)),
          s"$kind: $p was not linked")
      }
    }
    val oldFiles = dataFiles(oldLoc)

    val refreshed = Dedup.refreshArtifactsAfterAppend(spark, v1, v2)
    assert(refreshed.map(_._1) === Seq("h60"), "only the built family refreshes")
    val unbuilt = ArtifactFamily.readable(spark, v1).filterNot(_ eq Dedup.H60)
      .map(_.name(spark, v1)).filter(t => fs.exists(Artifacts.location(spark, t)))
    assert(unbuilt.isEmpty, s"the refresh built old generations nothing served: $unbuilt")
    assert(!spark.catalog.tableExists(s"${Artifacts.Db}.$h60Old"),
      "the refresh served h60's old generation instead of reading its files")
    assertLinked("h60", oldFiles.toSeq, Artifacts.location(spark, refreshed.head._2))

    // every family's first serve on the new state equals a from-scratch build
    val (incremental, scratch) = refreshedVsScratch(ArtifactFamily.readable(spark, v2), v2)
    assert(incremental("labels").exists(_.contains("[100,10]")),
      s"bridge doc must carry the merged min label: ${incremental("labels")}")
    assertRebuilt(incremental, scratch, "a first serve after the append must equal " +
      "the from-scratch rebuild")

    // a refresh serves, on the old state, only generations its build
    // served: each pair-set family built alone on v1 refreshes without
    // writing any other v1 generation, and each Append among them (every
    // one but labels, whose old rows change) serves none of its own old
    // generation and links all of its files
    assert(ArtifactFamily.all.filter(_.refresh.exists(_.isInstanceOf[ArtifactFamily.Fold]))
      .map(_.kind) === Seq("labels"), "only labels rewrites its old rows")
    val pairSets = ArtifactFamily.all
      .filter(f => Set("scored", "contam", "labels", "contaud").contains(f.kind))
    assert(pairSets.size === 4)
    def builtOn(dir: String): Set[String] = ArtifactFamily.readable(spark, dir)
      .map(_.name(spark, dir)).filter(t => fs.exists(Artifacts.location(spark, t))).toSet
    pairSets.foreach { f =>
      ArtifactFamily.readable(spark, v1, v2).foreach { g => g.drop(spark, v1); g.drop(spark, v2) }
      f.serve(spark, v1)
      val built = builtOn(v1)
      val old = f.name(spark, v1)
      val oldFiles = dataFiles(Artifacts.location(spark, old)).toSeq
      Artifacts.dropEntry(spark, old)
      Dedup.refreshArtifactsAfterAppend(spark, v1, v2)
      assert(builtOn(v1) -- built === Set.empty[String],
        s"refreshing ${f.kind} wrote old generations its build never served")
      if (f.refresh.exists(_.isInstanceOf[ArtifactFamily.Append])) {
        assert(!spark.catalog.tableExists(s"${Artifacts.Db}.$old"),
          s"refreshing ${f.kind} served its own old generation")
        assertLinked(f.kind, oldFiles, Artifacts.location(spark, f.name(spark, v2)))
      }
    }
  }

  test("an append's refresh frees the batch it materialized") {
    val v1 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "inc-free-v1-").toString
    val v2 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "inc-free-v2-").toString
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val v1Rows = Seq(10L -> docA, 20L -> docB).map { case (i, t) => (i, t, "en", "s", 100L) }
    v1Rows.toDF(cols: _*).write.parquet(s"$v1/documents.parquet")
    (v1Rows :+ ((100L, docC, "en", "s", 100L))).toDF(cols: _*)
      .write.parquet(s"$v2/documents.parquet")
    Dedup.H60.serve(spark, v1)
    val pinned = spark.sparkContext.getPersistentRDDs.size
    assert(Dedup.refreshArtifactsAfterAppend(spark, v1, v2).map(_._1) === Seq("h60"))
    assert(spark.sparkContext.getPersistentRDDs.size === pinned,
      "the refresh left its appended batch's checkpoint pinned")
  }
}

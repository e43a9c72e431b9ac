package graft

import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.types.StringType

import graft.sources.{Clean, Export, Ingest}

/** Ingest / Clean / Export surface (reference S1-S9, SURVEY.md §2.1). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir = Files.createTempDirectory("graft-spec").toString

  test("S1: pipe CSV with header reads all columns as string") {
    val dir = tmpDir
    Files.writeString(Paths.get(dir, "t.csv"), "PK|p_code\n1|pix\n2|boleto\n")
    val df = Ingest.csvAllString(spark, s"$dir/t.csv")
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.count() === 2)
    assert(df.columns.toSeq === Seq("PK", "p_code"))
  }

  test("S1b: schema-inferring CSV variant types numeric columns") {
    val dir = tmpDir
    Files.writeString(Paths.get(dir, "t.csv"), "id|price\n1|10.5\n2|20.25\n")
    val df = Ingest.csvInferred(spark, s"$dir/t.csv")
    assert(df.schema("id").dataType !== StringType)
    assert(df.schema("price").dataType !== StringType)
    assert(df.count() === 2)
  }

  test("S2b: JSON-lines roundtrip infers schema and preserves values") {
    val dir = tmpDir
    Files.writeString(Paths.get(dir, "t.jsonl"),
      """{"id":1,"v":"a","score":0.5}
        |{"id":2,"v":"b","score":1.25}
        |""".stripMargin)
    val df = Ingest.jsonLines(spark, s"$dir/t.jsonl")
    assert(df.count() === 2)
    assert(df.schema("id").dataType.typeName === "long")
    assert(df.schema("score").dataType.typeName === "double")
    assert(df.where($"v" === "b").select($"score").first().getDouble(0) === 1.25)
  }

  test("S2c: ORC roundtrip with predicate pushdown into the scan") {
    val dir = s"$tmpDir/orc"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").write.orc(dir)
    val df = Ingest.orc(spark, dir).where($"id" > 1)
    assert(df.count() === 2)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,1)"),
      s"id > 1 must reach the ORC scan:\n$plan")
  }

  test("S6b: export honors a custom separator") {
    val target = s"$tmpDir/report.csv"
    Export.asDelimitedFile(Seq((1L, "x")).toDF("id", "v"), target, sep = ",")
    val lines = Files.readAllLines(Paths.get(target))
    assert(lines.get(0) === "id,v" && lines.get(1) === "1,x")
  }

  test("S3: zip-wrapped parquet roundtrip") {
    val dir = tmpDir
    val pq = s"$dir/src"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(pq)
    // zip the parquet dir (driver-side, like the reference's ZipFile use)
    val zipPath = s"$dir/data.zip"
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(zipPath)))
    Files.walk(Paths.get(pq)).filter(Files.isRegularFile(_)).forEach { p =>
      zos.putNextEntry(new ZipEntry(Paths.get(pq).relativize(p).toString))
      zos.write(Files.readAllBytes(p))
      zos.closeEntry()
    }
    zos.close()
    val df = Ingest.zippedParquet(spark, zipPath, s"$dir/extract")
    assert(df.count() === 2)
    assert(df.columns.toSeq === Seq("id", "v"))
  }

  test("S4/S5/S7: saveAsTable into a database and read back via catalog") {
    Ingest.saveAsTable(Seq((1L, 10.0), (2L, 0.0)).toDF("pk", "price"), "graftdb", "carts_spec")
    val back = spark.table("`graftdb`.`carts_spec`")
    assert(back.count() === 2)
  }

  test("Clean: self-overwrite (the Delta-snapshot hazard) keeps results exact") {
    Ingest.saveAsTable(
      Seq((1L, 10.0), (2L, 0.0), (3L, 5.0)).toDF("pk", "price"), "graftdb", "carts_clean_spec")
    // direct overwrite-while-reading would throw on a parquet managed table
    Clean.rewriteTable(spark, "graftdb", "carts_clean_spec")(_.where($"price" > 0))
    val back = spark.table("`graftdb`.`carts_clean_spec`")
    assert(back.count() === 2)
    assert(back.select("pk").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("Clean: snapshot rewrite — atomic re-point, previous version retained, vacuum at depth 2") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    def location: org.apache.hadoop.fs.Path = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog
        .getTableMetadata(TableIdentifier("carts_snap_spec", Some("graftdb"))).location)
    Ingest.saveAsTable(
      Seq((1L, 10.0), (2L, 0.0), (3L, 5.0)).toDF("pk", "price"), "graftdb", "carts_snap_spec")
    val v0 = location
    val fs = v0.getFileSystem(spark.sparkContext.hadoopConfiguration)

    Clean.rewriteTable(spark, "graftdb", "carts_snap_spec")(_.where($"price" > 0))
    val v1 = location
    assert(v1.getName === "v=1", s"adopted version layout, got $v1")
    // reader snapshot isolation: the pre-rewrite files still exist and
    // still read as the OLD snapshot — an in-flight scan stays consistent
    assert(fs.exists(v0), "previous version vacuumed too early")
    assert(spark.read.parquet(v0.toString).count() === 3)
    assert(spark.table("`graftdb`.`carts_snap_spec`").count() === 2)

    Clean.rewriteTable(spark, "graftdb", "carts_snap_spec")(_.where($"pk" =!= 3L))
    val v2 = location
    assert(v2.getName === "v=2")
    assert(fs.exists(v1), "KeepSnapshots=2 keeps current + previous")
    assert(spark.table("`graftdb`.`carts_snap_spec`").select("pk").as[Long]
      .collect().toSet === Set(1L))

    Clean.rewriteTable(spark, "graftdb", "carts_snap_spec")(identity)
    assert(location.getName === "v=3")
    assert(!fs.exists(v1), "v=1 is beyond retention after the third rewrite")
    assert(fs.exists(v2))
  }

  test("Clean: version-pinned reads over the snapshot layout (VERSION AS OF analog)") {
    // idempotent across suite runs: clear any leftover __snap root
    Clean.dropTableWithSnapshots(spark, "graftdb", "carts_asof_spec")
    Ingest.saveAsTable(
      Seq((1L, 10.0), (2L, 0.0), (3L, 5.0)).toDF("pk", "price"),
      "graftdb", "carts_asof_spec")
    // never snapshot-rewritten → no retained versions, loud refusal
    assert(Clean.versions(spark, "graftdb", "carts_asof_spec") === Seq.empty)
    val e0 = intercept[IllegalArgumentException](
      Clean.readVersion(spark, "graftdb", "carts_asof_spec", 1L))
    assert(e0.getMessage.contains("not snapshot-managed"))

    Clean.rewriteTable(spark, "graftdb", "carts_asof_spec")(_.where($"price" > 0))
    Clean.rewriteTable(spark, "graftdb", "carts_asof_spec")(_.where($"pk" =!= 3L))
    assert(Clean.versions(spark, "graftdb", "carts_asof_spec") === Seq(1L, 2L))
    // v=1 is the first rewrite's snapshot; v=2 is the live table
    assert(Clean.readVersion(spark, "graftdb", "carts_asof_spec", 1L)
      .select("pk").as[Long].collect().toSet === Set(1L, 3L))
    assert(Clean.readVersion(spark, "graftdb", "carts_asof_spec", 2L)
      .select("pk").as[Long].collect().toSet === Set(1L))

    // a third rewrite vacuums v=1 (KeepSnapshots=2): the pinned read
    // fails loudly naming what IS retained, never reads the wrong data
    Clean.rewriteTable(spark, "graftdb", "carts_asof_spec")(identity)
    assert(Clean.versions(spark, "graftdb", "carts_asof_spec") === Seq(2L, 3L))
    val e1 = intercept[IllegalArgumentException](
      Clean.readVersion(spark, "graftdb", "carts_asof_spec", 1L))
    assert(e1.getMessage.contains("retained: 2, 3"))
  }

  test("Clean: adoption clears a stale __snap root left by a previous same-name incarnation") {
    Clean.dropTableWithSnapshots(spark, "graftdb", "carts_orphan_spec")
    Ingest.saveAsTable(Seq((1L, 1.0)).toDF("pk", "price"), "graftdb", "carts_orphan_spec")
    Clean.rewriteTable(spark, "graftdb", "carts_orphan_spec")(identity) // v=1
    Clean.rewriteTable(spark, "graftdb", "carts_orphan_spec")(identity) // v=2
    // plain DROP deletes only the current v=2 dir: the root and v=1
    // linger — the orphan a dead in-memory catalog leaves behind
    spark.sql("DROP TABLE `graftdb`.`carts_orphan_spec`")
    assert(Clean.versions(spark, "graftdb", "carts_orphan_spec") === Seq(1L),
      "precondition: the orphaned v=1 survives the plain drop")

    // same-name successor: adoption must NOT list the orphan as its own
    // retained history, and a pinned read must serve THIS incarnation
    Ingest.saveAsTable(
      Seq((7L, 2.0), (8L, 0.0)).toDF("pk", "price"), "graftdb", "carts_orphan_spec")
    Clean.rewriteTable(spark, "graftdb", "carts_orphan_spec")(_.where($"price" > 0))
    assert(Clean.versions(spark, "graftdb", "carts_orphan_spec") === Seq(1L))
    assert(Clean.readVersion(spark, "graftdb", "carts_orphan_spec", 1L)
      .select("pk").as[Long].collect().toSet === Set(7L))
  }

  test("Clean: snapshot rewrite does not hijack a user table parked at a v=N path") {
    // an EXTERNAL table whose location happens to be a partition-style
    // v=3 directory must NOT be treated as our version layout — its
    // parent lacks the __snap marker, so the rewrite adopts a fresh
    // root and never vacuums the user's sibling directories
    val base = s"$tmpDir/userpart"
    Seq((1L, 10.0), (2L, 0.0)).toDF("pk", "price")
      .write.parquet(s"$base/v=3")
    Seq((9L, 9.0)).toDF("pk", "price").write.parquet(s"$base/v=1") // sibling
    spark.sql(s"CREATE TABLE `graftdb`.`user_vdir` (pk BIGINT, price DOUBLE) " +
      s"USING parquet LOCATION '$base/v=3'")
    Clean.rewriteTable(spark, "graftdb", "user_vdir")(_.where($"price" > 0))
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "user_vdir", Some("graftdb"))).location)
    assert(loc.getParent.getName === "user_vdir__snap", s"adopted fresh root, got $loc")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/v=1")),
      "user's sibling directory must survive")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/v=3")),
      "user's original directory must survive")
    assert(spark.table("`graftdb`.`user_vdir`").count() === 1)
  }

  test("Clean: a pre-swap reader finishes on its snapshot while a post-swap " +
      "reader sees the new version (concurrent-reader window)") {
    Ingest.saveAsTable(
      Seq((1L, 10.0), (2L, 0.0), (3L, 5.0)).toDF("pk", "price"),
      "graftdb", "carts_isolation_spec")
    // open a scan BEFORE the rewrite and force planning, so its file
    // listing is fixed — the in-flight-reader shape the snapshot path's
    // retained previous version exists for
    val pre = spark.table("`graftdb`.`carts_isolation_spec`")
    pre.queryExecution.executedPlan // plan (and list files) now
    Clean.rewriteTable(spark, "graftdb", "carts_isolation_spec")(_.where($"price" > 0))
    // pre-swap reader: still the OLD snapshot, consistently
    assert(pre.select("pk").as[Long].collect().toSet === Set(1L, 2L, 3L),
      "a reader planned before the swap must finish on its snapshot")
    // post-swap reader: the new version
    assert(spark.table("`graftdb`.`carts_isolation_spec`")
      .select("pk").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("Clean: plain rewrite of a BUCKETED table keeps the bucket spec " +
      "(snapshot path refused; staged swap re-applies it)") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    Ingest.saveAsTableBucketed(
      Seq((1L, 10.0), (2L, 0.0), (3L, 5.0)).toDF("pk", "price"),
      "graftdb", "carts_bucketed_spec", "pk", 4)
    def meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("carts_bucketed_spec", Some("graftdb")))
    assert(meta.bucketSpec.nonEmpty, "fixture must start bucketed")
    // bucket = None on a bucketed table: SET LOCATION would point the
    // still-bucketed catalog entry at plain parquet ("Invalid bucket
    // file" on later scans) — the guard must take the swap path and
    // RE-APPLY the spec instead
    Clean.rewriteTable(spark, "graftdb", "carts_bucketed_spec")(_.where($"price" > 0))
    val bs = meta.bucketSpec
    assert(bs.nonEmpty && bs.get.numBuckets === 4 &&
      bs.get.bucketColumnNames === Seq("pk"),
      s"rewrite must preserve the bucket spec, got $bs")
    assert(spark.table("`graftdb`.`carts_bucketed_spec`")
      .select("pk").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("Clean: dropTableWithSnapshots reclaims the version root and the " +
      "pre-adoption managed dir (plain DROP TABLE would leak both)") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    Ingest.saveAsTable(
      Seq((1L, 10.0), (2L, 0.0), (3L, 5.0)).toDF("pk", "price"),
      "graftdb", "carts_drop_spec")
    val managed = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("carts_drop_spec", Some("graftdb"))).location)
    val fs = managed.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Clean.rewriteTable(spark, "graftdb", "carts_drop_spec")(_.where($"price" > 0))
    Clean.rewriteTable(spark, "graftdb", "carts_drop_spec")(identity)
    val snapRoot = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("carts_drop_spec", Some("graftdb"))).location)
      .getParent
    assert(snapRoot.getName === "carts_drop_spec__snap")
    assert(fs.exists(managed), "pre-adoption managed dir is retained while live")
    Clean.dropTableWithSnapshots(spark, "graftdb", "carts_drop_spec")
    assert(!spark.catalog.tableExists("graftdb.carts_drop_spec"))
    assert(!fs.exists(snapRoot), "retained snapshot versions must not leak on drop")
    assert(!fs.exists(managed), "the pre-adoption managed dir must not leak on drop")
  }

  test("Clean: a swap-path rewrite vacuums the stale __snap root the " +
      "snapshot layout left behind") {
    Ingest.saveAsTable(
      Seq((1L, 10.0), (2L, 0.0), (3L, 5.0)).toDF("pk", "price"),
      "graftdb", "carts_reswap_spec")
    Clean.rewriteTable(spark, "graftdb", "carts_reswap_spec")(_.where($"price" > 0))
    val snap = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "carts_reswap_spec", Some("graftdb"))).location).getParent
    val fs = snap.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(snap.getName === "carts_reswap_spec__snap" && fs.exists(snap))
    // bucketed rewrite = swap path: the layout resets to a managed
    // location and the now-unreferenced version root is vacuumed
    Clean.rewriteTable(spark, "graftdb", "carts_reswap_spec",
      bucket = Some(("pk", 2)))(identity)
    assert(!fs.exists(snap), "stale __snap root must be vacuumed by the swap")
    assert(spark.table("`graftdb`.`carts_reswap_spec`")
      .select("pk").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("Clean: re-runnable after a crash that left staging/old leftovers") {
    import org.apache.spark.sql.functions.col
    Ingest.saveAsTable(
      Seq((1L, 10.0), (2L, 0.0)).toDF("pk", "price"), "graftdb", "carts_rerun_spec")
    // simulate a crashed prior run: stale staging table AND orphan dirs
    Ingest.saveAsTable(
      Seq((9L, 9.9)).toDF("pk", "price"), "graftdb", "carts_rerun_spec__staging")
    Clean.rewriteTable(spark, "graftdb", "carts_rerun_spec")(_.where(col("price") > 0))
    val back = spark.table("`graftdb`.`carts_rerun_spec`")
    assert(back.select("pk").as[Long].collect().toSet === Set(1L))
    assert(!spark.catalog.tableExists("graftdb.carts_rerun_spec__old"))
  }

  test("S8/S9: scalar capture + ${var} SQL substitution") {
    val v = Ingest.captureScalar(spark,
      Seq(3L, 9L, 5L).toDF("x").agg(org.apache.spark.sql.functions.max($"x")),
      "graft.test.maxx")
    assert(v === "9")
    val out = spark.sql("SELECT ${graft.test.maxx} + 1 AS y").first().get(0).toString
    assert(out === "10")
  }

  test("S6: single-file delimited export with header") {
    val target = s"$tmpDir/report.txt"
    Export.asDelimitedFile(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), target)
    val lines = Files.readAllLines(Paths.get(target))
    assert(lines.get(0) === "id|v")
    assert(lines.size === 3)
  }

  test("partitioned table: date predicate prunes partitions at plan time") {
    import org.apache.spark.sql.functions.{col, year}
    val orders = Tables.load(spark, sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    Ingest.saveAsTablePartitioned(orders, "graftdb", "orders_part", Seq("o_year"))
    val q = spark.table("`graftdb`.`orders_part`").where(col("o_year") === 1995)
    val scan = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("FileScan")).getOrElse(fail("no scan"))
    assert(scan.contains("PartitionFilters: [") && scan.contains("o_year"),
      s"partition filter must prune at the scan:\n$scan")
    assert(q.count() > 0)
    // pruned scan reads strictly fewer files than the full table
    val allFiles = spark.table("`graftdb`.`orders_part`").inputFiles.length
    assert(q.inputFiles.length < allFiles)
  }

  test("calendar builder spans inclusive bounds") {
    val cal = Ingest.calendar(spark, "2022-01-01", "2022-01-31")
    assert(cal.count() === 31)
  }

  test("bucketed tables: co-bucketed fact-to-fact join runs with NO exchange") {
    import org.apache.spark.sql.functions.col
    val orders = Tables.load(spark, sf, "orders")
    val lines = Tables.load(spark, sf, "lineitem")
    Ingest.saveAsTableBucketed(orders, "graftdb", "orders_bkt", "o_orderkey", 8)
    Ingest.saveAsTableBucketed(
      lines.withColumnRenamed("l_orderkey", "o_orderkey"),
      "graftdb", "lineitem_bkt", "o_orderkey", 8)
    // force the shuffle-join path (a test-sized table would broadcast,
    // which hides exactly the exchange bucketing is there to delete)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("`graftdb`.`orders_bkt`")
        .join(spark.table("`graftdb`.`lineitem_bkt`"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n${plan.take(2500)}")
      assert(plan.contains("Bucketed: true"),
        s"scan must actually use the bucket layout:\n${plan.take(2500)}")
      // the join must produce the same result as the shuffled one
      val expected = orders.join(
        lines.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey").count()
      assert(joined.count() === expected)
      // a non-bucketed copy of the same join DOES shuffle — the contrast
      // that proves the bucket spec (not planner luck) removed them
      Ingest.saveAsTable(orders, "graftdb", "orders_plain")
      val mixed = spark.table("`graftdb`.`orders_plain`")
        .join(spark.table("`graftdb`.`lineitem_bkt`"), "o_orderkey")
      assert(mixed.queryExecution.executedPlan.toString.contains("Exchange"),
        "control: unbucketed side must still shuffle")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("artifact build lock: concurrent racers on one location build ONCE") {
    import graft.sources.Artifacts
    import org.apache.hadoop.fs.Path
    // call ensureBuilt DIRECTLY from many threads — this bypasses the
    // per-JVM servePersisted monitor, so each thread stands in for a
    // separate process; the create-exclusive .lock file is the only
    // thing serializing them (the r6 two-JVM double-build race)
    val loc = new Path(s"$tmpDir/race_artifact")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build = { builds.incrementAndGet(); Seq((1L, "x"), (2L, "y")).toDF("id", "v") }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map(_ => pool.submit(new Runnable {
        def run(): Unit = Artifacts.ensureBuilt(fs, loc)(stage =>
          build.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(stage.toString))
      }))
      futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(builds.get() === 1, "exactly one racer may run the build")
    assert(fs.exists(new Path(loc, "_SUCCESS")), "winner's write must be complete")
    assert(!fs.exists(new Path(loc.getParent, loc.getName + ".lock")),
      "lock must be released")
    assert(spark.read.parquet(loc.toString).count() === 2)
    // no leftover staging dirs — rename moved the winner's into place
    val stray = fs.listStatus(loc.getParent)
      .map(_.getPath.getName).filter(_.startsWith(loc.getName + "_stage_"))
    assert(stray.isEmpty, s"staging dirs must be cleaned: ${stray.mkString(",")}")
  }

  test("chained artifact links add the prev_ prefix once: 40 generations link one file") {
    import graft.sources.Artifacts
    import org.apache.hadoop.fs.Path
    // a Spark part name is 67 characters; a prefix added per generation
    // would pass NAME_MAX (255) at the 38th chained append
    val root = tmpDir
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = "part-00000-0e6f5c6e-2d0f-4c8f-9a5e-3b1c2d4e5f60-c000.snappy.parquet"
    val gens = (0 to 40).map(i => new Path(root, s"gen$i"))
    gens.foreach(fs.mkdirs)
    Files.write(Paths.get(gens.head.toUri.getPath, part), Array[Byte](1, 2, 3))
    gens.zip(gens.tail).foreach { case (from, to) =>
      assert(Artifacts.linkDataFilesInto(fs, from, to) === 1, s"$from linked no file")
    }
    assert(fs.listStatus(gens.last).map(_.getPath.getName).toSeq === Seq(s"prev_$part"))
    assert(Files.isSameFile(Paths.get(gens.head.toUri.getPath, part),
      Paths.get(gens.last.toUri.getPath, s"prev_$part")))
  }

  test("corpus fingerprint: key changes when a table is overwritten in place") {
    import graft.sources.Artifacts
    val dir = s"$tmpDir/fpr"
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val before = Artifacts.tablesFingerprint(spark, dir, Seq("documents"))
    assert(before === Artifacts.tablesFingerprint(spark, dir, Seq("documents")),
      "fingerprint must be stable while files are untouched")
    Seq((1L, "a"), (2L, "bb")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Artifacts.tablesFingerprint(spark, dir, Seq("documents")) !== before,
      "in-place overwrite must change the fingerprint")
  }

  test("content-keyed fingerprint: identical bytes with fresh mtimes keep the key " +
      "(regenerate-from-seed must HIT, r16 verdict task 3)") {
    import graft.sources.Artifacts
    val dir = s"$tmpDir/fpc"
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val before = Artifacts.tablesFingerprint(spark, dir, Seq("documents"))
    val keyBefore =
      Artifacts.key(spark, dir, Seq("documents"), spark.read.parquet(s"$dir/documents.parquet"))
    Thread.sleep(1100) // distinct mtime on coarse-granularity filesystems
    // byte-identical in-place rewrite: same files, same bytes, new mtimes
    // (what a seed-deterministic corpus regeneration produces)
    val files = Files.walk(Paths.get(dir)).iterator()
    files.forEachRemaining { p =>
      if (Files.isRegularFile(p)) Files.write(p, Files.readAllBytes(p))
    }
    assert(Artifacts.tablesFingerprint(spark, dir, Seq("documents")) === before,
      "identical content under fresh mtimes must keep the fingerprint")
    assert(Artifacts.key(spark, dir, Seq("documents"),
        spark.read.parquet(s"$dir/documents.parquet")) === keyBefore,
      "identical content under fresh mtimes must keep the artifact key " +
        "(a time-keyed fingerprint would rebuild every artifact per regeneration)")
  }

  test("content-keyed fingerprint: a same-length same-path data change still " +
      "changes the key (parquet footer moves under the digest windows)") {
    import graft.sources.Artifacts
    val dir = s"$tmpDir/fpd"
    val p = Paths.get(dir, "blob.parquet")
    Files.createDirectories(p.getParent)
    // same length, middle-of-head-window byte flipped — digest must move
    val bytes = Array.fill[Byte](4096)(7)
    Files.write(p, bytes)
    val before = Artifacts.tablesFingerprint(spark, dir, Seq("blob"))
    bytes(2048) = 9
    Files.write(p, bytes)
    assert(Artifacts.tablesFingerprint(spark, dir, Seq("blob")) !== before,
      "a rewrite with different bytes at identical (path, length) must change the key")
  }

  test("content-keyed fingerprint: a same-length rewrite inside the same mtime tick " +
      "still changes the key") {
    import graft.sources.Artifacts
    val dir = s"$tmpDir/fpt"
    val p = Paths.get(dir, "blob.parquet")
    Files.createDirectories(p.getParent)
    val bytes = Array.fill[Byte](4096)(7)
    Files.write(p, bytes)
    val tick = Files.getLastModifiedTime(p)
    val before = Artifacts.tablesFingerprint(spark, dir, Seq("blob"))
    bytes(2048) = 9
    Files.write(p, bytes)
    Files.setLastModifiedTime(p, tick) // the rewrite landed in the same tick
    assert(Artifacts.tablesFingerprint(spark, dir, Seq("blob")) !== before,
      "a rewrite with the same (path, length, mtime) and new bytes must change the key")
  }

  test("footer-aware digest: an interior change inside a >64 KiB parquet footer " +
      "(beyond both fixed windows) still changes the key (r17 verdict)") {
    import graft.sources.Artifacts
    val dir = s"$tmpDir/fpe"
    val p = Paths.get(dir, "wide.parquet")
    Files.createDirectories(p.getParent)
    // synthetic large-footer parquet shape: 512 KiB file whose trailer
    // claims a 200 KiB footer — the flipped byte sits inside the claimed
    // footer but OUTSIDE both 64 KiB fixed windows (len-128 KiB: >64 KiB
    // from either end), exactly the stale-serve hole the r17 verdict
    // describes for wide-schema / many-row-group files at sf100+
    val len = 512 * 1024
    val footerLen = 200 * 1024
    val bytes = Array.fill[Byte](len)(3)
    def writeTrailer(magic: Boolean): Unit = {
      bytes(len - 8) = (footerLen & 0xff).toByte
      bytes(len - 7) = ((footerLen >> 8) & 0xff).toByte
      bytes(len - 6) = ((footerLen >> 16) & 0xff).toByte
      bytes(len - 5) = ((footerLen >> 24) & 0xff).toByte
      val m = if (magic) "PAR1" else "XXXX"
      m.zipWithIndex.foreach { case (c, i) => bytes(len - 4 + i) = c.toByte }
    }
    writeTrailer(magic = true)
    Files.write(p, bytes)
    val before = Artifacts.tablesFingerprint(spark, dir, Seq("wide"))
    bytes(len - 128 * 1024) = 9 // inside claimed footer, outside both windows
    Files.write(p, bytes)
    assert(Artifacts.tablesFingerprint(spark, dir, Seq("wide")) !== before,
      "a data change inside a large parquet footer must move the fingerprint")
    // control: the SAME flip without the parquet magic stays outside the
    // fixed windows — proves the footer path (not window growth) caught it
    bytes(len - 128 * 1024) = 3
    writeTrailer(magic = false)
    Files.write(p, bytes)
    val beforeCtl = Artifacts.tablesFingerprint(spark, dir, Seq("wide"))
    bytes(len - 128 * 1024) = 9
    Files.write(p, bytes)
    assert(Artifacts.tablesFingerprint(spark, dir, Seq("wide")) === beforeCtl,
      "without the parquet magic the interior byte is outside both fixed windows")
  }

  test("sweepStale keeps the newest N generations per (kind, dir) family " +
      "and deletes superseded ones (r16 verdict task 6)") {
    import org.apache.hadoop.fs.Path
    import graft.sources.Artifacts
    val dbDir = new Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/${Artifacts.Db}.db")
    val fs = dbDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.Ingest.ensureDatabase(spark, Artifacts.Db)
    fs.mkdirs(dbDir)
    val groupA = "sweeptest_" + "a" * 10
    val groupB = "sweeptest_" + "b" * 10
    def mkGen(group: String, plan: String, ageMs: Long): String = {
      val name = s"${group}_${"0" * 8}_$plan"
      val d = new Path(dbDir, name)
      fs.mkdirs(d)
      fs.create(new Path(d, "_SUCCESS")).close()
      new java.io.File(d.toUri.getPath)
        .setLastModified(System.currentTimeMillis() - ageMs)
      name
    }
    val a1 = mkGen(groupA, "11111111", 4000) // oldest
    val a2 = mkGen(groupA, "22222222", 3000)
    val a3 = mkGen(groupA, "33333333", 2000)
    val a4 = mkGen(groupA, "44444444", 1000) // newest
    val b1 = mkGen(groupB, "55555555", 5000) // lone generation, other family
    val swept = Artifacts.sweepStale(spark, keep = 2)
    def exists(n: String) = fs.exists(new Path(dbDir, n))
    assert(!exists(a1) && !exists(a2), "superseded generations must be deleted")
    assert(exists(a3) && exists(a4), "the newest `keep` generations must survive")
    assert(exists(b1), "a family with <= keep generations must be untouched")
    assert(swept >= 2, s"sweep must report what it deleted (got $swept)")
    Seq(a3, a4, b1).foreach(n => Artifacts.dropArtifact(spark, n)) // cleanup
  }

  test("snapshot-keyed memo: overwrite-then-query returns fresh values in one JVM") {
    val dir = s"$tmpDir/memo"
    def docs(n: Int) = spark.range(n)
      .selectExpr("id AS doc_id", "'w' AS text", "'en' AS lang",
        "'s' AS source", "1 AS n_chars")
    docs(3).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(graft.operators.Dedup.docCount(spark, dir) === 3L)
    docs(7).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // dir-keyed memos served the stale 3 here before r7; snapshot keying
    // makes the overwritten corpus a fresh key
    assert(graft.operators.Dedup.docCount(spark, dir) === 7L,
      "memo must not serve a value probed from the overwritten snapshot")
    // the schema memo is content-keyed too: a rewrite with a drifted
    // physical type surfaces the new type, never the memoized one
    import org.apache.spark.sql.types.{IntegerType, LongType}
    assert(graft.Tables.load(spark, dir, "documents").schema("doc_id").dataType === LongType)
    docs(7).selectExpr("CAST(doc_id AS INT) AS doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(graft.Tables.load(spark, dir, "documents").schema("doc_id").dataType === IntegerType,
      "schema memo must not serve the schema of the overwritten snapshot")
    // loads share the schema, not the relation: two loads self-join on
    // their key as two sides (a shared attribute id would make the
    // condition trivially true and return 7 x 2 rows)
    val a = graft.Tables.load(spark, dir, "documents")
    val b = graft.Tables.load(spark, dir, "documents").where("doc_id < 2")
    val pairs = a.join(b, a("doc_id") === b("doc_id"))
      .select(a("doc_id"), b("doc_id")).collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(pairs.sorted.toSeq === Seq((0, 0), (1, 1)))
  }

  // -------------------------------------------------------------------
  // events.ts generation drift (round 9: the driver's generator switched
  // parquet TIMESTAMP(NANOS) → TIMESTAMP(MICROS) and the hard-coded nanos
  // shim took down 15 queries). Tables.load must adapt to every schema a
  // generator has produced, and refuse loudly on one it hasn't.
  // -------------------------------------------------------------------

  import org.apache.spark.sql.functions.{expr, lit, min, unix_timestamp}

  private def eventsFixture(dir: String)(ts: org.apache.spark.sql.Column): Unit =
    spark.range(3)
      .selectExpr("id AS event_id", "timestamp'2024-01-01 00:00:01' AS ts",
        "id AS user_id", "'view' AS event_type", "1.0 AS value",
        "'{\"k\": 1}' AS props")
      .withColumn("ts", ts)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("events loader: TIMESTAMP(MICROS) adjusted-to-UTC passes through as TimestampType") {
    import org.apache.spark.sql.types.TimestampType
    val dir = s"$tmpDir/ev-micros"
    eventsFixture(dir)($"ts") // TimestampType writes TIMESTAMP(MICROS, adjusted)
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.select(unix_timestamp(min($"ts"))).first().getLong(0) === 1704067201L)
  }

  test("events loader: TIMESTAMP(MICROS) not-adjusted (NTZ) casts to TimestampType, UTC-pinned") {
    import org.apache.spark.sql.types.TimestampType
    val dir = s"$tmpDir/ev-ntz"
    eventsFixture(dir)($"ts".cast("timestamp_ntz"))
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.select(unix_timestamp(min($"ts"))).first().getLong(0) === 1704067201L)
  }

  test("events loader: nanos-since-epoch Long (how TIMESTAMP(NANOS) surfaces under " +
      "nanosAsLong) converts with micro floor-truncation") {
    import org.apache.spark.sql.types.TimestampType
    val dir = s"$tmpDir/ev-nanos"
    // 2024-01-01 00:00:01.000000999 UTC in nanos: the trailing 999ns floor away
    eventsFixture(dir)(lit(1704067201000000999L))
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType === TimestampType)
    val micros = df.select(expr("unix_micros(ts)")).first().getLong(0)
    assert(micros === 1704067201000000L, s"expected floor to whole micros, got $micros")
  }

  test("events loader: an unrecognized ts type fails loudly with the file path") {
    val dir = s"$tmpDir/ev-bad"
    eventsFixture(dir)(lit("not-a-timestamp"))
    val e = intercept[IllegalArgumentException](Tables.load(spark, dir, "events"))
    assert(e.getMessage.contains(s"$dir/events.parquet") &&
      e.getMessage.contains("StringType"), e.getMessage)
  }

  test("schema break in events cannot poison queries that never read it " +
      "(q14 + q01 SQL parity stay green)") {
    import java.nio.file.StandardCopyOption.REPLACE_EXISTING
    val dir = s"$tmpDir/poisoned"
    Files.createDirectories(Paths.get(dir))
    Seq("orders", "lineitem").foreach { t =>
      Files.copy(Paths.get(sf, s"$t.parquet"), Paths.get(dir, s"$t.parquet"),
        REPLACE_EXISTING)
    }
    eventsFixture(dir)(lit("corrupt")) // loading events here would throw
    intercept[IllegalArgumentException](Tables.load(spark, dir, "events"))
    assert(graft.operators.CartAnalytics.q14CtePivot(spark, dir).count() > 0,
      "q14 reads only orders; a broken events file must not block it")
    assert(graft.operators.CartSql.q01Sql(spark, dir).count() > 0,
      "q01 SQL reads lineitem+orders; a broken events file must not block it")
  }

  // -------------------------------------------------------------------
  // Load-time schema contract for ALL tables (VERDICT r10 task 4): the
  // events-only defense above, generalized. One case per drift class.
  // -------------------------------------------------------------------

  test("schema contract: integral-width drift (int64→int32 key) loads fine") {
    val dir = s"$tmpDir/drift-intwidth"
    spark.range(3).selectExpr("CAST(id AS INT) AS c_custkey", "'n' AS c_name",
        "CAST(1 AS INT) AS c_nationkey", "1.5 AS c_acctbal", "'SEG' AS c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val df = Tables.load(spark, dir, "customer")
    assert(df.schema("c_custkey").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(df.count() === 3L)
  }

  test("schema contract: DATE-encoded order date loads through the Day class") {
    val dir = s"$tmpDir/drift-date"
    spark.range(2).selectExpr("id AS o_orderkey", "id AS o_custkey",
        "'O' AS o_orderstatus", "10.0 AS o_totalprice",
        "DATE'1997-03-01' AS o_orderdate", "'1-URGENT' AS o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val df = Tables.load(spark, dir, "orders")
    assert(df.selectExpr("year(o_orderdate)").first().getInt(0) === 1997)
  }

  test("schema contract: double-element embedding drift casts down to array<float> " +
      "(graft_dot's codegen contract)") {
    val dir = s"$tmpDir/drift-dvec"
    Seq((1L, Array(0.5d, 0.25d), 0)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val df = Tables.load(spark, dir, "embeddings")
    assert(df.schema("embedding").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val d = df.selectExpr("graft_dot(embedding, embedding)").first().getDouble(0)
    assert(math.abs(d - 0.3125) < 1e-6)
  }

  test("schema contract: out-of-class type drift in a NON-events table fails " +
      "loudly, naming file and column") {
    val dir = s"$tmpDir/drift-badtype"
    spark.range(2).selectExpr("id AS l_orderkey", "id AS l_partkey",
        "id AS l_suppkey", "CAST(1 AS INT) AS l_linenumber",
        "'five' AS l_quantity", "9.0 AS l_extendedprice", "0.1 AS l_discount",
        "0.0 AS l_tax", "'A' AS l_returnflag", "'O' AS l_linestatus",
        "timestamp'1997-01-01 00:00:00' AS l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val e = intercept[IllegalArgumentException](Tables.load(spark, dir, "lineitem"))
    assert(e.getMessage.contains(s"$dir/lineitem.parquet") &&
      e.getMessage.contains("l_quantity") &&
      e.getMessage.contains("StringType"), e.getMessage)
  }

  test("schema contract: a missing column fails loudly, naming what was found") {
    val dir = s"$tmpDir/drift-missingcol"
    Seq((1L, "text only")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException](Tables.load(spark, dir, "documents"))
    assert(e.getMessage.contains("lang") && e.getMessage.contains("doc_id, text"),
      e.getMessage)
  }

  test("schema contract: extra columns pass through untouched") {
    val dir = s"$tmpDir/drift-extracol"
    Seq((0, "AFRICA", "bonus")).toDF("r_regionkey", "r_name", "r_comment")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val df = Tables.load(spark, dir, "region")
    assert(df.columns.toSeq === Seq("r_regionkey", "r_name", "r_comment"))
  }

  test("schema break in a NON-events table cannot poison queries that never " +
      "read it (drifted part; q14 + q01 SQL stay green)") {
    import java.nio.file.StandardCopyOption.REPLACE_EXISTING
    val dir = s"$tmpDir/poisoned-part"
    Files.createDirectories(Paths.get(dir))
    Seq("orders", "lineitem").foreach { t =>
      Files.copy(Paths.get(sf, s"$t.parquet"), Paths.get(dir, s"$t.parquet"),
        REPLACE_EXISTING)
    }
    spark.range(2).selectExpr("id AS p_partkey", "'p' AS p_name",
        "'B' AS p_brand", "'SMALL' AS p_type", "CAST(1 AS INT) AS p_size",
        "'expensive' AS p_retailprice") // out-of-class: string price
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    intercept[IllegalArgumentException](Tables.load(spark, dir, "part"))
    assert(graft.operators.CartAnalytics.q14CtePivot(spark, dir).count() > 0,
      "q14 reads only orders; a broken part file must not block it")
    assert(graft.operators.CartSql.q01Sql(spark, dir).count() > 0,
      "q01 SQL reads lineitem+orders; a broken part file must not block it")
  }

  test("Artifacts.keyFor memoizes the defining-plan construction per corpus " +
      "state and re-derives when the corpus is rewritten in place") {
    import graft.sources.Artifacts
    val dir = java.nio.file.Files.createTempDirectory("graft-keyfor").toString
    spark.range(100).toDF("doc_id").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    var built = 0
    def defining() = { built += 1; spark.read.parquet(s"$dir/documents.parquet") }
    val k1 = Artifacts.keyFor(spark, dir, "keyfor-spec", Seq("documents"))(defining())
    val k2 = Artifacts.keyFor(spark, dir, "keyfor-spec", Seq("documents"))(defining())
    assert(k1 === k2 && built === 1,
      s"second call must serve the memo without re-constructing the defining plan (built=$built)")
    // byte-identical to the un-memoized key derivation (cross-JVM reuse)
    assert(k1 === Artifacts.key(spark, dir, Seq("documents"),
      spark.read.parquet(s"$dir/documents.parquet")))
    // a DIFFERENT kind over the same corpus gets its own memo row
    val kOther = Artifacts.keyFor(spark, dir, "keyfor-spec-2", Seq("documents"))(defining())
    assert(built === 2 && kOther === k1,
      "same defining plan under another kind re-derives once, same key value")
    // rewriting the corpus in place must MISS (the stale-serve hole):
    // ensure a different mtime even on coarse-granularity filesystems
    Thread.sleep(1100)
    spark.range(101).toDF("doc_id").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val k3 = Artifacts.keyFor(spark, dir, "keyfor-spec", Seq("documents"))(defining())
    assert(built === 3 && k3 != k1,
      "a rewritten corpus must re-derive and change the key")
  }

  test("Artifacts.keyFor mints the fresh-JVM key after an in-place rewrite " +
      "of a corpus whose scan spreads") {
    import org.apache.spark.sql.functions.{expr, lit}
    import graft.sources.Artifacts
    import graft.plans.Scale
    // same precondition as ScaleSpec's spread fixture
    assume(spark.sparkContext.defaultParallelism >= 2,
      "needs defaultParallelism >= 2 for the spread to fire")
    val dir = Files.createTempDirectory("graft-keyfor-spread").toString
    val path = s"$dir/documents.parquet"
    // ~12 MB of incompressible hex in one row group → the spread fires
    // and its decision is memoized per content state of the file
    spark.range(2000)
      .select($"id", expr(
        "concat_ws('', transform(sequence(1, 200), i -> md5(concat(id, '-', i))))").as("text"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    def defining() = Scale.spreadIfNarrow(spark.read.parquet(path))
    val kBig = Artifacts.keyFor(spark, dir, "keyfor-spread", Seq("documents"))(defining())
    assert(defining().rdd.getNumPartitions === spark.sparkContext.defaultParallelism,
      "fixture must actually trigger (and memoize) a spread")
    Thread.sleep(1100) // distinct mtime on coarse-granularity filesystems
    spark.range(10).select($"id", lit("t").as("text"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    // new content → the spread re-probes → the defining plan keyFor
    // hashes is the one a FRESH JVM would build
    val kSmall = Artifacts.keyFor(spark, dir, "keyfor-spread", Seq("documents"))(defining())
    assert(kSmall != kBig)
    // a fresh JVM leaves the sub-floor scan unspread
    val kFresh = Artifacts.key(spark, dir, Seq("documents"), spark.read.parquet(path))
    assert(kSmall === kFresh,
      "post-rewrite keyFor must hash the plan a fresh JVM reproduces " +
        "(stale spread decision baked into the defining plan)")
  }

  test("keyFor's FIRST observation of a dir mints the fresh-JVM key " +
      "(spread decided before any keyFor, then in-place rewrite)") {
    import org.apache.spark.sql.functions.{expr, lit}
    import graft.sources.Artifacts
    import graft.plans.Scale
    assume(spark.sparkContext.defaultParallelism >= 2,
      "needs defaultParallelism >= 2 for the spread to fire")
    val dir = Files.createTempDirectory("graft-keyfor-firstobs").toString
    val path = s"$dir/documents.parquet"
    spark.range(2000)
      .select($"id", expr(
        "concat_ws('', transform(sequence(1, 200), i -> md5(concat(id, '-', i))))").as("text"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    // a non-artifact query decides the spread — NO keyFor ran, so keyFor
    // has never observed this dir's documents fingerprint
    val spread = Scale.spreadIfNarrow(spark.read.parquet(path))
    assert(spread.rdd.getNumPartitions === spark.sparkContext.defaultParallelism,
      "fixture must spread")
    spread.count()
    Thread.sleep(1100)
    spark.range(10).select($"id", lit("t").as("text"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    // FIRST keyFor over the dir must not hash the decision taken on the
    // old bytes
    val k = Artifacts.keyFor(spark, dir, "keyfor-firstobs", Seq("documents"))(
      Scale.spreadIfNarrow(spark.read.parquet(path)))
    val kFresh = Artifacts.key(spark, dir, Seq("documents"), spark.read.parquet(path))
    assert(k === kFresh,
      "first-observation keyFor must mint the key a fresh JVM reproduces")
  }
}

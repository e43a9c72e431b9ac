package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions.{col, lit, max}

import graft.sources.{ArtifactFamily, Artifacts}

/** Invariants of the artifact-family registry: every family is declared
  * once under a unique kind, names its tables in the generation format
  * [[Artifacts.sweepStale]] groups by (a family that breaks it is never
  * garbage-collected), names them without building anything, keys them
  * on exactly the tables it reads, and `drop` leaves no catalog entry or
  * file. */
class ArtifactFamilySpec extends SparkSpec {

  test("registry kinds are unique") {
    val kinds = ArtifactFamily.all.map(_.kind)
    assert(kinds.distinct === kinds, s"duplicate kinds in $kinds")
  }

  test("every family's table name is <kind>_<10 hex>_<8 hex>_<8 hex>") {
    ArtifactFamily.all.foreach { f =>
      val name = f.name(spark, sf)
      assert(name.matches(s"${f.kind}_[0-9a-f]{10}_[0-9a-f]{8}_[0-9a-f]{8}"),
        s"family '${f.kind}' names its table '$name'")
    }
  }

  test("every family's defining plan scans only corpus tables it declares in reads") {
    // a derivation that starts reading an undeclared table would keep a
    // table-scoped key (and `refreshable`'s both-states check) blind to
    // changes of that table: a stale serve
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val corpus = new org.apache.hadoop.fs.Path(sf)
      .getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(
        new org.apache.hadoop.fs.Path(sf))
    ArtifactFamily.all.foreach { f =>
      val scanned = f.defining(spark, sf).queryExecution.analyzed.collectWithSubqueries {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.rootPaths
      }.flatten.filter(_.getParent == corpus).map(_.getName.stripSuffix(".parquet")).toSet
      assert(scanned.nonEmpty, s"family '${f.kind}': its defining plan scans no corpus table")
      assert(scanned.subsetOf(f.reads.toSet),
        s"family '${f.kind}' scans ${scanned.toSeq.sorted} but declares ${f.reads}")
    }
  }

  test("naming a family serves no family") {
    // a name is a key over the defining plan; a plan that serves another
    // family would build it just to mint a table name. The memo may skip
    // the plan on a warm name, so the plan a miss constructs is checked too.
    val serving = ArtifactFamily.all.map { f =>
      f.kind -> ArtifactFamily.servedDuring { f.name(spark, sf); f.defining(spark, sf) }
    }.filter(_._2.nonEmpty)
    assert(serving.isEmpty, s"naming these families serves others: $serving")
  }

  test("an append to one table renames exactly the families that read it") {
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "fam-scope-")
    val dir = base.resolve("corpus").toString
    val fs = new Path(sf).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(sf)).foreach { st =>
      FileUtil.copy(fs, st.getPath, fs, new Path(dir, st.getPath.getName), false, fs.getConf)
    }
    /** Rewrite `dir/<table>.parquet` in place as its rows plus three
      * copies under fresh keys. */
    def appendInPlace(table: String, key: String): Unit = {
      val path = new Path(dir, s"$table.parquet")
      val stage = base.resolve(s"$table-stage").toString
      val old = spark.read.parquet(path.toString)
      val next = old.agg(max(col(key))).first().getLong(0) + 1L
      old.unionByName(old.orderBy(col(key)).limit(3)
          .withColumn(key, (col(key) + lit(next)).cast(old.schema(key).dataType)))
        .write.parquet(stage)
      fs.delete(path, true)
      assert(fs.rename(new Path(stage), path))
    }
    def names() = ArtifactFamily.all.map(f => f -> f.name(spark, dir)).toMap
    Seq("orders" -> "o_orderkey", "documents" -> "doc_id").foreach { case (table, key) =>
      val before = names()
      appendInPlace(table, key)
      val after = names()
      val (readers, others) = ArtifactFamily.all.partition(_.reads.contains(table))
      assert(readers.nonEmpty && others.nonEmpty, s"no contrast for a $table append")
      readers.foreach(f => assert(after(f) != before(f),
        s"a $table append must rename '${f.kind}', which reads $table"))
      others.foreach(f => assert(after(f) === before(f),
        s"a $table-only append renamed '${f.kind}', which reads only ${f.reads}"))
    }
  }

  test("a cold serve of every family leaves the CacheManager as it found it") {
    // a build that persists a served frame must unpersist it once its
    // table is written; left cached, it pins memory for the JVM's lifetime
    // and turns later scans of that table into in-memory scans
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "fam-cache-").resolve("corpus").toString
    val fs = new Path(sf).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(sf)).foreach { st =>
      FileUtil.copy(fs, st.getPath, fs, new Path(dir, st.getPath.getName), false, fs.getConf)
    }
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val leaking = ArtifactFamily.all.filter { f =>
      f.serve(spark, dir)
      val left = !cache.isEmpty
      spark.catalog.clearCache()
      left
    }.map(_.kind)
    assert(leaking.isEmpty, s"cold builds that leave frames cached: $leaking")
  }

  test("drop removes both the catalog entry and the files") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "fam-drop-").toString
    import spark.implicits._
    Seq((1L, "one two three four", "en", "s", 18L), (2L, "five six seven", "en", "s", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val f = graft.operators.TextAnalysis.WordTf
    f.serve(spark, dir)
    val name = f.name(spark, dir)
    val loc = Artifacts.location(spark, name)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(spark.catalog.tableExists(s"${Artifacts.Db}.$name") && fs.exists(loc),
      "serve must register and write the table")
    f.drop(spark, dir)
    assert(!spark.catalog.tableExists(s"${Artifacts.Db}.$name"), "catalog entry survived drop")
    assert(!fs.exists(loc), "artifact files survived drop")
  }
}

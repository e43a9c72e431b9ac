package graft

import graft.sources.{ArtifactFamily, Artifacts}

/** Invariants of the artifact-family registry: every family is declared
  * once under a unique kind, names its tables in the generation format
  * [[Artifacts.sweepStale]] groups by (a family that breaks it is never
  * garbage-collected), and `drop` leaves no catalog entry or file. */
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

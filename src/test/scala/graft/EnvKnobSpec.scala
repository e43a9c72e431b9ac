package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.internal.SQLConf

/** The engine reads eight environment names and no others: four
  * deployment settings (`Session`, `Bench`) and the overrides of the
  * safety guards whose error messages tell the operator to raise them.
  * Every other setting is a constant, or a runtime SQL conf a caller sets
  * with `spark.conf.set` after `Session.get`. */
class EnvKnobSpec extends SparkSpec {

  private val Kept = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_SF_DIR",
    "GRAFT_BASELINE_MAX_DOCS", "GRAFT_BASELINE_MAX_VECTORS",
    "GRAFT_KEEP_SNAPSHOTS", "GRAFT_TMP_VACUUM_MIN_AGE_SEC")

  private val EnvRead = """(?:sys\.env[^(\n]*|System\.getenv|envLong)\("([A-Z0-9_]+)"""".r

  test("src/main reads exactly the eight kept environment names") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    val read = files.flatMap { f =>
      EnvRead.findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> f.toString)
    }
    assert(read.map(_._1).toSet === Kept,
      s"environment reads: ${read.sortBy(_._1).mkString(", ")}")
  }

  test("Session leaves scan split, broadcast threshold and join strategy at Spark's defaults") {
    val c = spark.sessionState.conf
    assert(c.filesMaxPartitionBytes === 128L * 1024 * 1024)
    assert(c.autoBroadcastJoinThreshold === 10L * 1024 * 1024)
    assert(c.preferSortMergeJoin === true)
    assert(c.getConf(SQLConf.ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD) === 0L)
  }
}

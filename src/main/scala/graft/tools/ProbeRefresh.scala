package graft.tools

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{BenchConsume, CpuMeter, Session, Tables}
import graft.sources.{ArtifactFamily, Artifacts}

/** Measure the incremental artifact refresh against a full from-scratch
  * rebuild on an APPENDED corpus, and prove digest equality for every
  * family of the registry with a refresh shape ([[ArtifactFamily.all]]).
  *
  * Usage: runMain graft.tools.ProbeRefresh <oldDir> <newDir> [batchFrac]
  *
  * `newDir` is created on first run ([[appendBatch]]) as oldDir's
  * corpus with its documents and orders each grown by a synthesized
  * batch (default 1% of the table):
  *   documents: half near-dup mutations of sampled old docs — so band
  *              collisions, contamination pairs, and cluster merges
  *              actually happen — and half fresh text;
  *   orders:    fresh o_orderkeys, half carrying duplicate value tuples
  *              (multiset merge of existing histogram rows) and half
  *              shifted price/custkey values (new histogram rows).
  * Then:
  *   phase old:     build oldDir's generation of every family with a
  *                  refresh shape (timed; ~0 when a prebuild leg
  *                  already built them), so every one refreshes
  *   phase refresh: refresh each family incrementally onto newDir
  *   phase scratch: drop newDir's artifacts, rebuild each from scratch
  * and print one JSON line with per-family wall, CPU and jobs for both
  * phases, the bytes each refresh wrote (data files that are not `prev_`
  * links), and a per-family digest comparison (BenchConsume xor-fold over
  * the canonical rows — order-insensitive, all columns). A scratch build
  * runs over upstreams just rebuilt in this JVM: a lower bound.
  */
object ProbeRefresh {
  def main(args: Array[String]): Unit = {
    val oldDir = args(0)
    val newDir = args(1)
    val batchFrac = if (args.length > 2) args(2).toDouble else 0.01
    val spark = Session.get("graft-probe-refresh")
    CpuMeter.install(spark)

    appendBatch(spark, oldDir, newDir, batchFrac)

    def timed(body: => Unit): (Double, Double, Long) = {
      CpuMeter.snapshot(spark)
      val (t0, j0) = (System.nanoTime(), CpuMeter.jobs)
      val (_, cpu, _) = CpuMeter.measure(spark)(body)
      ((System.nanoTime() - t0) / 1e9, cpu, CpuMeter.jobs - j0)
    }

    // ---- phase old: the deployment precondition -----------------------
    val (oldWall, oldCpu, _) = timed(ArtifactFamily.readable(spark, oldDir, newDir)
      .filter(_.refresh.isDefined).foreach(_.serve(spark, oldDir)))
    spark.catalog.clearCache()
    val fams = ArtifactFamily.refreshable(spark, oldDir, newDir)
    def phase(label: String)(step: ArtifactFamily => Unit): Map[String, (Double, Double, Long)] = {
      val times = fams.map { f =>
        val (w, c, j) = timed(step(f))
        System.err.println(f"[probe-refresh] $label ${f.kind}: $w%.1f s / $c%.1f cpu-s / $j jobs")
        f.kind -> (w, c, j)
      }.toMap
      spark.catalog.clearCache()
      times
    }
    def digests(): Map[String, (Long, Long)] = fams.map { f =>
      f.kind -> BenchConsume.consume(
        f.canonical(spark.table(s"`${Artifacts.Db}`.`${f.name(spark, newDir)}`")))
    }.toMap

    // a prior run (or its scratch phase) may have left newDir artifacts
    // behind — drop them so the refresh phase measures a real build
    fams.foreach(_.drop(spark, newDir))

    // ---- phase refresh, then scratch: drop + ordinary cold build ------
    val refreshTimes = phase("refresh")(_.refreshAfterAppend(spark, oldDir, newDir))
    val refreshDigests = digests()
    val fs = new Path(newDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val written = fams.map { f =>
      f.kind -> fs.listStatus(Artifacts.location(spark, f.name(spark, newDir)))
        .filter(st => st.isFile && !st.getPath.getName.matches("(prev_|[._]).*"))
        .map(_.getLen).sum
    }.toMap
    fams.foreach(_.drop(spark, newDir))
    spark.catalog.clearCache()
    val scratchTimes = phase("scratch")(_.serve(spark, newDir))
    val scratchDigests = digests()

    def jnum(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val famJson = fams.map(_.kind).map { fam =>
      val ((rw, rc, rj), (sw, sc, sj)) = (refreshTimes(fam), scratchTimes(fam))
      val (rn, _) = refreshDigests(fam)
      s""""$fam":{"refresh_s":${jnum(rw)},"refresh_cpu_s":${jnum(rc)},""" +
        s""""refresh_jobs":$rj,"refresh_bytes_written":${written(fam)},""" +
        s""""scratch_s":${jnum(sw)},"scratch_cpu_s":${jnum(sc)},"scratch_jobs":$sj,""" +
        s""""rows":$rn,"digest_match":${refreshDigests(fam) == scratchDigests(fam)}}"""
    }.mkString("{", ",", "}")
    def total(ts: Map[String, (Double, Double, Long)]) =
      (ts.values.map(_._1).sum, ts.values.map(_._2).sum)
    val ((rTot, rCpuTot), (sTot, sCpuTot)) = (total(refreshTimes), total(scratchTimes))
    val line =
      s"""{"probe":"refresh","old":"$oldDir","new":"$newDir","n_families":${fams.size},""" +
      s""""old_build_s":${jnum(oldWall)},"old_build_cpu_s":${jnum(oldCpu)},""" +
      s""""refresh_s":${jnum(rTot)},"refresh_cpu_s":${jnum(rCpuTot)},""" +
      s""""scratch_s":${jnum(sTot)},"scratch_cpu_s":${jnum(sCpuTot)},""" +
      s""""refresh_over_scratch":${jnum(rTot / math.max(sTot, 1e-9))},""" +
      s""""digests_equal":${refreshDigests == scratchDigests},"families":$famJson}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/probe_refresh.json"), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    println(line)
  }

  /** Write `newDir` as `oldDir`'s corpus plus a synthesized append: the
    * documents and orders tables each grow by a batch of `batchFrac` of
    * their rows (see the header), every other table is copied unchanged.
    * A table `newDir` already holds is left as it is. */
  def appendBatch(spark: SparkSession, oldDir: String, newDir: String,
      batchFrac: Double): Unit = {
    val fs = new Path(newDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def grow(table: String, key: String, cols: Column*)(
        batchOf: (DataFrame, Long) => DataFrame): Unit = {
      val (src, dst) = (s"$oldDir/$table.parquet", s"$newDir/$table.parquet")
      if (fs.exists(new Path(src)) && !fs.exists(new Path(dst))) {
        val old = Tables.load(spark, oldDir, table)
        val maxId = old.agg(max(col(key))).first().getLong(0)
        val nBatch = math.max(1L, (old.count() * batchFrac).toLong)
        val sampled = old.orderBy(col(key)).limit(nBatch.toInt)
        old.select(cols: _*).unionByName(batchOf(sampled, maxId))
          .write.mode("overwrite").parquet(dst)
        System.err.println(s"[probe-refresh] wrote $dst (+$nBatch batch rows)")
      }
    }
    grow("documents", "doc_id", col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars").cast("long").as("n_chars")) { (docs, maxId) =>
      val id = col("doc_id") + maxId + 1L
      docs.select(id.as("doc_id"),
        when(id % 2 === 0, concat_ws(" ", slice(split(col("text"), "\\s+"), 2, Int.MaxValue)))
          .otherwise(concat(lit("fresh append "), col("text"))).as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    grow("orders", "o_orderkey", col("*")) { (ord, maxId) =>
      val id = col("o_orderkey") + maxId + 1L
      ord.select(id.as("o_orderkey"),
        when(id % 2 === 0, col("o_custkey") + 7L).otherwise(col("o_custkey")).as("o_custkey"),
        col("o_orderstatus"),
        when(id % 2 === 0, col("o_totalprice") + 0.17)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }
    fs.listStatus(new Path(oldDir)).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !fs.exists(new Path(newDir, p.getName)))
      .foreach(p => FileUtil.copy(fs, p, fs, new Path(newDir, p.getName), false,
        spark.sparkContext.hadoopConfiguration))
  }
}

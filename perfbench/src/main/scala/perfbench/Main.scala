package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{BenchConsume, CpuMeter, Pipeline, Session, SparkEntry, Tables}
import graft.operators._
import graft.plans.Scale
import graft.sources.{Artifacts, Clean, Export, Ingest}

/** The lifecycle benchmark's engine side: one driver process and one
  * closed-loop client that runs queries one after another. Every layer is
  * timed from outside, around calls into the engine's public entry points;
  * none of their logic is copied here.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <corpus> <work> <out.json> <queries>
  *
  * `corpus` holds the generated corpus states `v1` and (for `lifecycle`
  * and `expect`) `v2`; `queries` is a comma-separated list of
  * `SparkEntry.queries` names. The raw measurements go to `out.json` as
  * one JSON object; `run.py` turns them into metrics and checks them.
  */
object Main {
  /** One query execution: `phase` is build/warmup (untimed set-up),
    * timed (serve), cold or fresh (lifecycle). */
  case class Op(phase: String, cycle: Int, query: String, cost: Cost, rows: Long,
      digest: Long, builds: Long, error: String)

  private val ops = ArrayBuffer.empty[Op]
  /** (phase name, cycle, cost). */
  private val phases = ArrayBuffer.empty[(String, Int, Cost)]
  private val facts = LinkedHashMap.empty[String, Any]

  private def now = System.nanoTime()

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, corpus, work, out, queryList) = args
    val queries = queryList.split(",").toSeq
    val (spark, startS) = timed {
      Session.builder("perfbench")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    CpuMeter.install(spark)
    val artifactRoot = Paths.get(work, "warehouse", s"${Artifacts.Db}.db")
    val initialArtifacts = artifactDirs(artifactRoot)
    if (trace == "1") Trace.start(spark, () => artifactDirs(artifactRoot))
    facts("session_start_s") = startS
    facts("master") = spark.sparkContext.master
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    facts("modules") = queries.map(q => q -> moduleOf(q)).toMap

    workload match {
      case "serve" => serve(spark, seed.toLong, seconds.toDouble, s"$corpus/v1", queries)
      case "lifecycle" => lifecycle(spark, seconds.toDouble, corpus, work, queries, artifactRoot)
      case "expect" => expect(spark, corpus, work, queries)
      case other => sys.error(s"unknown workload $other")
    }

    val finalArtifacts = artifactDirs(artifactRoot)
    if (Trace.enabled)
      facts("unattributed") =
        (finalArtifacts -- initialArtifacts -- Trace.all.flatMap(_.artifacts)).toSeq.sorted
    facts("trace_overhead_s") = Trace.overheadS
    facts("peak_rss_kb") = peakRssKb()
    facts("heap_retained_bytes") = retainedHeap()
    facts("artifact_bytes") = treeBytes(artifactRoot)
    facts("artifact_files") = files(artifactRoot).size
    facts("artifact_sizes") = finalArtifacts.map(d => d -> treeBytes(artifactRoot.resolve(d))).toMap
    facts.getOrElseUpdate("warehouse_bytes", treeBytes(Paths.get(work, "warehouse")))
    spark.stop()
    Files.writeString(Paths.get(out), json)
  }

  // ------------------------------------------------------------------
  // workloads

  /** Warm serving. Set-up: one cold pass builds every artifact the query
    * set reads, `sweepStale` runs as a build session would, and one warm
    * pass warms the JIT. Then closed-loop passes, each in a seeded order,
    * until `seconds` have elapsed (at least two). */
  private def serve(spark: SparkSession, seed: Long, seconds: Double, dir: String,
      queries: Seq[String]): Unit = {
    pass(spark, "build", dir, queries)
    sweep(spark)
    val (_, warmS) = timed(Trace.span("Session.warmup")(pass(spark, "warmup", dir, queries)))
    facts("warmup_s") = warmS
    spark.catalog.clearCache()
    firstTimed()
    val rng = new scala.util.Random(seed)
    val t0 = now
    var cycle = 1
    while (cycle <= 2 || (now - t0) / 1e9 < seconds) {
      pass(spark, "timed", dir, rng.shuffle(queries), cycle)
      cycle += 1
    }
  }

  /** A first-time user: a fresh JVM, a corpus path it has never seen (so
    * the fingerprint, batch and doc-count memos miss) and no artifacts.
    * Each timed cycle, on its own fresh copy of the corpus and its own
    * catalog database: raw files → catalog (the calls `Pipeline.run`
    * makes, one span each) → calendar → clean → export → the first answer
    * to every query, which builds every artifact the queries read. Cycles
    * repeat until `seconds` have elapsed (at least one).
    *
    * Traced runs go on to the append: the batch in `v2` becomes visible,
    * `refreshArtifactsAfterAppend` runs from the last cycle's state, and
    * every query is answered on `v2`, and last, untimed, `Pipeline.run` on
    * one more copy writes the reference report. Untraced runs check the
    * cycles' reports against the stored digest of that report. */
  private def lifecycle(spark: SparkSession, seconds: Double, corpus: String, work: String,
      queries: Seq[String], artifactRoot: Path): Unit = {
    firstTimed()
    val reports, cycleBytes = ArrayBuffer.empty[Any]
    val t0 = now
    var cycle = 1
    var v1 = ""
    while (cycle == 1 || (now - t0) / 1e9 < seconds) {
      v1 = freshCopy(corpus, s"cycle$cycle")
      val db = s"perfbench_cycle$cycle"
      val report = s"$work/report-$cycle.csv"
      val bytes0 = treeBytes(Paths.get(work, "warehouse"))
      coldCycle(spark, cycle, v1, db, report, queries, Paths.get(work, "warehouse", s"$db.db"))
      cycleBytes += treeBytes(Paths.get(work, "warehouse")) - bytes0
      reports += report
      cycle += 1
    }
    facts("reports") = reports.toSeq
    facts("cycle_bytes") = cycleBytes.toSeq

    if (Trace.enabled) {
      val v2 = s"$corpus/v2"
      val before = artifactDirs(artifactRoot)
      phase("refresh") {
        Trace.span("Dedup.refreshArtifactsAfterAppend")(Dedup.refreshArtifactsAfterAppend(spark, v1, v2))
      }
      val (linked, written) = (artifactDirs(artifactRoot) -- before).toSeq
        .map(d => linkedAndWritten(artifactRoot.resolve(d)))
        .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
      facts("refresh_linked_bytes") = linked
      facts("refresh_written_bytes") = written
      pass(spark, "fresh", v2, queries)
    }
    sweep(spark)
    if (Trace.enabled) {
      val reference = s"$work/report-pipeline.csv"
      Pipeline.run(spark, freshCopy(corpus, "reference"), "perfbench_reference", reference)
      facts("report_reference") = reference
    }
  }

  /** One timed lifecycle cycle on corpus `v1` into catalog database `db`. */
  private def coldCycle(spark: SparkSession, cycle: Int, v1: String, db: String, report: String,
      queries: Seq[String], dbDir: Path): Unit = {
    phase("ingest", cycle) {
      Ingest.ensureDatabase(spark, db)
      Trace.span("Scale.Bucketing.writeBucketed")(Scale.Bucketing.writeBucketed(
        Tables.load(spark, v1, "lineitem"), db, "lineitem", "l_orderkey", Pipeline.FactBuckets))
      Seq("orders", "customer", "nation", "region").foreach { t =>
        Trace.span("Ingest.saveAsTable")(Ingest.saveAsTable(Tables.load(spark, v1, t), db, t))
      }
    }
    phase("calendar", cycle) {
      val orders = spark.table(s"`$db`.`orders`")
      val bounds = orders.agg(date_format(min(col("o_orderdate")), "yyyy-MM-dd"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd")).first()
      Trace.span("Ingest.saveAsTable")(Ingest.saveAsTable(
        Ingest.calendar(spark, bounds.getString(0), bounds.getString(1)), db, "calendar"))
      Trace.span("Ingest.captureScalar")(Ingest.captureScalar(spark,
        orders.agg(date_format(max(col("o_orderdate")), "yyyy-MM-dd")), "graft.orders.last_date"))
    }
    // traced runs also count what each step wrote; untraced runs skip the extra reads
    val ordersBefore = if (Trace.enabled) spark.table(s"`$db`.`orders`").count() else 0L
    if (Trace.enabled) facts("ingest_bytes") = treeBytes(dbDir)
    phase("clean", cycle) {
      Trace.span("Clean.rewriteTable")(Clean.rewriteTable(spark, db, "orders",
        bucket = Some(("o_orderkey", Pipeline.FactBuckets)))(_.where(col("o_totalprice") > 0)))
    }
    if (Trace.enabled) {
      facts("clean_rows_dropped") = ordersBefore - spark.table(s"`$db`.`orders`").count()
      facts("clean_bytes") = treeBytes(dbDir.resolve("orders"))
    }
    phase("export", cycle) {
      Trace.span("Export.asDelimitedFile")(
        Export.asDelimitedFile(Pipeline.exportReport(spark, db), report))
    }
    pass(spark, "cold", v1, queries, cycle)
  }

  /** A copy of the base corpus state at a path this JVM has never read:
    * hard links to the generated files, so no input byte changes. */
  private def freshCopy(corpus: String, name: String): String = {
    val src = Paths.get(corpus, "v1")
    val dst = Paths.get(corpus, name)
    files(src).foreach { f =>
      val to = dst.resolve(src.relativize(f))
      Files.createDirectories(to.getParent)
      Files.createLink(to, f)
    }
    dst.toString
  }

  /** The stored expectations: every query answered from scratch for both
    * corpus states (no refresh involved), and `Pipeline.run`'s report. */
  private def expect(spark: SparkSession, corpus: String, work: String,
      queries: Seq[String]): Unit = {
    firstTimed()
    pass(spark, "cold", s"$corpus/v1", queries)
    pass(spark, "fresh", s"$corpus/v2", queries)
    Pipeline.run(spark, s"$corpus/v1", "perfbench_reference", s"$work/report.csv")
    facts("report_reference") = s"$work/report.csv"
  }

  // ------------------------------------------------------------------
  // measurement

  /** The operator module that declares query `q`. */
  private def moduleOf(q: String): String =
    Seq("CartAnalytics" -> CartAnalytics.queries, "Dedup" -> Dedup.queries,
      "Similarity" -> Similarity.queries, "TextAnalysis" -> TextAnalysis.queries,
      "EventsAnalytics" -> EventsAnalytics.queries, "Multimodal" -> Multimodal.queries,
      "Curation" -> Curation.queries).collectFirst { case (m, qs) if qs.contains(q) => m }.get

  /** Answer every query once on `dir`, one after another. */
  private def pass(spark: SparkSession, phaseName: String, dir: String,
      queries: Seq[String], cycle: Int = 1): Unit =
    phase(s"pass:$phaseName", cycle) {
      val fns = SparkEntry.queries
      queries.foreach { q =>
        val b0 = Artifacts.buildCount
        val m = Meter.start(spark)
        val res =
          try Trace.span(s"query:$q", phaseName) {
            val df = Trace.span("construct")(fns(q)(spark, dir))
            Right(Trace.span("exec")(BenchConsume.consume(df)))
          }
          catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val cost = m.stop()
        val builds = Artifacts.buildCount - b0
        ops += (res match {
          case Right((rows, digest)) => Op(phaseName, cycle, q, cost, rows, digest, builds, null)
          case Left(err) => Op(phaseName, cycle, q, cost, -1L, 0L, builds, err.take(300))
        })
      }
    }

  private def sweep(spark: SparkSession): Unit = {
    val (swept, sweepS) = timed(Trace.span("Artifacts.sweepStale")(Artifacts.sweepStale(spark)))
    facts("swept") = swept
    facts("sweep_s") = sweepS
  }

  /** Record the [[Cost]] of `body` as `name`. */
  private def phase[A](name: String, cycle: Int = 0)(body: => A): A = {
    val m = Meter.start(SparkSession.active)
    val a = body
    phases += ((name, cycle, m.stop()))
    a
  }

  /** The first timed operation starts now: everything before it, from
    * JVM start, was set-up. */
  private def firstTimed(): Unit = {
    facts("first_timed_ms") = System.currentTimeMillis()
    facts("setup_proc_cpu_s") = Meter.procCpuNs() / 1e9
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = now
    val a = body
    (a, (now - t0) / 1e9)
  }

  private def artifactDirs(root: Path): Set[String] =
    if (!Files.isDirectory(root)) Set.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala.filter(Files.isDirectory(_)).map(_.getFileName.toString)
        .filterNot(_.contains("_stage_")).toSet
      finally s.close()
    }

  private def files(root: Path): List[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  private def treeBytes(root: Path): Long = files(root).map(Files.size).sum

  /** (bytes in files hard-linked from another generation, bytes in files
    * written for this generation only). */
  private def linkedAndWritten(dir: Path): (Long, Long) =
    files(dir).foldLeft((0L, 0L)) { case ((l, w), f) =>
      if (Files.getAttribute(f, "unix:nlink").asInstanceOf[Int] > 1) (l + Files.size(f), w)
      else (l, w + Files.size(f))
    }

  /** Heap the engine still holds once the workload is done: used heap
    * after full collections, repeated so the context cleaner's releases
    * land. Unlike peak RSS it does not depend on when the collector chose
    * to grow the heap. */
  private def retainedHeap(): Long = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    rt.totalMemory - rt.freeMemory
  }

  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  // ------------------------------------------------------------------
  // output

  private def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def v(x: Any): String = x match {
    case s: String => q(s)
    case m: Map[_, _] => m.map { case (k, y) => s"${q(k.toString)}:${v(y)}" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(v).mkString("[", ",", "]")
    case other => other.toString
  }

  private def cost(c: Cost): String =
    s""""wall_s":${c.wallS},"cpu_s":${c.execCpuS},"driver_cpu_s":${c.driverCpuS},""" +
      s""""proc_cpu_s":${c.procCpuS},"steal":${c.stealTicks},"busy":${c.busyTicks}"""

  private def json: String = {
    val fields = facts.toSeq.map { case (k, x) => s"${q(k)}:${v(x)}" } ++ Seq(
      "\"ops\":" + ops.map { o =>
        s"""{"phase":${q(o.phase)},"cycle":${o.cycle},"query":${q(o.query)},${cost(o.cost)},""" +
          s""""rows":${o.rows},"digest":"${o.digest}",""" +
          s""""builds":${o.builds},"error":${q(o.error)}}"""
      }.mkString("[", ",", "]"),
      "\"phases\":" + phases.map { case (n, k, c) =>
        s"""{"name":${q(n)},"cycle":$k,${cost(c)}}"""
      }.mkString("[", ",", "]"),
      "\"spans\":" + Trace.all.map { s =>
        s"""{"id":${s.id},"name":${q(s.name)},"phase":${q(s.phase)},"parent":${s.parent},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs},"cpu_ns":${s.cpuNs},""" +
          s""""tasks":${s.tasks},"input_bytes":${s.inputBytes},"shuffle_bytes":${s.shuffleBytes},""" +
          s""""spill_bytes":${s.spillBytes},"plan_ns":${s.planNs},""" +
          s""""artifacts":${v(s.artifacts)}}"""
      }.mkString("[", ",", "]"))
    fields.mkString("{", ",", "}\n")
  }
}

package graft

/** Benchmark main (driver contract): run every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  * Uses [[Session]] so conf (AQE, shuffle partitions, nanos-parquet
  * compat for `events`) matches the Verify/correctness path exactly.
  *
  * Hardened against host contention (the BENCH_r05 failure mode: two
  * contended runs produced a confident-looking wrong number with
  * nothing in the output to distinguish "slow plan" from "busy host"):
  *   - 3 timed runs per query, min reported ("queries" stays
  *     name→seconds for the driver contract);
  *   - every individual run's wall-clock is recorded under "runs";
  *   - /proc/loadavg is sampled before the suite, after the suite, and
  *     before each query's timing block ("loadavg") so a contended run
  *     is visibly contended;
  *   - a query whose min still exceeds OutlierSec (the single-digit
  *     contract is ~3× any steady-state row in PERF.md) gets up to two
  *     extra runs — contention passes, a genuinely slow plan stays slow;
  *   - per-query row counts under "rows" so a silently-empty result can
  *     never bench fast;
  *   - per-query executor CPU seconds under "cpu_s" (+ "cpu_runs",
  *     suite "cpu_value") via [[CpuMeter]] — the stall-immune
  *     round-over-round comparator (r14 verdict task 1): host stalls
  *     inflate wall, not task CPU;
  *   - per-query Janino compiles over the timed runs under "compiles"
  *     (full JSON only): nonzero on these warm rows means the
  *     generated-class cache no longer holds the suite's working set;
  *   - an untimed artifact-prebuild pass at the TARGET corpus before the
  *     timed window (wall reported as "prebuild_s"): persisted-artifact
  *     builds are once-per-corpus-state index costs a deployment pays in
  *     its build session — paying them mid-window polluted later rows'
  *     heap state (r16: d10 618 CPU-s in-leg vs 259 standalone).
  */
object Bench {
  /** Min above this triggers extra runs: every PERF.md steady-state row
    * is ≤ ~3s at sf0.1, so 3× steady-state is within single digits. */
  private val OutlierSec = 4.0
  private val ExtraRuns = 2

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "n/a" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.get("graft-bench")
    CpuMeter.install(spark) // per-query executor CPU: the stall-immune comparator
    val loadBefore = loadavg()
    // untimed warm-up at the smallest sf: JIT + codegen-cache + catalog
    // warm, so timed numbers reflect steady-state per-query cost
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try BenchConsume.consume(fn(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }
    // Untimed ARTIFACT-PREBUILD pass at the TARGET corpus (PERF 16e's d10
    // finding, generalized): the persisted-artifact families (h60/contam/
    // scored/shingles/dedupsig/semv/edges/labels/centroids/knn/profile…)
    // are once-per-corpus-state INDEX BUILDS — a deployment pays them in
    // its build session, not in query traffic. Before this pass they were
    // paid inside the timed window (min-of-3 discarded the build run's
    // TIME, but the builds' heap/GC state leaked into later rows: the r16
    // sf10full leg read d10 at 618 CPU-s in-leg vs 259 standalone at the
    // same HEAD). One untimed full pass at sfDir materializes every
    // artifact first, so the timed window is uniformly serve-state; its
    // wall is reported as "prebuild_s" — the honest once-per-state cost,
    // kept out of no ledger.
    // Note on what "prebuild_s" measures: one full untimed pass of EVERY
    // query at sfDir — artifact builds PLUS one serve-execution of each
    // row. It is an upper bound on the once-per-corpus-state build cost
    // (the serve-pass share is the leg's own timed total, small next to
    // the builds at sf1+), chosen because "run everything once" is also
    // what guarantees the timed window starts uniformly serve-state.
    // A prebuild failure is NOT silent (r16 advisory): the build cost
    // would fall back into the timed window and prebuild_s would
    // underreport, so every failure is logged like timedRun's.
    val prebuildT0 = System.nanoTime()
    val builds0 = graft.sources.Artifacts.buildCount
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try BenchConsume.consume(fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] prebuild $name failed: ${e.getMessage}")
      }
    }
    val prebuildSec = (System.nanoTime() - prebuildT0) / 1e9
    // builds the prebuild pass actually EXECUTED (0 on a content-
    // unchanged corpus whose warehouse already carries every family)
    val prebuildBuilds = graft.sources.Artifacts.buildCount - builds0
    // Warehouse GC rides the build session (r16 verdict task 6): with
    // content-keyed fingerprints an artifact generation is superseded
    // only by a REAL corpus change, and nothing else ever deleted it.
    val swept =
      try graft.sources.Artifacts.sweepStale(spark)
      catch { case e: Throwable =>
        System.err.println(s"[bench] artifact GC failed: ${e.getMessage}"); 0
      }
    System.err.println(s"[bench] artifact GC: swept $swept superseded generations")
    // timed runs start in-JVM-cache-clean; persisted artifacts are
    // on-disk tables, so the serve paths are unaffected
    spark.catalog.clearCache()
    // Failed runs must not contribute a (fast) failure time — only
    // successful runs count, and a query with no successful run
    // reports -1 (excluded from the suite total below).
    // Timed runs CONSUME every output column (BenchConsume, r12): under
    // bare count() Catalyst legally eliminated cardinality-preserving
    // stages (s12's verdict join, PERF.md r11), flattering those rows.
    // Each timed run records (wall seconds, executor-CPU seconds). Wall
    // is the user-facing number and stays the driver-contract "queries"
    // value; CPU (CpuMeter: sum of task executorCpuTime over the run's
    // window) is the round-over-round comparator — host stalls inflate
    // wall but not CPU (r14 verdict task 1).
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val loadAtStart = loadavg()
      var rows = -1L
      def timedRun(): Option[(Double, Double, Long)] = {
        val (c0, _) = CpuMeter.snapshot(spark)
        val k0 = CpuMeter.compiles
        val t0 = System.nanoTime()
        try {
          rows = BenchConsume.consume(fn(spark, sfDir))._1
          val wall = (System.nanoTime() - t0) / 1e9
          val (c1, _) = CpuMeter.snapshot(spark)
          Some((wall, c1 - c0, CpuMeter.compiles - k0))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
      var times = (1 to 3).flatMap(_ => timedRun()).toVector
      // contention retry: a busy-host spike inflates all three runs at
      // once; extra runs after the spike clears recover the real min
      var retries = 0
      while (times.nonEmpty && times.map(_._1).min > OutlierSec && retries < ExtraRuns) {
        times = times ++ timedRun()
        retries += 1
      }
      spark.catalog.clearCache() // drop per-query persists between timings
      val wall = if (times.nonEmpty) times.map(_._1).min else -1.0
      // min CPU pairs with min wall in meaning (steady-state plan cost):
      // first-run artifact builds and JIT warmth inflate early runs'
      // CPU the same way they inflate wall
      val cpu = if (times.nonEmpty) times.map(_._2).min else -1.0
      (name, wall, times, rows, loadAtStart, cpu)
    }
    val loadAfter = loadavg()
    // Locale.ROOT: `f"$v%.4f"` uses the JVM default locale, which under
    // comma-decimal locales (de_DE …) would emit 3,1416 and break the
    // driver's json.load of this line.
    def jnum(v: Double) =
      if (v == v.floor && v.abs < 1e15) v.toString
      else String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    // The driver's stdout capture keeps only a ~2 KB TAIL (BENCH_r06–r09
    // all arrived `parsed: null`): 106 full-name entries alone are ~2.7 KB,
    // so the stdout line uses the unique pre-underscore prefix of each
    // query name (q01, d05, e15, …) at 2-decimal precision (~1.4 KB total).
    // The file artifacts below keep full names and full precision.
    def jnum2(v: Double) =
      if (v == v.floor && v.abs < 1e15) v.toString
      else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // The compact line keys on the pre-underscore prefix (q01, d17, …).
    // Nothing used to enforce prefix uniqueness — a future query sharing
    // a prefix would silently emit duplicate JSON keys and the driver's
    // parse would drop one query's number. Colliding prefixes fall back
    // to the full name, so a collision costs bytes, never data.
    val dupPrefixes = results.groupBy(_._1.takeWhile(_ != '_'))
      .collect { case (p, g) if g.size > 1 => p }.toSet
    def shortKey(k: String) = {
      val p = k.takeWhile(_ != '_'); if (dupPrefixes(p)) k else p
    }
    val qsShort = results.map { case (k, v, _, _, _, _) =>
      "\"" + shortKey(k) + "\":" + jnum2(v)
    }.mkString("{", ",", "}")
    val runs = results.map { case (k, _, ts, _, _, _) =>
      "\"" + k + "\":" + ts.map(t => jnum(t._1)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val cpuS = results.map { case (k, _, _, _, _, c) => "\"" + k + "\":" + jnum(c) }
      .mkString("{", ",", "}")
    val cpuRuns = results.map { case (k, _, ts, _, _, _) =>
      "\"" + k + "\":" + ts.map(t => jnum(t._2)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val rows = results.map { case (k, _, _, n, _, _) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val compiles = results.map { case (k, _, ts, _, _, _) =>
      "\"" + k + "\":" + ts.map(_._3).sum
    }.mkString("{", ",", "}")
    val perQLoad = results.map { case (k, _, _, _, l, _) =>
      "\"" + k + "\":\"" + l + "\""
    }.mkString("{", ",", "}")
    // -1 failure sentinels must not subtract from the suite total
    val total = results.collect { case (_, v, _, _, _, _) if v >= 0 => v }.sum
    val cpuTotal = results.collect { case (_, _, _, _, _, c) if c >= 0 => c }.sum
    val line =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"""" +
      s""","prebuild_s":${jnum(prebuildSec)},"prebuild_builds":$prebuildBuilds""" +
      s""","cpu_value":${jnum(cpuTotal)},"cpu_s":$cpuS,"cpu_runs":$cpuRuns""" +
      s""","compiles":$compiles,"runs":$runs,"rows":$rows,"loadavg":{"before":"$loadBefore","after":"$loadAfter","per_query":$perQLoad}}"""
    // Compact contract line (fits the driver's 2 KB stdout tail); keys are
    // the unique query-name prefixes, full detail in the file artifacts.
    // The per-query form is ~1.4 KB at 106 queries — close to the limit —
    // so past ~1.6 KB it degrades to family totals + the slowest rows
    // (still valid per the contract: "queries" maps name→seconds) rather
    // than overflowing the tail and losing the whole line.
    // prebuild_s/prebuild_builds ride the compact line too (r17 verdict):
    // the once-per-corpus-state build cost must be visible in the exact
    // artifact an external reader sees first, or the served rows' timed
    // numbers read as free. ~45 bytes against the 1.6 KB budget.
    val prebuildFields =
      s""","prebuild_s":${jnum2(prebuildSec)},"prebuild_builds":$prebuildBuilds"""
    val perQueryLine =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","cpu_value":${jnum2(cpuTotal)}$prebuildFields,"queries":$qsShort,"sf":"$sfDir","full":"target/bench_last.json"}"""
    val shortLine =
      if (perQueryLine.length <= 1600) perQueryLine
      else {
        val fams = results.groupBy(_._1.takeWhile(_.isLetter)).toSeq.sortBy(_._1)
          .map { case (f, g) =>
            "\"" + f + "\":" + jnum2(g.collect { case (_, v, _, _, _, _) if v >= 0 => v }.sum)
          }.mkString("{", ",", "}")
        val slowest = results.sortBy(-_._2).take(12)
          .map { case (k, v, _, _, _, _) => "\"" + shortKey(k) + "\":" + jnum2(v) }
          .mkString("{", ",", "}")
        s"""{"metric":"total","value":${jnum(total)},"unit":"sec","cpu_value":${jnum2(cpuTotal)}$prebuildFields,"queries":$slowest,"families":$fams,"n_queries":${results.size},"sf":"$sfDir","full":"target/bench_last.json"}"""
      }
    println(shortLine)
    // Self-contained official artifact: the driver's stdout capture keeps
    // only a 2 KB tail (BENCH_r06/r07 both arrived with `parsed: null`),
    // so the full JSON line is also written to files a human — or the
    // driver — can pick up after the run:
    //  - target/bench_last.json: the fixed scratch path (latest run wins);
    //  - target/bench_history/bench_<utcstamp>.json: APPEND-ONLY archive,
    //    one file per invocation, which no sweep script shares or deletes
    //    (round 9's scaling sweep rm'd bench_last.json and erased the
    //    official per-query numbers 13 minutes after they were written).
    def writeOut(path: java.nio.file.Path): Unit =
      try {
        java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.writeString(path, line + "\n")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    writeOut(java.nio.file.Paths.get("target/bench_last.json"))
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    writeOut(java.nio.file.Paths.get(s"target/bench_history/bench_$stamp.json"))
    spark.stop()
    // Printed AGAIN as the program's final statement — after spark.stop(),
    // so no shutdown logging can trail it and the contract line is the
    // last line of stdout (build.sbt routes forked run output straight to
    // stdout and suppresses sbt's closing [success] line).
    println(shortLine)
  }
}

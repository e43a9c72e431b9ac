package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query executor CPU accounting (r14 verdict task 1).
  *
  * Wall-clock on this host carries multi-minute stall windows that are
  * invisible to in-VM accounting (PERF.md 14f.4: vmstat 74-96% idle
  * while a 1 s query walls 40+ s), so round-over-round comparisons made
  * on wall alone burned most of r14's budget on stall adjudication.
  * Task CPU time is the stall-immune number: a descheduled executor
  * thread accrues no CPU, so two runs of the same plan over the same
  * corpus agree on `cpu_s` whether or not the host was busy. Wall stays
  * in the artifacts (it is what a user experiences); CPU is the
  * round-over-round comparator.
  *
  * Mechanics: one global [[SparkListener]] sums `executorCpuTime` (ns)
  * and `executorRunTime` (ms) over every completed task; harnesses take
  * a [[snapshot]] before and after each timed run and report the delta.
  * The listener bus is asynchronous, so [[snapshot]] drains it first
  * ([[org.apache.spark.graft.ListenerSync]]) — otherwise a query's tail
  * task-ends would be charged to the next query. Everything the run
  * triggers (AQE re-plan jobs, artifact builds, skew probes) lands in
  * the window it ran in — which is exactly the cost the query paid.
  *
  * run_s (executorRunTime) is also recorded: cpu < run means tasks
  * waited on IO/GC/scheduling; run ≈ cpu × cores means the plan kept
  * the host busy. Neither includes driver-side planning time — the
  * wall-vs-cpu gap on a plan-construction-heavy query is driver time
  * plus stalls, which the loadavg samples disambiguate.
  */
object CpuMeter {
  private val cpuNs = new LongAdder
  private val runMs = new LongAdder
  @volatile private var installedOn: String = null

  private object listener extends SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        cpuNs.add(m.executorCpuTime)
        runMs.add(m.executorRunTime)
      }
    }
  }

  /** Idempotent per SparkContext; harness mains call it right after
    * Session.get. Keyed on applicationId, not a global flag (r15
    * advisory): a stop()/rebuild cycle in one JVM mints a new context
    * that never had the listener — a global flag would leave every
    * snapshot delta silently reading 0 CPU, which a round-over-round
    * comparator misreads as a massive speedup. The adders stay
    * cumulative across contexts; harnesses only consume deltas. */
  def install(spark: SparkSession): Unit = synchronized {
    val app = spark.sparkContext.applicationId
    if (installedOn != app) {
      spark.sparkContext.addSparkListener(listener)
      installedOn = app
    }
  }

  /** Cumulative (cpu seconds, run seconds) across all tasks so far,
    * exact as of the call (drains the async listener bus first). */
  def snapshot(spark: SparkSession): (Double, Double) = {
    org.apache.spark.graft.ListenerSync.drain(spark.sparkContext)
    (cpuNs.sum / 1e9, runMs.sum / 1e3)
  }

  /** Run `body`, returning (result, cpu seconds, run seconds) consumed
    * by the tasks it triggered. */
  def measure[A](spark: SparkSession)(body: => A): (A, Double, Double) = {
    install(spark)
    val (c0, r0) = snapshot(spark)
    val a = body
    val (c1, r1) = snapshot(spark)
    (a, c1 - c0, r1 - r0)
  }

  /** Janino compiles so far in this JVM (driver and local executors).
    * Generated-class cache hits do not count, so a warm run's delta is 0
    * while the cache holds the query's working set ([[Session.CodegenCacheEntries]]). */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

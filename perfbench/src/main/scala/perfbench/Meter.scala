package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.CpuMeter

/** What one measured call cost. `execCpuS` is the CPU its Spark tasks
  * used ([[CpuMeter]]); `driverCpuS` the calling thread's own CPU
  * (planning, artifact serving and every other driver-side step);
  * `procCpuS` all CPU the engine's JVM used meanwhile, JIT compilation
  * and garbage collection included. `stealTicks` of `busyTicks` are the
  * machine's CPU ticks the hypervisor gave to other tenants. */
final case class Cost(wallS: Double, execCpuS: Double, driverCpuS: Double, procCpuS: Double,
    stealTicks: Long, busyTicks: Long)

/** Reads every clock a [[Cost]] needs. The wall clock is read innermost,
  * so draining the listener bus for the task CPU is not timed. */
final class Meter private (spark: SparkSession) {
  private val exec0 = CpuMeter.snapshot(spark)._1
  private val (steal0, busy0) = Meter.ticks()
  private val proc0 = Meter.procCpuNs()
  private val driver0 = Meter.threads.getCurrentThreadCpuTime
  private val wall0 = System.nanoTime()

  def stop(): Cost = {
    val wall = (System.nanoTime() - wall0) / 1e9
    val driver = (Meter.threads.getCurrentThreadCpuTime - driver0) / 1e9
    val proc = (Meter.procCpuNs() - proc0) / 1e9
    val (steal, busy) = Meter.ticks()
    Cost(wall, CpuMeter.snapshot(spark)._1 - exec0, driver, proc, steal - steal0, busy - busy0)
  }
}

object Meter {
  private val threads = ManagementFactory.getThreadMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def start(spark: SparkSession): Meter = new Meter(spark)

  def procCpuNs(): Long = os.getProcessCpuTime

  /** (steal, busy including steal) CPU ticks of the whole machine. */
  private def ticks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f(0) + f(1) + f(2) + f(5) + f(6) + f(7))
    } finally src.close()
  }
}

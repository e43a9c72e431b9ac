package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine. Stage metrics and planning time are
  * SELF values: they belong to the innermost span open when the work
  * ran, so a span's totals are its own plus its descendants'. */
final class Span(val id: Int, val name: String, val phase: String, val parent: Int) {
  val startNs: Long = System.nanoTime()
  var endNs = 0L
  var cpuNs, tasks, inputBytes, shuffleBytes, spillBytes, planNs = 0L
  /** Artifact directories that appeared while this span was innermost. */
  var artifacts: Seq[String] = Nil
}

/** In-memory span recorder for traced runs. Off (the default) a span is
  * just its body. On, each span boundary drains the listener bus so every
  * task-end and query event lands in the span that caused it, and lists
  * the artifact directory so each new artifact is attributed to the span
  * in which it appeared. The time those boundaries take is the tracer's
  * own overhead, reported as [[overheadS]]. */
object Trace {
  @volatile private var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var spark: SparkSession = _
  private var listArtifacts: () => Set[String] = () => Set.empty
  private var seen = Set.empty[String]
  private var overheadNs = 0L

  def enabled: Boolean = on
  def all: Seq[Span] = synchronized(spans.toList)
  def overheadS: Double = overheadNs / 1e9

  def start(s: SparkSession, artifactDirs: () => Set[String]): Unit = synchronized {
    spark = s
    listArtifacts = artifactDirs
    seen = artifactDirs()
    s.sparkContext.addSparkListener(StageSums)
    s.listenerManager.register(PlanTimes)
    on = true
  }

  /** Run `body` as a span named `name`; `phase` tags query spans. */
  def span[A](name: String, phase: String = "")(body: => A): A =
    if (!on) body
    else {
      val s = boundary {
        val sp = new Span(spans.size, name, phase, stack.headOption.map(_.id).getOrElse(-1))
        spans += sp
        stack = sp :: stack
        sp
      }
      try body
      finally boundary {
        s.endNs = System.nanoTime()
        stack = stack.tail
        val now = listArtifacts()
        s.artifacts = (now -- seen).toSeq.sorted
        seen = now
      }
    }

  /** Drain pending listener events, then run `f`, charging the time to
    * the tracer. */
  private def boundary[A](f: => A): A = {
    val t0 = System.nanoTime()
    org.apache.spark.graft.ListenerSync.drain(spark.sparkContext)
    val a = synchronized(f)
    overheadNs += System.nanoTime() - t0
    a
  }

  private def current: Option[Span] = synchronized(stack.headOption)

  /** Sums the metrics of every finished task into the innermost span. */
  private object StageSums extends SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) current.foreach { s =>
        Trace.synchronized {
          s.cpuNs += m.executorCpuTime
          s.tasks += 1
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Driver-side planning: the analysis, optimization and planning phases
    * `QueryExecution.tracker` records for every action that completes. */
  private object PlanTimes extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      current.foreach(s => Trace.synchronized(s.planNs += ms * 1000000L))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}

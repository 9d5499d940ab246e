package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch seconds with nanosecond resolution, so benchmark
  * spans and Spark's event times (epoch milliseconds) share one axis. */
object Clock {
  private val baseEpoch = System.currentTimeMillis() / 1e3
  private val baseNanos = System.nanoTime()
  def now(): Double = baseEpoch + (System.nanoTime() - baseNanos) / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Process user+sys CPU seconds. */
  def cpu(): Double = os.getProcessCpuTime / 1e9
}

/** One traced interval. Spans of one op share `op`; `parent` is -1 for an
  * op's root and for Spark actions, whose parent is found afterwards by
  * time containment (their events arrive on another thread). */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Double, end: Double)

/** Spans plus per-op layer counters, gathered only while `enabled`.
  *
  * Layers: Spark execution (a SparkListener: jobs, tasks, task CPU/run/GC,
  * bytes moved), Catalyst (a QueryExecutionListener reading each action's
  * own `QueryExecution.tracker` — nothing is planned twice), and the graft
  * DSv2 scan (its custom metrics, read from the executed plan the action
  * already ran). Spans around the benchmark's calls into `queries`,
  * `etl` and `ops` come from [[span]].
  */
final class Trace(spark: SparkSession) {
  @volatile var enabled = false
  @volatile private var currentOp = -1L
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Double, Boolean)]()

  private val counts = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  private def add(key: String, v: Double): Unit =
    counts.computeIfAbsent(key, _ => new DoubleAdder).add(v)

  private val scanMetrics = Map(
    "filesPlanned" -> "sources.files_planned",
    "filesSkippedPartition" -> "sources.files_skipped",
    "filesSkippedZoneMap" -> "sources.files_skipped",
    "filesSkippedBloom" -> "sources.files_skipped",
    "filesSkippedRuntime" -> "sources.files_skipped",
    "filesSkippedLimit" -> "sources.files_skipped",
    "bytesPlanned" -> "sources.bytes_planned",
    "rowsDecodedColumnar" -> "sources.rows_columnar",
    "rowsDecodedVectorizedRow" -> "sources.rows_vrow",
    "rowsDecodedGroupRow" -> "sources.rows_group_row",
    "dvRowsSubtracted" -> "sources.dv_rows_subtracted")

  private val execListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) add("exec.jobs", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
      val m = e.taskMetrics
      add("exec.tasks", 1)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.task_run_s", m.executorRunTime / 1e3)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("exec.input_mb", m.inputMetrics.bytesRead / 1e6)
      add("exec.output_mb", m.outputMetrics.bytesWritten / 1e6)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
      case s: SparkListenerSQLExecutionStart =>
        val nested = s.rootExecutionId.exists(_ != s.executionId)
        sqlStarts.put(s.executionId, (s.time / 1e3, nested))
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(s.executionId)).foreach { case (start, nested) =>
          val name = if (nested) "spark.action.nested" else "spark.action"
          spans.synchronized {
            spans += Span(ids.incrementAndGet(), -1, currentOp, name, start, s.time / 1e3)
          }
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        add("catalyst.actions", 1)
        val phases = qe.tracker.phases
        for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_s",
            "optimization" -> "catalyst.optimization_s", "planning" -> "catalyst.planning_s"))
          phases.get(phase).foreach(p => add(key, p.durationMs / 1e3))
        scans(qe.executedPlan).foreach { scan =>
          for ((metric, key) <- scanMetrics; m <- scan.metrics.get(metric)) add(key, m.value.toDouble)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (enabled) add("catalyst.actions", 1)
  }

  /** DSv2 scans of an executed plan, through adaptive wrappers and query
    * stages and into subqueries. */
  private def scans(plan: SparkPlan): Seq[BatchScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case b: BatchScanExec => Seq(b)
    case p => (p.children ++ p.subqueries).flatMap(scans)
  }

  spark.sparkContext.addSparkListener(execListener)
  spark.listenerManager.register(qeListener)

  /** Runs `body` inside a named span of the current op (no-op when off). */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(-1L)
      val start = Clock.now()
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans.synchronized { spans += Span(id, parent, currentOp, name, start, Clock.now()) }
      }
    }

  /** Starts an op: counters reset, spans tagged with `op`. */
  def beginOp(op: Long): Unit = if (enabled) {
    counts.clear()
    currentOp = op
  }

  /** Largest retained heap seen at the end of a traced op. */
  @volatile var heapPeakMb = 0.0

  /** Ends an op: drains the listener bus, then returns its counters. */
  def endOp(): Map[String, Double] =
    if (!enabled) Map.empty
    else {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      heapPeakMb = math.max(heapPeakMb, Trace.heapRetainedMb())
      val out = counts.asScala.map { case (k, v) => k -> v.sum() }.toMap
      counts.clear()
      currentOp = -1L
      out
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
}

object Trace {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** Heap outside eden (survivor + old), in MB: what survived at least one
    * young collection, unlike raw use, which mostly tracks how full eden
    * happens to be. */
  def heapRetainedMb(): Double =
    heapPools.filterNot(_.getName.contains("Eden")).map(_.getUsage.getUsed).sum / 1e6
}

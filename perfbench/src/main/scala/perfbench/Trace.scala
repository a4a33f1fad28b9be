package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters, fed by the two listeners below and by the
  * codegen statics. Only the traced run registers the listeners.
  */
final class Counters {
  private val c = mutable.LinkedHashMap[String, AtomicLong]()
  private def ctr(n: String): AtomicLong = c.synchronized(c.getOrElseUpdate(n, new AtomicLong))
  def add(n: String, v: Long): Unit = { val _ = ctr(n).addAndGet(v) }

  Seq("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_w",
    "shuffle_r", "spill", "analysis_ms", "optimization_ms", "planning_ms",
    "exchanges", "scans", "windows", "cache_barriers", "native_topk",
    "files_written", "bytes_written", "listener_ns").foreach(ctr)

  def snapshot(): Map[String, Long] = {
    val m = c.synchronized(c.map { case (k, v) => k -> v.get }.toMap)
    m ++ Map(
      "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "codegen_ns" -> CodeGenerator.compileTime)
  }
}

final class TaskListener(c: Counters) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = c.add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    c.add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("run_ms", m.executorRunTime)
      c.add("cpu_ns", m.executorCpuTime)
      c.add("gc_ms", m.jvmGCTime)
      c.add("shuffle_w", m.shuffleWriteMetrics.bytesWritten)
      c.add("shuffle_r", m.shuffleReadMetrics.totalBytesRead)
      c.add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    c.add("listener_ns", System.nanoTime() - t0)
  }
}

/** Catalyst phase times (QueryPlanningTracker) and physical plan shape of
  * every executed query, construction-time barriers included.
  */
final class PlanListener(c: Counters) extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private def record(qe: QueryExecution): Unit = {
    val t0 = System.nanoTime()
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => c.add(s"${p}_ms", s.durationMs))
    }
    // a write is an eager command: its query plan sits inside the
    // CommandResultExec wrapper, which has no children of its own
    val root = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val all = try collectWithSubqueries(root) { case n => n }
              catch { case _: Throwable => Nil }
    all.foreach { p =>
      val n = p.getClass.getSimpleName
      if (n.endsWith("ExchangeExec") && !n.startsWith("Reused")) c.add("exchanges", 1)
      if (n == "FileSourceScanExec" || n == "BatchScanExec" ||
          n == "RowDataSourceScanExec") c.add("scans", 1)
      if (n == "WindowExec" || n == "WindowGroupLimitExec") c.add("windows", 1)
      if (n == "InMemoryTableScanExec" || n == "RDDScanExec") c.add("cache_barriers", 1)
      if (n == "TopKPerGroupExec") c.add("native_topk", 1)
      if (n == "DataWritingCommandExec") {
        p.metrics.get("numFiles").foreach(m => c.add("files_written", m.value))
        p.metrics.get("numOutputBytes").foreach(m => c.add("bytes_written", m.value))
      }
    }
    c.add("listener_ns", System.nanoTime() - t0)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** One span: a timed call into a layer. Spans of one run share `runId`;
  * `delta` holds the counter growth between its start and end.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, delta: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Disabled (a plain call-through) unless the run
  * is traced; spans are only written out when the run ends.
  */
object Trace {
  val runId: String = java.util.UUID.randomUUID().toString
  @volatile var enabled = false
  val counters = new Counters
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var overheadNs = 0L
  private val gauges = mutable.LinkedHashMap[String, Double]()

  def attach(context: SparkContext): Unit = sc = context

  def gauge(name: String, v: Double): Unit = gauges(name) = v
  def gaugeValue(name: String): Double = gauges.getOrElse(name, 0.0)

  private def boundary(): Map[String, Long] = {
    if (sc != null && !sc.isStopped) org.apache.spark.perfbench.Bus.drain(sc)
    counters.snapshot()
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val o0 = System.nanoTime()
      val c0 = boundary()
      val id = spans.size + stack.size
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      overheadNs += t0 - o0
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = boundary()
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1,
          c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) })
        overheadNs += System.nanoTime() - t1
      }
    }

  def all: Seq[Span] = spans.toSeq
  def overheadSeconds: Double = overheadNs / 1e9
}

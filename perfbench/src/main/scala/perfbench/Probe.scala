package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark learns about a run from outside the program:
  * a `SparkListener` (jobs, tasks, SQL executions), a
  * `QueryExecutionListener` (the `qe.tracker` phases), Spark's codegen
  * counters and the JVM heap pools. Jobs carry the harness's `op` and
  * `span` local properties; phases are placed by their start time.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  /** SQL execution id → description and physical plan text. */
  val executions = new ConcurrentHashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L,
      prop(OpKey).map(_.toInt).getOrElse(-1), prop(SpanKey).getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val job = stageJob.getOrDefault(e.stageId, -1)
      tasks.add(Task(job, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, s.description + "\n" + s.physicalPlanDescription)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (name, p) => phases.add(Phase(name, p.startTimeMs, p.endTimeMs)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  def clear(): Unit = { jobs.clear(); stageJob.clear(); tasks.clear(); phases.clear(); executions.clear() }

  /** Layer tallies of one operation `op` spanning `[t0, t1]` epoch ms. */
  def opLayers(op: Int, t0: Double, t1: Double): Map[String, Double] = {
    val js = jobs.values.asScala.filter(_.op == op).toSeq
    val ids = js.map(_.id).toSet
    val ts = tasks.asScala.filter(t => ids.contains(t.job)).toSeq
    val ph = phases.asScala.filter(p => p.start >= t0 - 1 && p.start <= t1 + 1).toSeq
    def phase(n: String) = ph.filter(_.name == n).map(p => (p.end - p.start) / 1e3).sum
    Map(
      "driver.jobs" -> js.size.toDouble,
      "driver.gap_s" -> math.max(0.0, (t1 - t0) / 1e3 - covered(js, t0, t1)),
      "executor.task_s" -> ts.map(_.runMs).sum / 1e3,
      "executor.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "executor.tasks" -> ts.size.toDouble,
      "executor.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / MB,
      "executor.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / MB,
      "executor.spill_mb" -> ts.map(_.spill).sum / MB,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning")
    )
  }

  /** Seconds of `[t0, t1]` covered by at least one of the jobs. */
  private def covered(js: Seq[Job], t0: Double, t1: Double): Double = {
    val iv = js.map(j => (math.max(j.start.toDouble, t0), math.min((if (j.end < 0) t1 else j.end.toDouble), t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (ce.isNaN || a > ce) { if (!ce.isNaN) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (!ce.isNaN) total += ce - cs
    total / 1e3
  }

  /** Jobs of `op` in span `span`. */
  def spanJobs(op: Int, span: String): Seq[Job] =
    jobs.values.asScala.filter(j => j.op == op && j.span == span).toSeq

  def tasksOf(js: Seq[Job]): Seq[Task] = {
    val ids = js.map(_.id).toSet
    tasks.asScala.filter(t => ids.contains(t.job)).toSeq
  }
}

object Probe {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val MB = 1024.0 * 1024.0

  final case class Job(id: Int, start: Long, var end: Long, op: Int, span: String, execId: Long) {
    def wallS: Double = if (end < 0) 0.0 else (end - start) / 1e3
  }
  final case class Task(job: Int, runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, outBytes: Long, outRecords: Long)
  final case class Phase(name: String, start: Long, end: Long)

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum over heap pools of each pool's peak use since the last reset. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / MB

  /** (compile seconds, compile count) so far in this JVM. */
  def codegen(): (Double, Long) =
    (CodeGenerator.compileTime / 1e9, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** (cached blocks, cached MB) still held by the context. */
  def cacheLeft(sc: SparkContext): (Long, Double) = {
    val infos = sc.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum, infos.map(i => i.memSize + i.diskSize).sum / MB)
  }
}

/** In-memory span tree for the traced pass: name, start, end, parent and
  * operation id; written as JSONL at the end of the run. Entering a span
  * also tags the jobs it submits with the `span` local property. */
final class Spans(sc: SparkContext) {
  final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double, var end: Double)
  private val all = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def now(): Double = Clock.ms()

  def apply[T](name: String, op: Int)(body: => T): T = {
    val s = Span(all.size, name, stack.headOption.map(_.id).getOrElse(-1), op, now(), Double.NaN)
    all += s
    stack = s :: stack
    sc.setLocalProperty(Probe.SpanKey, name)
    try body
    finally {
      s.end = now()
      stack = stack.tail
      sc.setLocalProperty(Probe.SpanKey, stack.headOption.map(_.name).orNull)
    }
  }

  /** Seconds of span `s` not covered by its child spans. */
  def selfS(s: Span): Double =
    ((s.end - s.start) - all.filter(_.parent == s.id).map(c => c.end - c.start).sum) / 1e3

  def byName(op: Int, name: String): Seq[Span] = all.filter(s => s.op == op && s.name == name).toSeq

  def write(path: String): Unit = {
    val out = new Json.Lines(path)
    all.foreach(s => out.write("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.start, "end_ms" -> s.end, "self_s" -> selfS(s)))
    out.close()
  }
}

/** Epoch milliseconds at nanosecond resolution, comparable with the
  * listener's millisecond event times. */
object Clock {
  private val base = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def ms(): Double = base + System.nanoTime() / 1e6
}

package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call the harness makes. Times are epoch
  * milliseconds (fractional), the clock Spark stamps its job events with. */
final class Span(val id: Int, val parent: Int, val name: String, val pass: Int,
    val start: Double) {
  var end: Double = Double.NaN
  val tags: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "pass" -> pass, "start" -> start, "end" -> end,
    "tags" -> tags.toMap)
}

/** Spans kept in memory, nested by a stack (the load is one client, so one
  * thread). The active span id is also set as a Spark local property, so
  * every job records the span that started it. */
final class Tracer(sc: SparkContext) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  var pass: Int = -1

  def span[T](name: String, tags: (String, Any)*)(body: Span => T): T = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
      pass, nowMs)
    s.tags ++= tags
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    try body(s)
    finally {
      s.end = nowMs
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProperty,
        stack.headOption.map(_.id.toString).orNull)
    }
  }
}

object Tracer { val SpanProperty = "perfbench.span" }

/** Per-job record built from listener events: the span that started it,
  * its call site, and its tasks' metrics summed (peak memory: max). */
final class JobRec(val id: Int, val span: Int, val start: Long, val callSite: String) {
  var end: Long = -1
  var ok = false
  var stages, tasks = 0
  var taskMs, gcMs, shuffleRead, shuffleWrite, spill, input, output, peakMem = 0L
  def toJson: Map[String, Any] = Map("id" -> id, "span" -> span, "start" -> start,
    "end" -> end, "ok" -> ok, "callsite" -> callSite, "stages" -> stages,
    "tasks" -> tasks, "task_ms" -> taskMs, "gc_ms" -> gcMs,
    "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite,
    "spill" -> spill, "input" -> input, "output" -> output, "peak_mem" -> peakMem)
}

/** The harness's own SparkListener + QueryExecutionListener. It is attached
  * only for traced passes. Query executions carry no span property, so
  * they are credited to `sqlTarget`, which the harness sets to the current
  * operation and holds until the bus is drained.
  *
  * A job's call site is that of the SQL execution it belongs to (the
  * thread that called the action), else that of its result stage: jobs
  * that adaptive execution submits from its own threads have no program
  * frames on their stack. */
final class Probe extends SparkListener with QueryExecutionListener {
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap.empty
  val sql: ArrayBuffer[Map[String, Any]] = ArrayBuffer.empty
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val executionSite = mutable.Map.empty[String, String]
  @volatile var sqlTarget: Int = -1

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      synchronized { executionSite(x.executionId.toString) = x.details }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanProperty).map(_.toInt).getOrElse(-1)
    // The result stage is created last, so it has the highest id.
    val site = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
      .flatMap(executionSite.get)
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    val j = new JobRec(e.jobId, span, e.time, site)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j => j.end = e.time; j.ok = e.jobResult == JobSucceeded }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private def phases(qe: QueryExecution, ok: Boolean): Unit = synchronized {
    val p = qe.tracker.phases
    def s(k: String): Double = p.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
    sql += Map("span" -> sqlTarget, "ok" -> ok, "analysis_s" -> s("analysis"),
      "optimization_s" -> s("optimization"), "planning_s" -> s("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe, ok = false)
}

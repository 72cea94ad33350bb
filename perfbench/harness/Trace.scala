package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds, so driver-side spans
  * (nanoTime based) and Spark's listener events (epoch ms) share a clock. */
final class Span(val id: Long, var parent: Long, val name: String,
    val layer: String, val start: Long, var end: Long) {
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
}

/** Per-owner task totals: everything the Spark engine did on behalf of
  * one benchmark span (a query or a public call). */
final class EngineTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var schedulerDelayMs = 0L; var runMs = 0L; var cpuNs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var input = 0L; var output = 0L
  def add(o: EngineTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    schedulerDelayMs += o.schedulerDelayMs; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; output += o.output
  }
}

/** In-memory span recorder. Disabled, every call is a no-op apart from
  * the stack bookkeeping, so the untraced run measures the program, not
  * the tracer. Only the driver thread opens and closes spans; listener
  * threads add finished child spans under the lock. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val nextId = new AtomicLong(0)
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val planPhases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  val totalsByOwner = mutable.HashMap.empty[Long, EngineTotals]

  def nowMicros: Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L
  def current: Long = stack.headOption.map(_.id).getOrElse(0L)

  def open(name: String, layer: String): Span = {
    val s = new Span(nextId.incrementAndGet(), current, name, layer, nowMicros, -1L)
    stack = s :: stack
    if (enabled) synchronized { spans += s }
    s
  }

  def close(s: Span): Unit = {
    s.end = nowMicros
    stack = stack.dropWhile(_.id != s.id).drop(1)
  }

  def addFinished(parent: Long, name: String, layer: String, start: Long,
      end: Long): Span = synchronized {
    val s = new Span(nextId.incrementAndGet(), parent, name, layer, start, end)
    spans += s
    s
  }

  def totals(owner: Long): EngineTotals = synchronized {
    totalsByOwner.getOrElseUpdate(owner, new EngineTotals)
  }
}

/** The benchmark's own SparkListener: Spark jobs and stages become child
  * spans of the benchmark span that submitted them (found through a job
  * property), and task metrics are summed per owning span. */
final class EngineListener(tr: Tracer) extends SparkListener {
  private val jobOwner = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def ownerOfStage(stageId: Int): Long = synchronized {
    stageJob.get(stageId).flatMap(jobOwner.get).getOrElse(0L)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val owner = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).map(_.toLong).getOrElse(0L)
    val span = tr.addFinished(owner, s"job ${e.jobId}", "spark.job",
      e.time * 1000L, -1L)
    synchronized {
      jobOwner(e.jobId) = owner
      jobSpan(e.jobId) = span
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    tr.synchronized { tr.totals(owner).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach(_.end = e.time * 1000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val job = synchronized(stageJob.get(info.stageId))
    val parent = job.flatMap(j => synchronized(jobSpan.get(j))).map(_.id)
      .getOrElse(ownerOfStage(info.stageId))
    for (s <- info.submissionTime; c <- info.completionTime) {
      val span = tr.addFinished(parent, s"stage ${info.stageId}", "spark.stage",
        s * 1000L, c * 1000L)
      span.attrs("tasks") = info.numTasks.toDouble
    }
    tr.synchronized { tr.totals(ownerOfStage(info.stageId)).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val t = tr.totals(ownerOfStage(e.stageId))
    val i = e.taskInfo
    // Spark UI's definition: task duration not spent deserializing,
    // running, serializing the result or fetching it
    val delay = math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime -
      (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
    tr.synchronized {
      t.tasks += 1
      t.schedulerDelayMs += delay
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
      t.output += m.outputMetrics.bytesWritten
    }
  }
}

/** Catalyst's own phase clock (QueryPlanningTracker) for every executed
  * query; the phases are parented to benchmark spans when the trace is
  * written, by time containment. */
final class PlanListener(tr: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    tr.synchronized {
      phases.foreach { case (name, p) =>
        tr.planPhases += ((name, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      }
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Duration minus the part of it that the children's intervals cover. */
  def selfMicros(s: Span, children: Seq[Span]): Long = {
    val ivs = children.filter(_.end >= 0)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (s.end - s.start) - covered)
  }
}

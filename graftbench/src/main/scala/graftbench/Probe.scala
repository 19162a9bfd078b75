package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-scope counters read from Spark's listener events. A scope is one
  * timed pass (or stream leg); see [[Probe]] for how events find it.
  */
final class Counters {
  var jobs, buildJobs, actionJobs, stages, tasks, taskRetries = 0L
  var taskRunMs, taskCpuNs = 0L
  var inputRows, inputBytes, scanTasks, outputRows, outputBytes = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes, materializedBytes = 0L
  var planMs = 0L
}

/** One timed interval. Times are milliseconds since the epoch; `parent`
  * is the id of the span that caused this one (0 for a root).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String, start: Double, end: Double)

/** Span store. Spans stay in memory until the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = synchronized { spans += s }

  /** Runs `body` inside a span of `kind`, giving it the new span's id. */
  def span[T](parent: Long, kind: String, name: String)(body: Long => T): T = {
    val id = nextId()
    val start = nowMs()
    try body(id)
    finally add(Span(id, parent, kind, name, start, nowMs()))
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time of every span: its duration minus the part of it that its
    * children cover.
    */
  def selfTimes: Seq[(Span, Double)] = {
    val spansNow = all
    val children = spansNow.groupBy(_.parent)
    spansNow.map { s =>
      val covered = children
        .getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
        }
        ._1
      s -> math.max(0.0, s.end - s.start - covered)
    }
  }
}

/** The traced run's listener. It is registered on the SparkContext (job,
  * stage, task and block events) and on the session's listener manager
  * (planning phases of each executed query).
  *
  * The harness names every job group `scope|query|phase` (see
  * [[Probe.group]]); a job outside such a group (micro-batches, for
  * instance) and events that carry no job (block updates, query
  * executions) are charged to the scope set by [[enter]]. The harness
  * drains the listener bus before it changes scope.
  */
final class Probe(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  @volatile private var scope = "setup"

  /** When false every event is ignored: the untraced passes of a traced run. */
  @volatile var enabled = true
  private val counters = mutable.Map.empty[String, Counters]
  private val stageScope = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, (Long, String, Double)]
  private val groupSpans = mutable.Map.empty[String, Long]

  @volatile private var scopeSpan = 0L

  /** Charges scope-less events to `s`, and parents ungrouped jobs to `span`. */
  def enter(s: String, span: Long): Unit = { scope = s; scopeSpan = span }

  /** Registers the span that jobs in `group` are children of. */
  def bindGroup(group: String, spanId: Long): Unit = synchronized { groupSpans(group) = spanId }

  def get(s: String): Counters = synchronized(counters.getOrElseUpdate(s, new Counters))

  private def scopeOf(group: String): String =
    if (group != null && group.contains('|')) group.takeWhile(_ != '|') else scope

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val s = scopeOf(group)
    val c = get(s)
    c.jobs += 1
    if (group != null && group.endsWith("|build")) c.buildJobs += 1
    if (group != null && group.endsWith("|action")) c.actionJobs += 1
    e.stageIds.foreach(stageScope(_) = s)
    val parent = Option(group).flatMap(groupSpans.get).getOrElse(scopeSpan)
    jobSpan(e.jobId) = (parent, Option(group).getOrElse(s), e.time.toDouble)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobSpan.remove(e.jobId).foreach { case (parent, name, start) =>
      tracer.add(Span(tracer.nextId(), parent, "job", s"$name#${e.jobId}", start, e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    get(stageScope.getOrElse(e.stageInfo.stageId, scope)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    val c = get(stageScope.getOrElse(e.stageId, scope))
    c.tasks += 1
    if (e.taskInfo.attemptNumber > 0 || e.taskInfo.failed) c.taskRetries += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.inputRows += m.inputMetrics.recordsRead
      c.inputBytes += m.inputMetrics.bytesRead
      if (m.inputMetrics.bytesRead > 0) c.scanTasks += 1
      c.outputRows += m.outputMetrics.recordsWritten
      c.outputBytes += m.outputMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled) synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) get(scope).materializedBytes += info.memSize + info.diskSize
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (enabled) synchronized {
    val phases = qe.tracker.phases
    get(scope).planMs += Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Probe {
  def group(scope: String, query: String, phase: String): String = s"$scope|$query|$phase"
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracing. The harness opens named spans around each op
  * and its phases, and tags the Spark jobs it submits inside a span
  * with the span id (a local property). Three listeners record what the
  * engine does meanwhile: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (planning phases) and a
  * StreamingQueryListener (micro-batch progress). Listener callbacks
  * only append raw events; attribution to spans happens once, in
  * [[report]], after the listener bus is drained.
  *
  * Attribution rules:
  *  - a batch job carries the id of the span that submitted it;
  *  - a streaming job carries the query id and batch id the engine sets,
  *    and the harness maps (query, batch) to the span of the round that
  *    ran that batch ([[mapBatches]]);
  *  - a planning record is attributed to the innermost span open when
  *    its analysis phase started.
  *
  * When disabled, `span` runs its body and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val batchSpan = mutable.Map[(String, Long), Int]()

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.add(JobRec(e.jobId, prop(SpanProp).map(_.toInt),
        prop("sql.streaming.queryId"), prop("streaming.sql.batchId").map(_.toLong),
        e.time, e.stageIds))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null)
        tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled, m.inputMetrics.recordsRead,
          m.inputMetrics.bytesRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def dur(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      plans.add(PlanRec(start, dur("analysis"), dur("optimization"), dur("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(Map(
        "query" -> p.id.toString, "batch" -> p.batchId,
        "input_rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum))
    }
  }

  private var attached = false

  /** Attach the three listeners (idempotent; no-op when disabled). */
  def attach(): Unit = if (enabled && !attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Run `body` inside a span named `name` of op `opId` (a negative
    * `opId` inherits the enclosing span's op). */
  def span[T](name: String, opId: Int)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val op = if (opId >= 0) opId else parent.map(_.opId).getOrElse(-1)
      val s = Span(spans.length, name, parent.map(_.id).getOrElse(-1), op,
        System.currentTimeMillis(), -1L)
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
      }
    }

  /** The id of the most recent top-level (op) span, or -1. */
  def lastOpSpan: Int = spans.reverseIterator.find(_.parent < 0).map(_.id).getOrElse(-1)

  /** Record that the given streaming batches ran inside span `spanId`. */
  def mapBatches(query: String, batches: Seq[Long], spanId: Int): Unit =
    if (enabled) batches.foreach(b => batchSpan((query, b)) = spanId)

  /** Drain the bus and attribute every recorded event. Returns the
    * spans with their own (not their children's) counters, per-job
    * counts of streaming batches, and the raw streaming progress. */
  def report(): Map[String, Any] = {
    drain()
    val byTime = spans.sortBy(s => (s.startMs, s.id))
    def innermostAt(t: Long): Int = byTime
      .filter(s => s.startMs <= t && (s.endMs < 0 || t <= s.endMs))
      .lastOption.map(_.id).getOrElse(-1)
    val own = mutable.Map[Int, Own]().withDefault(_ => Own())
    def bump(id: Int)(f: Own => Own): Unit = if (id >= 0) own(id) = f(own(id))
    val stageSpan = mutable.Map[Int, Int]()
    val perBatch = mutable.Map[(String, Long), Int]().withDefaultValue(0)
    jobs.asScala.foreach { j =>
      val spanId = (j.query, j.batch) match {
        case (Some(q), Some(b)) =>
          perBatch((q, b)) += 1
          batchSpan.getOrElse((q, b), innermostAt(j.timeMs))
        case _ => j.span.getOrElse(innermostAt(j.timeMs))
      }
      j.stageIds.foreach(st => stageSpan(st) = spanId)
      bump(spanId)(o => o.copy(jobs = o.jobs + 1))
    }
    stagesDone.asScala.foreach { st =>
      bump(stageSpan.getOrElse(st, -1))(o => o.copy(stages = o.stages + 1))
    }
    val intervals = mutable.Map[Int, mutable.ArrayBuffer[(Long, Long)]]()
    tasks.asScala.foreach { t =>
      val id = stageSpan.getOrElse(t.stageId, -1)
      bump(id)(o => o.copy(tasks = o.tasks + 1,
        busyMs = o.busyMs + (t.finishMs - t.launchMs),
        shuffleWrite = o.shuffleWrite + t.shuffleWrite,
        shuffleRead = o.shuffleRead + t.shuffleRead, spill = o.spill + t.spill,
        inRows = o.inRows + t.inRows, inBytes = o.inBytes + t.inBytes))
      if (id >= 0) intervals.getOrElseUpdate(id, mutable.ArrayBuffer()) +=
        ((t.launchMs, t.finishMs))
    }
    plans.asScala.foreach { p =>
      bump(innermostAt(p.startMs))(o => o.copy(executions = o.executions + 1,
        analysisMs = o.analysisMs + p.analysisMs,
        optimizationMs = o.optimizationMs + p.optimizationMs,
        planningMs = o.planningMs + p.planningMs))
    }
    Map(
      "spans" -> spans.map { s =>
        val o = own(s.id)
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.opId,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "jobs" -> o.jobs, "stages" -> o.stages, "tasks" -> o.tasks,
          "task_busy_ms" -> o.busyMs, "shuffle_write_b" -> o.shuffleWrite,
          "shuffle_read_b" -> o.shuffleRead, "spill_b" -> o.spill,
          "input_rows" -> o.inRows, "input_b" -> o.inBytes,
          "executions" -> o.executions, "analysis_ms" -> o.analysisMs,
          "optimization_ms" -> o.optimizationMs, "planning_ms" -> o.planningMs,
          "task_intervals" -> intervals.getOrElse(s.id, Nil).map(x => Seq(x._1, x._2)))
      },
      "batch_jobs" -> perBatch.toSeq.map { case ((q, b), n) =>
        Map("query" -> q, "batch" -> b, "jobs" -> n) },
      "progress" -> progress.asScala.toSeq)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, opId: Int,
                        startMs: Long, var endMs: Long)
  final case class JobRec(jobId: Int, span: Option[Int], query: Option[String],
                          batch: Option[Long], timeMs: Long, stageIds: Seq[Int])
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
                           shuffleWrite: Long, shuffleRead: Long, spill: Long,
                           inRows: Long, inBytes: Long)
  final case class PlanRec(startMs: Long, analysisMs: Long,
                           optimizationMs: Long, planningMs: Long)
  final case class Own(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                       busyMs: Long = 0, shuffleWrite: Long = 0,
                       shuffleRead: Long = 0, spill: Long = 0, inRows: Long = 0,
                       inBytes: Long = 0, executions: Long = 0,
                       analysisMs: Long = 0, optimizationMs: Long = 0,
                       planningMs: Long = 0)
}

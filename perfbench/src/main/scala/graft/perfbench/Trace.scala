package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the harness's calls into each layer, kept in memory.
  *
  * A span is one timed call: name, wall-clock start/end (epoch ms, for
  * attributing listener events by time), monotonic duration, and its
  * parent span. Static codegen counters are read at both boundaries.
  * When not `enabled` a span is just its body. The time spent in the
  * bookkeeping itself is summed per pass, as part of the tracing cost.
  */
final class Spans(val runId: String, enabled: Boolean) {
  import Spans.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private val costNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private var stack = List.empty[Int]
  private var nextId = 0
  var pass: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n0 = CodeGenerator.compileTime
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        done += Span(id, name, parent, pass, startMs, System.currentTimeMillis(),
          (t1 - t0) / 1e9, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
          CodeGenerator.compileTime - n0)
        costNs(pass) += (t0 - b0) + (System.nanoTime() - t1)
      }
    }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Seconds spent recording the spans of pass `p`. */
  def costSeconds(p: Int): Double = costNs(p) / 1e9

  /** Span duration minus its direct children's. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = Json.value(all.map(s => Json.Raw(Json.obj(
    "run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
    "seconds" -> s.seconds, "self_seconds" -> selfSeconds(s),
    "codegen_compiles" -> s.compiles,
    "codegen_compile_s" -> s.compileNs / 1e9))))
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, pass: Int,
                        startMs: Long, endMs: Long, seconds: Double,
                        compiles: Long, compileNs: Long)
}

/** Listener-side counters: scheduler/executor events (`SparkListener`),
  * Catalyst phases and executed-plan shapes (`QueryExecutionListener`)
  * and micro-batch progress (`StreamingQueryListener`). An event is kept
  * if its own timestamp falls in the window between `open()` and
  * `close()`, whenever the listener bus delivers it; kept events are
  * attributed to spans after the bus has drained (at session stop). The
  * time the callbacks spend on kept events is summed as tracing cost.
  */
final class Listeners {
  import Listeners._

  val jobs = new ConcurrentLinkedQueue[Long]() // job end time
  val stages = new ConcurrentLinkedQueue[Long]() // stage completion time
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phases]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val costNs = new AtomicLong()

  @volatile private var fromMs = Long.MaxValue
  @volatile private var toMs = Long.MaxValue
  def open(): Unit = fromMs = System.currentTimeMillis()
  def close(): Unit = toMs = System.currentTimeMillis()

  /** Seconds the callbacks spent on kept events. */
  def costSeconds: Double = costNs.get / 1e9

  /** Runs `record` if `atMs` is inside the window, timing it. */
  private def keep(atMs: Long)(record: => Unit): Unit =
    if (atMs >= fromMs && atMs <= toMs) {
      val t0 = System.nanoTime()
      record
      costNs.addAndGet(System.nanoTime() - t0)
    }

  val spark: SparkListener = new SparkListener {
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      keep(e.time)(jobs.add(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val at = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      keep(at)(stages.add(at))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) keep(e.taskInfo.finishTime) {
        val m = e.taskMetrics
        tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val end = if (ph.isEmpty) System.currentTimeMillis()
                else ph.values.map(_.endTimeMs).max
      keep(end) {
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val (x, s, b) = PlanShape.count(qe)
        phases.add(Phases(end, ms("analysis"), ms("optimization"),
          ms("planning"), x, s, b))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        d.getOrElse("triggerExecution", 0L)
      keep(end)(batches.add(Batch(p.id.toString, end, d, p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)))
    }
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(queries)
    s.streams.addListener(streams)
  }
}

object Listeners {
  final case class Task(launchMs: Long, finishMs: Long, runMs: Long,
                        cpuNs: Long, gcMs: Long, shuffleRead: Long,
                        shuffleWrite: Long, spill: Long)
  final case class Phases(endMs: Long, analysisMs: Long, optimizeMs: Long,
                          planMs: Long, exchanges: Int, smj: Int,
                          broadcasts: Int)
  final case class Batch(query: String, endMs: Long,
                         durations: Map[String, Long], rowsIn: Long,
                         stateRows: Long, stateBytes: Long)
}

/** Exchange / sort-merge-join / broadcast counts of an executed plan,
  * looking through adaptive query stages.
  */
object PlanShape extends AdaptiveSparkPlanHelper {
  def count(qe: QueryExecution): (Int, Int, Int) = {
    val plan = qe.executedPlan
    (collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size,
      collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }.size,
      collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }.size)
  }
}

package graft.perfbench

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `query` is the registry query it belongs to (empty
  * for the pass); `level` orders the nesting pass → query → build /
  * materialize → micro-batch → plan phase / job. */
final case class Span(id: Int, parent: Int, query: String, name: String,
    layer: String, level: Int, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Interval helpers over (start, end) pairs in microseconds. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Wall clock in epoch microseconds with nanoTime resolution, on the same
  * base as Spark's millisecond event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** Traced-run recorder: Spark listener (jobs, stages, tasks), query
  * execution listener (planning phases and plan shape) and streaming
  * listener (micro-batches). Spans and counters stay in memory; events are
  * attributed to the query the harness is running, and the harness drains
  * the listener bus before moving to the next query.
  */
final class Recorder extends AdaptiveSparkPlanHelper {
  val current = new AtomicReference[String]("")
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val jobStarts = mutable.Map.empty[Int, (Long, String)]
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val stateRows = mutable.Map.empty[java.util.UUID, Long]
  private var nextId = 1

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def max(key: String, v: Double): Unit = synchronized {
    counters(key) = math.max(counters.getOrElse(key, 0.0), v)
  }

  def span(query: String, name: String, layer: String, level: Int,
      startUs: Long, endUs: Long): Unit = synchronized {
    spans += Span(nextId, 0, query, name, layer, level, startUs,
      math.max(startUs, endUs))
    nextId += 1
  }

  def snapshot: (Seq[Span], Map[String, Double], Seq[Double]) = synchronized {
    (spans.toVector, counters.toMap, batchMs.toVector)
  }

  def stateRowsTotal: Long = synchronized(stateRows.values.sum)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Recorder.this.synchronized { jobStarts(e.jobId) = (e.time, current.get) }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val started = Recorder.this.synchronized(jobStarts.remove(e.jobId))
      started.foreach { case (t0, q) =>
        span(q, "job", "sched", 4, t0 * 1000L, e.time * 1000L)
        add("sched.jobs", 1)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("sched.stages", 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      if (e.reason != Success) add("sched.tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_ms", m.executorRunTime.toDouble)
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("exec.deser_ms", m.executorDeserializeTime.toDouble)
        max("exec.peak_mem_bytes", m.peakExecutionMemory.toDouble)
        add("sources.records_read", m.inputMetrics.recordsRead.toDouble)
        add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
        add("sources.records_written", m.outputMetrics.recordsWritten.toDouble)
        add("sources.bytes_written", m.outputMetrics.bytesWritten.toDouble)
        add("shuffle.bytes_written", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.records_written",
          m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("shuffle.write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
        add("shuffle.bytes_read", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_ms",
          m.shuffleReadMetrics.fetchWaitTime.toDouble)
      }
    }
  }

  private def planShape(plan: SparkPlan): Unit = {
    add("planning.exchanges", collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
    }.size.toDouble)
    add("planning.unpartitioned_windows", collectWithSubqueries(plan) {
      case w: WindowExecBase if w.partitionSpec.isEmpty => w
    }.size.toDouble)
  }

  private def phases(qe: QueryExecution): Unit = {
    val q = current.get
    add("planning.query_executions", 1)
    qe.tracker.phases.foreach { case (phase, p) =>
      add(s"planning.${phase}_ms", (p.endTimeMs - p.startTimeMs).toDouble)
      span(q, phase, "planning", 4, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
    try planShape(qe.executedPlan) catch { case _: Exception => () }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = phases(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val trigger = d("triggerExecution")
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      span(current.get, "micro_batch", "stream", 3, t0 * 1000L,
        (t0 + trigger) * 1000L)
      add("stream.batches", 1)
      if (p.numInputRows == 0) add("stream.empty_batches", 1)
      add("stream.input_rows", p.numInputRows.toDouble)
      add("stream.trigger_ms", trigger.toDouble)
      add("stream.add_batch_ms", d("addBatch").toDouble)
      add("stream.query_planning_ms", d("queryPlanning").toDouble)
      add("stream.wal_commit_ms", d("walCommit").toDouble)
      add("stream.commit_offsets_ms", d("commitOffsets").toDouble)
      add("stream.latest_offset_ms", d("latestOffset").toDouble)
      add("stream.get_batch_ms", d("getBatch").toDouble)
      p.stateOperators.foreach { s =>
        add("stream.state_commit_ms", s.commitTimeMs.toDouble)
        max("stream.state_memory_bytes", s.memoryUsedBytes.toDouble)
      }
      Recorder.this.synchronized {
        batchMs += trigger.toDouble
        // state rows held at the stream's latest batch, summed over streams
        stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  }
}

object Recorder {
  /** Counter-backed metrics, reported as 0 when no event produced them. */
  val metricNames: Seq[String] = Seq(
    "planning.analysis_ms", "planning.optimization_ms",
    "planning.planning_ms", "planning.query_executions",
    "planning.exchanges", "planning.unpartitioned_windows",
    "sources.records_read", "sources.bytes_read", "sources.records_written",
    "sources.bytes_written",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.tasks_failed",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.deser_ms",
    "exec.peak_mem_bytes",
    "shuffle.bytes_written", "shuffle.bytes_read", "shuffle.records_written",
    "shuffle.write_ms", "shuffle.fetch_wait_ms",
    "stream.batches", "stream.empty_batches", "stream.trigger_ms",
    "stream.add_batch_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms", "stream.latest_offset_ms",
    "stream.get_batch_ms", "stream.state_commit_ms",
    "stream.state_memory_bytes")
}

/** Parent assignment by containment and self time per layer. */
object SpanTree {

  /** Each span's parent is the innermost span of a lower level, of the
    * same query (or the pass), whose interval contains its start. Spark
    * event times have millisecond resolution, so containment allows 1 ms. */
  def link(spans: Seq[Span]): Seq[Span] = {
    val byQuery = spans.groupBy(_.query)
    val pass = spans.filter(_.level == 0)
    spans.map { s =>
      if (s.level == 0) s
      else {
        val candidates = (byQuery.getOrElse(s.query, Nil) ++ pass)
          .filter(p => p.level < s.level && p.startUs - 1000 <= s.startUs &&
            s.startUs <= p.endUs + 1000)
        val parent = if (candidates.isEmpty) pass.headOption
          else Some(candidates.maxBy(p => (p.level, -p.durUs)))
        s.copy(parent = parent.map(_.id).getOrElse(0))
      }
    }
  }

  /** Span duration minus the part of it its children cover, per layer. */
  def selfMsByLayer(linked: Seq[Span]): Map[String, Double] = {
    val children = linked.groupBy(_.parent)
    linked.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Intervals.union(children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
        (s.durUs - covered) / 1000.0
      }.sum
    }
  }
}

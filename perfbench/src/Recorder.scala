// Lives under org.apache.spark.sql so it can read the QueryExecution that
// rides on SQL execution-end events and drain the listener bus.
package org.apache.spark.sql.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Layer counters recorded from outside the engine: a SparkListener for
  * jobs and tasks, the QueryExecution phase tracker for planning time,
  * and a StreamingQueryListener for micro-batch phases. Nothing here is
  * attached unless [[attach]] is called, so untraced runs pay nothing.
  *
  * Every record carries its wall-clock time; [[spanMetrics]] attributes
  * records to the span whose [start, end] window holds them. Spans are
  * sequential, so a job launched from a helper thread of the operation
  * under way still lands in that operation's span. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  private val batches = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var attached = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      jobs(e.jobId) = Job(e.time, -1L)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val m = e.taskMetrics
      val ok = e.reason == Success
      tasks += (if (m == null) Task(e.stageId, ok, 0, 0, 0, 0)
      else Task(e.stageId, ok, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd if end.qe != null =>
        val s = planSeconds(end.qe)
        Recorder.this.synchronized { plans += ((end.time, s)) }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Recorder.this.synchronized { batches += ((System.currentTimeMillis(), d)) }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def attach(): Unit = {
    attached = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    attached = false
  }

  /** Wait until every event posted so far has reached the listeners.
    * Never called while holding this object's lock: the listeners take it. */
  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Run `body` as one span; recorded only while attached. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally if (attached) synchronized {
      spans += Span(name, t0, System.currentTimeMillis(), 0.0)
    }
  }

  /** Add planning time to the last span, for a plan the caller executed
    * itself: an RDD-level action posts no SQL execution event. */
  def addPlanSeconds(s: Double): Unit = synchronized {
    if (attached && spans.nonEmpty) spans(spans.length - 1) =
      spans.last.copy(extraPlanS = spans.last.extraPlanS + s)
  }

  /** Per-span totals, keyed `<span>.<counter>`, summed over every
    * recorded occurrence of the span. */
  def spanMetrics(): Map[String, Double] = { drain(); synchronized {
    def spanOf(t: Long): Option[String] =
      spans.find(s => s.start <= t && t <= s.end).map(_.name)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(span: String, k: String, v: Double): Unit = out(s"$span.$k") += v
    spans.foreach(s => add(s.name, "wall_s", (s.end - s.start) / 1e3))
    spans.foreach(s => add(s.name, "plan_s", s.extraPlanS))
    plans.foreach { case (t, s) => spanOf(t).foreach(add(_, "plan_s", s)) }
    val jobSpan = jobs.flatMap { case (id, j) => spanOf(j.start).map(id -> _) }
    jobSpan.values.foreach(add(_, "jobs", 1))
    tasks.foreach { t =>
      stageJob.get(t.stage).flatMap(jobSpan.get).foreach { s =>
        add(s, "tasks", 1)
        add(s, "task_s", t.runMs / 1e3)
        add(s, "shuffle_mb", t.shuffleBytes / MB)
      }
    }
    spans.foreach { s =>
      val busy = union(jobs.values.filter(j => j.start >= s.start && j.start <= s.end)
        .map(j => (j.start, if (j.end < 0) s.end else math.min(j.end, s.end))).toSeq)
      add(s.name, "driver_gap_s", math.max(0L, (s.end - s.start) - busy) / 1e3)
    }
    out.toMap
  } }

  def taskTotals(): Map[String, Double] = { drain(); synchronized {
    Map(
      "spill_mb" -> tasks.map(_.spillBytes).sum / MB,
      "output_mb" -> tasks.map(_.outBytes).sum / MB,
      "failed_tasks" -> tasks.count(!_.ok).toDouble)
  } }

  def streamTotals(): Map[String, Double] = { drain(); synchronized {
    def phase(k: String) = batches.map(_._2.getOrElse(k, 0L)).sum / 1e3
    Map(
      "st.batches" -> batches.size.toDouble,
      "st.add_batch_s" -> phase("addBatch"),
      "st.planning_s" -> phase("queryPlanning"),
      "st.wal_commit_s" -> phase("walCommit"),
      "st.commit_offsets_s" -> phase("commitOffsets"))
  } }
}

object Recorder {
  private val MB = 1024.0 * 1024.0

  private final case class Job(start: Long, end: Long)
  private final case class Task(stage: Int, ok: Boolean, runMs: Long,
                                shuffleBytes: Long, spillBytes: Long, outBytes: Long)
  private final case class Span(name: String, start: Long, end: Long, extraPlanS: Double)

  /** Analysis + optimization + physical planning, from the phase tracker. */
  def planSeconds(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs).sum / 1e3

  /** Total length of the union of [start, end] intervals, in ms. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Process-wide codegen counters: Janino compile seconds and classes. */
  def codegen(): (Double, Long) =
    (CodeGenerator.compileTime / 1e9, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Cached or checkpointed RDD partitions still held by the block manager. */
  def residualBlocks(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
}

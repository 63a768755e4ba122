package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `parent` is 0 for the root (workload) span. Times
  * are epoch milliseconds, the clock Spark's listener events carry.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double)

/** Spans the benchmark opens around its own calls into graft (workload and
  * operation). Always present: the untraced run keeps them too, because they
  * are the operation timings themselves and cost two clock reads each.
  */
final class OpClock {
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  def nextId(): Long = ids.incrementAndGet()
  def record(parent: Long, kind: String, name: String, start: Double, end: Double,
             id: Long = nextId()): Long = {
    spans.synchronized(spans += Span(id, parent, kind, name, start, end))
    id
  }
}

final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, schedMs: Long, shWrite: Long, shRead: Long,
                         fetchWaitMs: Long, spill: Long, inBytes: Long, inRows: Long)
final case class JobRec(id: Int, execId: Long, start: Long, var end: Long, stages: Seq[Int])
final case class StageRec(id: Int, start: Long, end: Long)
final case class ActionRec(execId: Long, start: Long, var end: Long)
final case class PhaseRec(analysisMs: Double, optimizationMs: Double, planningMs: Double)

/** The traced run's instruments: one SparkListener (jobs, stages, tasks and
  * SQL execution boundaries), one QueryExecutionListener (Catalyst phase
  * times) and one StreamingQueryListener (micro-batch progress). Everything
  * is held in memory and summarised after the workload ends.
  */
final class Trace(val clock: OpClock) {
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val actions = mutable.LinkedHashMap.empty[Long, ActionRec]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var compileNs0 = 0L
  private var compiles0 = 0L
  private var gcMs0 = 0L
  private var cpuNs0 = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      Trace.this.synchronized(jobs(e.jobId) = JobRec(e.jobId, exec, e.time, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      Trace.this.synchronized(stages += StageRec(s.stageId,
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val rec = if (m == null) TaskRec(e.stageId, i.launchTime, i.finishTime,
        0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else {
        val sched = (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L)
        TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, math.max(0L, sched),
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
      }
      Trace.this.synchronized(tasks += rec)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized(actions(s.executionId) = ActionRec(s.executionId, s.time, s.time))
      case s: SparkListenerSQLExecutionEnd =>
        Trace.this.synchronized(actions.get(s.executionId).foreach(_.end = s.time))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      Trace.this.synchronized(phases += PhaseRec(ms("analysis"),
        ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Start recording, after the events of earlier work have been delivered. */
  def install(spark: SparkSession): Unit = {
    Trace.drain(spark)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    compileNs0 = Trace.compileNs
    compiles0 = Trace.compiles
    gcMs0 = Trace.gcMs
    cpuNs0 = Trace.cpuNs
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  /** Drain the listener buses so every event of the finished work is seen. */
  def uninstall(spark: SparkSession): Unit = {
    Trace.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def codegenSeconds: Double = (Trace.compileNs - compileNs0) / 1e9
  def codegenCompiles: Long = Trace.compiles - compiles0
  def gcSeconds: Double = (Trace.gcMs - gcMs0) / 1e3
  def cpuSeconds: Double = (Trace.cpuNs - cpuNs0) / 1e9
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

  /** Length of `[a, b]` covered by the union of `intervals`. */
  private def covered(intervals: Seq[(Double, Double)], a: Double, b: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (s, e) =>
      if (cs.isNaN) { cs = s; ce = e }
      else if (s <= ce) ce = math.max(ce, e)
      else { total += ce - cs; cs = s; ce = e }
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** All spans: the benchmark's own (workload, operation), the streaming
    * micro-batches, and Spark actions, jobs and stages. Batches and actions
    * are parented by time containment (actions into the batch or operation
    * that was running), jobs and stages by id.
    */
  def allSpans(): Seq[Span] = synchronized {
    val own = clock.spans.toSeq
    val root = own.find(_.kind == "workload").map(_.id).getOrElse(0L)
    val ops = own.filter(_.kind == "operation").sortBy(_.start)
    def within(spans: Seq[Span], s: Double, e: Double): Option[Long] =
      spans.find(o => o.start <= s + 1 && e <= o.end + 1).map(_.id)
    val batches = progress.toSeq.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      Span(clock.nextId(), within(ops, s, s + d).getOrElse(root), "batch",
        s"batch-${p.batchId}", s, s + d)
    }
    def parentOf(s: Double, e: Double): Long =
      within(batches, s, e).orElse(within(ops, s, e)).getOrElse(root)
    val actionIds = actions.values.map(a => a.execId -> clock.nextId()).toMap
    val actionSpans = actions.values.toSeq.map(a =>
      Span(actionIds(a.execId), parentOf(a.start, a.end), "action", s"execution-${a.execId}",
        a.start, a.end))
    val jobIds = jobs.values.map(j => j.id -> clock.nextId()).toMap
    val jobSpans = jobs.values.toSeq.map(j => Span(jobIds(j.id),
      actionIds.getOrElse(j.execId, parentOf(j.start, j.end)), "job", s"job-${j.id}",
      j.start, j.end))
    val stageToJob = jobs.values.flatMap(j => j.stages.map(_ -> jobIds(j.id))).toMap
    val stageSpans = stages.toSeq.map(s => Span(clock.nextId(),
      stageToJob.getOrElse(s.id, root), "stage", s"stage-${s.id}", s.start, s.end))
    own ++ batches ++ actionSpans ++ jobSpans ++ stageSpans
  }

  /** Self time per span kind: each span's duration minus the part of it its
    * children cover.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        (s.end - s.start) - covered(ch, s.start, s.end)
      }.sum / 1e3
    }
  }

  /** Per-layer figures for the Spark runtime layers. */
  def summary(opWindows: Seq[(Double, Double)]): Map[String, Double] = synchronized {
    val spans = allSpans()
    val self = selfSeconds(spans)
    val taskIv = tasks.toSeq.map(t => (t.launch.toDouble, t.finish.toDouble))
    val noTask = opWindows.map { case (a, b) => (b - a) - covered(taskIv, a, b) }.sum / 1e3
    val byStage = tasks.groupBy(_.stage)
    val skew = byStage.values.filter(_.size >= 2).map { ts =>
      val reads = ts.map(_.shRead.toDouble).sorted
      val med = reads(reads.size / 2)
      if (med > 0) reads.last / med else 0.0
    }.foldLeft(0.0)(math.max)
    def st(f: StreamingQueryProgress => Double): Double = progress.map(f).sum
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val sum = (f: TaskRec => Long) => tasks.map(f).sum.toDouble
    Map(
      "catalyst.analysis_s" -> phases.map(_.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> phases.map(_.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> phases.map(_.planningMs).sum / 1e3,
      "codegen.compile_s" -> codegenSeconds,
      "codegen.compiles" -> codegenCompiles.toDouble,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> tasks.size.toDouble,
      "scheduler.task_run_s" -> sum(_.runMs) / 1e3,
      "scheduler.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "scheduler.task_gc_s" -> sum(_.gcMs) / 1e3,
      "scheduler.task_sched_delay_s" -> sum(_.schedMs) / 1e3,
      "scheduler.no_task_s" -> noTask,
      "shuffle.write_bytes" -> sum(_.shWrite),
      "shuffle.read_bytes" -> sum(_.shRead),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "shuffle.spill_bytes" -> sum(_.spill),
      "shuffle.read_skew" -> skew,
      "scan.input_bytes" -> sum(_.inBytes),
      "scan.input_rows" -> sum(_.inRows),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.trigger_ms" -> st(dur(_, "triggerExecution")),
      "streaming.add_batch_ms" -> st(dur(_, "addBatch")),
      "streaming.query_planning_ms" -> st(dur(_, "queryPlanning")),
      "streaming.get_batch_ms" -> st(dur(_, "getBatch")),
      "streaming.wal_commit_ms" -> st(dur(_, "walCommit")),
      "streaming.commit_offsets_ms" -> st(dur(_, "commitOffsets")),
      "state.update_ms" -> st(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble),
      "state.remove_ms" -> st(_.stateOperators.map(_.allRemovalsTimeMs).sum.toDouble),
      "state.commit_ms" -> st(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "state.rows_updated" -> st(_.stateOperators.map(_.numRowsUpdated).sum.toDouble),
      "state.rows_total" -> progress.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble)
        .foldLeft(0.0)(math.max),
      "state.memory_bytes" -> progress.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
        .foldLeft(0.0)(math.max),
      "state.rows_dropped_late" ->
        st(_.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble),
      "jvm.gc_s" -> gcSeconds,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "jvm.cpu_s" -> cpuSeconds,
    ) ++ Seq("workload", "operation", "batch", "action", "job", "stage")
      .map(k => s"self.${k}_s" -> self.getOrElse(k, 0.0))
  }

  def writeSpans(path: java.nio.file.Path): Int = {
    val spans = allSpans()
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Json.write(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start" -> s.start, "end" -> s.end)))
      w.newLine()
    } finally w.close()
    spans.size
  }
}

object Trace {
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit =
    try {
      val m = spark.sparkContext.getClass.getMethod("listenerBus")
      val bus = m.invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(500) }
}

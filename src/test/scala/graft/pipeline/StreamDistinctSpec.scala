package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming dedup within watermark + late-event metrics (SURVEY §2.7
  * windowed distinct, §2.8 lateEventsDropped counter).
  */
class StreamDistinctSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark dedups across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val deduped = new StreamSourceStage(mem.toDF.toDF("ts", "event_id"))
      .withTimestamps("ts", "10 minutes")
      .distinct("event_id")
    val job = StreamSinks.memory("dedup_test", "append").start(deduped.df)

    mem.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:00:01"), 1L),
                (ts("2024-01-01 00:00:02"), 2L))
    job.processAllAvailable()
    // same id arriving again in a later batch, still inside the watermark
    mem.addData((ts("2024-01-01 00:00:03"), 2L), (ts("2024-01-01 00:00:04"), 3L))
    job.processAllAvailable()

    val ids = spark.table("dedup_test").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
    job.cancel()
  }

  test("late events are dropped and surfaced via the metrics listener") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val agged = new StreamSourceStage(mem.toDF.toDF("ts", "v"))
      .withTimestamps("ts", "1 minute")
      .window(WindowDefinition.tumbling("1 minute"))
      .aggregate(AggregateOperations.counting("n"))
    val job = StreamSinks.memory("late_test", "append").start(agged)

    mem.addData((ts("2024-01-01 10:00:00"), 1.0))
    job.processAllAvailable()
    // advance the watermark far past 10:00, closing that window
    mem.addData((ts("2024-01-01 12:00:00"), 1.0))
    job.processAllAvailable()
    // now send an event 2h late — must be dropped, and counted as dropped
    mem.addData((ts("2024-01-01 10:00:30"), 99.0))
    job.processAllAvailable()
    mem.addData((ts("2024-01-01 12:30:00"), 1.0))
    job.processAllAvailable()

    val closed = spark.table("late_test")
      .filter(col("window_start") === ts("2024-01-01 10:00:00")).collect()
    assert(closed.forall(_.getAs[Long]("n") === 1L), "late event leaked into closed window")
    val dropped = job.metrics.getOrElse("lateEventsDropped", 0.0)
    assert(dropped >= 1.0, s"late drop not counted (got $dropped)")
    job.cancel()
  }
}

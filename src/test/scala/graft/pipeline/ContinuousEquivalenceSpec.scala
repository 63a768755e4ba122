package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{ForeachWriter, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Output-equivalence pin for the continuous-processing latency probe
  * (`graft.ContinuousLatency`): the SAME pure column transform (the NEXMark
  * Q1 currency shape) must produce content-identical rows under
  * `Trigger.Continuous` and under micro-batch execution — the two modes may
  * differ only in delivery timing. Verified against the transform's
  * definition on each mode's own consumed inputs (the rate source's value
  * sequence is consumed nondeterministically far, so equivalence is checked
  * per-value, exactly).
  */
object ContinuousCollector {
  val rows = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Double)]()
  final class W extends ForeachWriter[Row] {
    override def open(partitionId: Long, epochId: Long): Boolean = true
    override def process(r: Row): Unit =
      rows.add((r.getLong(0), r.getLong(1), r.getDouble(2)))
    override def close(errorOrNull: Throwable): Unit = ()
  }
}

class ContinuousEquivalenceSpec extends SparkSpec {

  import spark.implicits._

  private def q1(df: org.apache.spark.sql.DataFrame) =
    df.select(col("value"),
      (col("value") % 10000).as("auction"),
      ((col("value") % 1000 * 100 + 100).cast("double") * 0.89).as("price_eur"))

  private def expected(v: Long): (Long, Long, Double) =
    (v, v % 10000, (v % 1000 * 100 + 100).toDouble * 0.89)

  test("Trigger.Continuous runs the Q1 shape and its rows equal the pure transform") {
    ContinuousCollector.rows.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cont_eq_").toString
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", "1000").option("numPartitions", "2").load()
    val q = q1(src).writeStream.foreach(new ContinuousCollector.W)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.Continuous("250 milliseconds")).start()
    try {
      val end = System.currentTimeMillis + 20000
      while (ContinuousCollector.rows.size() < 500 && System.currentTimeMillis < end)
        Thread.sleep(200)
    } finally q.stop()
    TempFiles.deleteTree(ckpt)
    val got = {
      import scala.jdk.CollectionConverters._
      ContinuousCollector.rows.asScala.toSet
    }
    assert(got.size >= 500, s"continuous mode delivered only ${got.size} rows")
    // every delivered row is exactly the transform of its input value —
    // content equivalence with ANY correct execution of the same plan
    got.foreach { case r @ (v, _, _) => assert(r == expected(v), s"row $r") }
    // and delivery is gapless per the consumed prefix of each partition's
    // sequence: values 0..min-seen-per-stride must all be present
    val byStride = got.groupBy(_._1 % 2).view.mapValues(_.map(_._1))
    byStride.foreach { case (stride, vs) =>
      val upTo = vs.max
      val missing = (stride to upTo by 2).filterNot(vs.contains)
      assert(missing.isEmpty,
        s"stride $stride lost values below its high-water mark: ${missing.take(5)}")
    }
  }

  test("PacedRateSource paces to the configured rate and stamps emission time") {
    // the built-in continuous rate source free-runs with a constant start
    // timestamp (BASELINE.md round-9 measurement) — the paced DSv2 source exists
    // because of that; this pins the two properties the latency probe needs
    ContinuousCollector.rows.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_paced_").toString
    val src = spark.readStream.format("graft.streaming.PacedRateSource")
      .option("rowsPerSecond", "500").option("numPartitions", "2").load()
    val t0 = System.currentTimeMillis
    val q = src.select(col("value"), col("value").as("auction"),
        // smuggle the emission timestamp through the collector's double slot
        col("timestamp").cast("double").as("price_eur"))
      .writeStream.foreach(new ContinuousCollector.W)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.Continuous("250 milliseconds")).start()
    try Thread.sleep(6000) finally q.stop()
    val elapsedSec = (System.currentTimeMillis - t0) / 1000.0
    TempFiles.deleteTree(ckpt)
    val got = {
      import scala.jdk.CollectionConverters._
      ContinuousCollector.rows.asScala.toSet
    }
    // pacing: delivered ≈ rate × elapsed, never the free-run explosion
    // (the builtin source delivered 3,500× the configured rate here)
    assert(got.size <= 500 * elapsedSec * 1.5 + 100,
      s"paced source over-delivered: ${got.size} rows in $elapsedSec s")
    assert(got.size >= 500 * 2, s"paced source under-delivered: ${got.size}")
    // emission stamps: every timestamp lies within the run's wall window
    val (loSec, hiSec) = (t0 / 1000.0 - 1, System.currentTimeMillis / 1000.0 + 1)
    got.foreach { case (_, _, tsSec) =>
      assert(tsSec >= loSec && tsSec <= hiSec,
        f"timestamp $tsSec%.1f outside wall window [$loSec%.1f, $hiSec%.1f]")
    }
    // and they advance: the spread covers most of the run, not one constant
    val spread = got.map(_._3).max - got.map(_._3).min
    assert(spread > 2.0, f"timestamps barely advance (spread $spread%.2f s) — " +
      "constant-stamp regression (the builtin source's failure mode)")
  }

  test("PacedRateSource plain micro-batch path: admission-paced, strided, gapless") {
    // the source's third face (no real-time trigger): latestOffset admits
    // rows on the wall-clock schedule, bounded readers emit the admitted
    // range — pins the PacedBoundedReader surface the other modes never use
    ContinuousCollector.rows.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_paced_mb_").toString
    val src = spark.readStream.format("graft.streaming.PacedRateSource")
      .option("rowsPerSecond", "500").option("numPartitions", "2").load()
    val t0 = System.currentTimeMillis
    val q = src.select(col("value"), (col("value") % 2).as("auction"),
        col("value").cast("double").as("price_eur"))
      .writeStream.foreach(new ContinuousCollector.W)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    try Thread.sleep(5000) finally q.stop()
    val elapsedSec = (System.currentTimeMillis - t0) / 1000.0
    TempFiles.deleteTree(ckpt)
    val got = {
      import scala.jdk.CollectionConverters._
      ContinuousCollector.rows.asScala.toSet
    }
    assert(got.size >= 500, s"micro-batch paced source delivered only ${got.size}")
    assert(got.size <= 500 * elapsedSec * 1.5 + 100,
      s"admission over-delivered: ${got.size} rows in $elapsedSec s")
    got.foreach { case (v, stride, d) =>
      assert(stride == v % 2 && d == v.toDouble, s"row ($v, $stride, $d)")
    }
    // gapless per stride below each stride's high-water mark
    got.groupBy(_._1 % 2).foreach { case (stride, rows) =>
      val vs = rows.map(_._1)
      val missing = (stride to vs.max by 2).filterNot(vs.contains)
      assert(missing.isEmpty, s"stride $stride lost ${missing.take(5)}")
    }
  }

  test("micro-batch execution of the same shape produces the same rows per value") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val out = q1(mem.toDF().select((col("value") * 86400).cast("timestamp").as("timestamp"),
      col("value")))
    val job = StreamSinks.memory("cont_eq_mb", "append").start(out)
    mem.addData(0L until 500L: _*)
    job.processAllAvailable()
    job.cancel()
    val got = spark.table("cont_eq_mb")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == (0L until 500L).map(expected).toSet,
      "micro-batch rows must equal the pure transform — same contract the " +
        "continuous run was held to, hence mode equivalence")
  }
}

package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Pins for Spark 4.1 real-time mode (`Trigger.RealTime`), the
  * event-at-a-time execution path for stateless shapes:
  *
  *   1. the paced source's rows under real-time execution are
  *      content-identical to the pure transform (mode equivalence — same
  *      contract ContinuousEquivalenceSpec holds `Trigger.Continuous` to);
  *   2. stream-static BROADCAST enrichment runs event-at-a-time under
  *      real-time mode (the capability continuous mode lacks — this is the
  *      reference's `mapUsingIMap`/hash-join-enrich latency shape);
  *   3. the operator allowlist REJECTS stateful aggregation — the measured
  *      boundary of the event-at-a-time regime (stateful shapes stay on the
  *      micro-batch path); a negative pin so an upstream allowlist change
  *      shows up as a test diff, not a silent claim drift.
  */
object RealTimeCollector {
  val rows = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Long)]()
  final class W extends org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
    override def open(partitionId: Long, epochId: Long): Boolean = true
    override def process(r: org.apache.spark.sql.Row): Unit =
      RealTimeCollector.rows.add((r.getLong(0), r.getLong(1), r.getLong(2)))
    override def close(errorOrNull: Throwable): Unit = ()
  }
}

class RealTimeModeSpec extends SparkSpec {

  private def pacedSource(rate: Int) =
    spark.readStream.format("graft.streaming.PacedRateSource")
      .option("rowsPerSecond", rate.toString)
      .option("numPartitions", "2").load()

  private def awaitRows(min: Int, timeoutMs: Long): Unit = {
    val end = System.currentTimeMillis + timeoutMs
    while (RealTimeCollector.rows.size() < min && System.currentTimeMillis < end)
      Thread.sleep(200)
  }

  test("real-time mode runs the stateless shape; rows equal the pure transform") {
    RealTimeCollector.rows.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rt_eq_").toString
    val out = pacedSource(1000).select(col("value"),
      (col("value") % 10000).as("auction"),
      (col("value") % 1000 * 100 + 100).as("price"))
    // real-time mode currently requires Update output mode (Append is
    // rejected) — content-wise identical for these stateless shapes
    val q = out.writeStream.outputMode("update")
      .foreach(new RealTimeCollector.W)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.RealTime("5 seconds")).start()
    try awaitRows(500, 20000) finally q.stop()
    TempFiles.deleteTree(ckpt)
    val got = {
      import scala.jdk.CollectionConverters._
      RealTimeCollector.rows.asScala.toSet
    }
    assert(got.size >= 500, s"real-time mode delivered only ${got.size} rows")
    got.foreach { case r @ (v, _, _) =>
      assert(r == ((v, v % 10000, v % 1000 * 100 + 100)), s"row $r")
    }
    // gapless per the consumed prefix of each partition's stride
    val byStride = got.groupBy(_._1 % 2).view.mapValues(_.map(_._1))
    byStride.foreach { case (stride, vs) =>
      val missing = (stride to vs.max by 2).filterNot(vs.contains)
      assert(missing.isEmpty,
        s"stride $stride lost values below its high-water mark: ${missing.take(5)}")
    }
  }

  test("real-time mode runs stream-static broadcast enrichment (continuous mode cannot)") {
    RealTimeCollector.rows.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rt_join_").toString
    val dim = spark.range(10000).select(col("id").as("auction"),
      (col("id") % 50).as("category"))
    val out = pacedSource(1000)
      .select(col("value"), (col("value") % 10000).as("auction"))
      .join(broadcast(dim), "auction")
      .select(col("value"), col("auction"), col("category"))
    // real-time mode currently requires Update output mode (Append is
    // rejected) — content-wise identical for these stateless shapes
    val q = out.writeStream.outputMode("update")
      .foreach(new RealTimeCollector.W)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.RealTime("5 seconds")).start()
    try awaitRows(500, 20000) finally q.stop()
    TempFiles.deleteTree(ckpt)
    val got = {
      import scala.jdk.CollectionConverters._
      RealTimeCollector.rows.asScala.toSet
    }
    assert(got.size >= 500, s"enrichment delivered only ${got.size} rows")
    // every streamed row carries the dim's value for its key — the join ran
    got.foreach { case r @ (v, _, _) =>
      assert(r == ((v, v % 10000, v % 10000 % 50)), s"row $r")
    }
  }

  test("real-time mode runs StreamStage.mapUsingService (MapPartitions on the allowlist)") {
    // the service-transform family (Jet's mapUsingService, GeneralStage.java
    // :305) plans as DeserializeToObject → MapPartitions → SerializeFromObject
    // — all on the real-time allowlist, so OUR operator surface (not just raw
    // column expressions) runs event-at-a-time
    RealTimeCollector.rows.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rt_svc_").toString
    val dict: Map[Long, Long] = (0L until 10000L).map(k => k -> k % 50).toMap
    val factory = ServiceFactory(() => dict)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("auction",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("category",
        org.apache.spark.sql.types.LongType)))
    val staged = new StreamStage(
      pacedSource(1000).select(col("value"), (col("value") % 10000).as("auction")),
      "value")
      .mapUsingService(factory, outSchema) { (svc, r) =>
        org.apache.spark.sql.Row(r.getLong(0), r.getLong(1),
          svc(r.getLong(1)): java.lang.Long)
      }
    val q = staged.df.writeStream.outputMode("update")
      .foreach(new RealTimeCollector.W)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.RealTime("5 seconds")).start()
    try awaitRows(500, 20000) finally q.stop()
    TempFiles.deleteTree(ckpt)
    val got = {
      import scala.jdk.CollectionConverters._
      RealTimeCollector.rows.asScala.toSet
    }
    assert(got.size >= 500, s"service transform delivered only ${got.size} rows")
    got.foreach { case r @ (v, _, _) =>
      assert(r == ((v, v % 10000, v % 10000 % 50)), s"row $r")
    }
  }

  test("real-time mode rejects stateful aggregation (the allowlist boundary)") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rt_neg_").toString
    val agg = pacedSource(1000)
      .groupBy((col("value") % 10).as("k")).count()
    val err = intercept[Exception] {
      val q = agg.writeStream.outputMode("update")
        .foreach(new RealTimeCollector.W)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.RealTime("5 seconds")).start()
      // surface either the synchronous analysis error or the async one
      try q.awaitTermination(15000) finally q.stop()
    }
    TempFiles.deleteTree(ckpt)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(err).mkString(" ").toLowerCase
    assert(all.contains("allowlist") || all.contains("real-time") ||
      all.contains("realtime") || all.contains("not supported"),
      s"expected the real-time allowlist rejection, got: $all")
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.Bridge
import scala.jdk.CollectionConverters._

/** `Tables.fanOutScan` decides from the physical plan's scan split count and
  * must never run a job to decide: `df.rdd.getNumPartitions` on an AQE plan
  * holding an exchange executes the shuffle stages. On scan-rooted frames —
  * every shape the queries pass it — the plan read must equal the RDD's
  * partition count, so the fan-out decision is unchanged.
  */
class FanOutScanSpec extends SparkSpec {

  import spark.implicits._

  private val tag = "graft.spec.fanout"

  /** Spark jobs started by `body`, counted by a listener. The listener bus
    * delivers in order, so once a later marker job's start has arrived,
    * every start `body` caused has too.
    */
  private def jobsStartedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      def tagged(t: String)(f: => Any): Unit = {
        sc.setLocalProperty(tag, t)
        try f finally sc.setLocalProperty(tag, null)
      }
      tagged("probe")(body)
      tagged("marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("marker"), "listener never saw the marker job")
      seen.asScala.count(_ == "probe")
    } finally sc.removeSparkListener(listener)
  }

  test("fanOutScan on a frame holding a groupBy exchange starts no Spark job") {
    val agg = Tables(spark, sf, "documents").groupBy($"source").agg(count(lit(1)).as("n"))
    assert(jobsStartedBy(Tables.fanOutScan(agg)) === 0)
    // the counter sees the jobs the RDD probe runs on the same fresh frame
    val fresh = Tables(spark, sf, "documents").groupBy($"source").agg(count(lit(1)).as("n"))
    assert(jobsStartedBy(fresh.rdd.getNumPartitions) > 0)
  }

  test("scan-rooted frames: plan split count == df.rdd partitions, same fan-out decision") {
    val target = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout_").toString
    try {
      Tables(spark, sf, "documents").repartition(target * 2).write.mode("overwrite").parquet(dir)
      val docs = Tables(spark, sf, "documents")
      val shapes: Seq[(String, DataFrame)] = Seq(
        "single row group" -> docs,
        "filtered" -> docs.filter(substring($"source", 4, 10).cast("int") < 10),
        "projected" -> docs.select($"doc_id", $"text"),
        "many files" -> spark.read.parquet(dir))
      shapes.foreach { case (name, df) =>
        val rddParts = df.rdd.getNumPartitions
        assert(Bridge.scanPartitions(df) === Some(rddParts), name)
        val repartitioned = !(Tables.fanOutScan(df) eq df)
        assert(repartitioned === (rddParts * 2 <= target), name)
      }
      assert(Bridge.scanPartitions(spark.read.parquet(dir)).exists(_ * 2 > target),
        "the many-file layout must take the no-op branch")
    } finally graft.pipeline.TempFiles.deleteTree(dir)
  }
}

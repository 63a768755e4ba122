package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.Bridge

/** `Tables.fanOutScan` decides from the physical plan's scan split count and
  * must never run a job to decide: `df.rdd.getNumPartitions` on an AQE plan
  * holding an exchange executes the shuffle stages. On scan-rooted frames —
  * every shape the queries pass it — the plan read must equal the RDD's
  * partition count, so the fan-out decision is unchanged.
  */
class FanOutScanSpec extends SparkSpec {

  import spark.implicits._

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

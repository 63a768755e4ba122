package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** LIVE-ENDPOINT integration spec (VERDICT r11 item 3): the production
  * ElasticShaped REST client, exercised offline against a stub by
  * ElasticShapedSpec, re-runs its data assertions against a REAL endpoint
  * when `ES_URL` names a reachable Elasticsearch-compatible REST endpoint
  * (`scripts/livewire.sh` starts one in a container and sets it).
  *
  * The Kafka- and Kinesis-shaped connectors are Spark DataSources over
  * in-process brokers (KafkaShapedSourceSpec, KinesisShapedSourceSpec); they
  * carry no wire client of their own, so there is nothing of theirs to run
  * against a live broker here.
  *
  * When `ES_URL` is unset the test CANCELS with a loud
  * "LIVE WIRE UNTESTED HERE" marker — a canceled test is reported as
  * canceled, never as a pass, so the suite cannot silently claim live
  * coverage it did not run. Without network egress it cancels by design;
  * the stub-backed spec remains the offline gate.
  */
class LiveWireSpec extends SparkSpec {

  private def env(name: String): Option[String] =
    sys.env.get(name).map(_.trim).filter(_.nonEmpty)

  private def needs(name: String): String = {
    assume(env(name).isDefined,
      s"LIVE WIRE UNTESTED HERE: set $name to run this against a real endpoint")
    env(name).get
  }

  test("live Elasticsearch: bulk sink indexes every row; sliced scroll reads them back") {
    val ep = needs("ES_URL")
    import spark.implicits._
    val index = s"graft_live_${System.nanoTime()}"
    val df = (1 to 257).map(i => (s"d$i", s"""{"v":$i}""")).toDF("id", "doc")
    ElasticShaped.SinkBuilder(ep, index, bulkSize = 50).write(df)

    // unsliced read: complete and exact (same assertion as the stub spec)
    val back = ElasticShaped.SourceBuilder(ep, index, pageSize = 40).build(spark)
    val vals = back.select(get_json_object($"doc", "$.v").cast("int").as("v"))
      .as[Int].collect().sorted
    assert(vals.toSeq == (1 to 257))

    // sliced read: disjoint + complete across one partition per slice
    val sliced = ElasticShaped.SourceBuilder(ep, index)
      .enableSlicing().withSlices(5).withPageSize(37).build(spark)
    assert(sliced.rdd.getNumPartitions == 5)
    val ids = sliced.select("id").collect().map(_.getString(0))
    assert(ids.length == 257 && ids.toSet.size == 257,
      "slices must cover every doc exactly once")
  }
}

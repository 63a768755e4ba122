package graft.sql

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import graft.SparkSpec
import graft.queries.EventQueries
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{ExpandExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** [[FrameFirstWindows]]: a sliding `window()` aggregate that the rule
  * rewrites to frame partials gives exactly the rows of a composed
  * `explode(sequence(…))` reference, which the rule cannot match; the rule
  * fires on the batch and streaming sliding plans and on nothing else; and a
  * rewritten stream keeps the native state schema across a restart.
  */
class FrameFirstWindowsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private def skipWrappers(p: SparkPlan): SparkPlan = p match {
    case i: InputAdapter => skipWrappers(i.child)
    case w: WholeStageCodegenExec => skipWrappers(w.child)
    case other => other
  }

  /** The Expand nodes the rule put over frame partials. */
  private def frameExpands(plan: SparkPlan): Seq[ExpandExec] = collect(plan) {
    case e: ExpandExec if skipWrappers(e.child).isInstanceOf[HashAggregateExec] => e
  }

  private def fired(df: DataFrame): Boolean = frameExpands(df.queryExecution.executedPlan).nonEmpty

  private def lastPlan(q: StreamingQuery): SparkPlan =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  private def aggs(v: Column): Seq[Column] = Seq(
    count(lit(1)).as("n"), sum(v).as("s"), min(v).as("lo"), max(v).as("hi"),
    avg(v).as("mean"), expr("count(*) FILTER (WHERE v > 0)").as("npos"))

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("window() aggregates equal an explode(sequence) reference") {
    // events cluster within two minutes of a base up to ~127 years either
    // side of the epoch, so frames hold several events; ts and key are
    // sometimes null
    val events = for {
      base <- Gen.chooseNum(-4000000000L, 4000000000L)
      n <- Gen.chooseNum(1, 60)
      rows <- Gen.listOfN(n, for {
        off <- Gen.chooseNum(0L, 120L * 1000000L)
        ts <- Gen.frequency(9 -> Gen.const(Option(base * 1000000L + off)), 1 -> Gen.const(None))
        k <- Gen.frequency(4 -> Gen.chooseNum(0, 3).map(Option(_)), 1 -> Gen.const(None))
        v <- Gen.chooseNum(-50L, 50L)
      } yield (ts, k, v))
    } yield rows
    // size = m·slide; the start offset may be negative
    val shapes = for {
      slide <- Gen.chooseNum(1, 20)
      m <- Gen.chooseNum(2, 5)
      start <- Gen.chooseNum(1 - slide, slide - 1)
    } yield (slide, m, start)
    def agrees(rows: List[(Option[Long], Option[Int], Long)], slide: Int, m: Int,
               start: Int): Boolean = {
      // an RDD, not a local relation, which the optimizer could fold away
      val df = spark.createDataset(spark.sparkContext.parallelize(rows, 2))
        .toDF("t", "k", "v").select(timestamp_micros($"t").as("ts"), $"k", $"v")
      val native = df
        .groupBy(window($"ts", s"${m * slide} seconds", s"$slide seconds", s"$start seconds")
          .as("w"), $"k")
        .agg(aggs($"v").head, aggs($"v").tail: _*)
        .select(unix_micros($"w.start").as("ws"), unix_micros($"w.end").as("we"),
          $"k", $"n", $"s", $"lo", $"hi", $"mean", $"npos")
      val (slideUs, startUs) = (slide * 1000000L, start * 1000000L)
      val reference = df.where($"ts".isNotNull)
        .withColumn("t", unix_micros($"ts"))
        .withColumn("i", explode(sequence(lit(0), lit(m - 1))))
        .withColumn("ws", $"t" - pmod($"t" - startUs, lit(slideUs)) - $"i" * slideUs)
        .groupBy($"ws", $"k")
        .agg(aggs($"v").head, aggs($"v").tail: _*)
        .select($"ws", ($"ws" + m * slideUs).as("we"),
          $"k", $"n", $"s", $"lo", $"hi", $"mean", $"npos")
      // checked before execution: adaptive execution replaces a plan whose
      // input turned out empty (every ts null) with an empty relation
      assert(fired(native), native.queryExecution.executedPlan)
      assert(!fired(reference))
      rowsOf(native) == rowsOf(reference)
    }
    // every ts null: the aggregate input is empty
    assert(agrees(List((None, Some(2), 0L)), 20, 5, -4))
    val prop = Prop.forAll(events, shapes) { case (rows, (slide, m, start)) =>
      agrees(rows, slide, m, start)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, s"frame-first property: $res")
  }

  /** A 10 min / 5 min window over the events fixture through the reference:
    * each event in its two windows.
    */
  private def explodedEvents: DataFrame = graft.Tables(spark, sf, "events")
    .withColumn("t", unix_micros($"ts"))
    .withColumn("i", explode(sequence(lit(0), lit(1))))
    .withColumn("ws", timestamp_micros($"t" - pmod($"t", lit(300000000L)) - $"i" * 300000000L))

  test("events fixture: count+sum per event_type equals the reference") {
    val native = graft.Tables(spark, sf, "events")
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("s"))
      .select($"w.start".as("ws"), $"event_type", $"n", round($"s", 6).as("s"))
    val reference = explodedEvents.groupBy($"ws", $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 6).as("s"))
    assert(rowsOf(native) === rowsOf(reference))
    assert(fired(native))
  }

  test("events fixture: non-invertible min/max equal the reference") {
    // pane combine needs only associativity, so min/max work too (deductFn
    // cannot express them)
    val native = graft.Tables(spark, sf, "events")
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"))
      .agg(min($"value").as("lo"), max($"value").as("hi"))
      .select($"w.start".as("ws"), $"lo", $"hi")
    val reference = explodedEvents.groupBy($"ws").agg(min($"value").as("lo"), max($"value").as("hi"))
    assert(rowsOf(native) === rowsOf(reference))
    assert(fired(native))
  }

  test("fires on batch q21, before and after execution") {
    val q21 = EventQueries.q21_sliding_window(spark, sf)
    assert(fired(q21), q21.queryExecution.executedPlan)
    q21.collect()
    assert(fired(q21), q21.queryExecution.executedPlan)
  }

  test("skips misaligned, DISTINCT and window-reading aggregates") {
    val events = graft.Tables(spark, sf, "events")
    val w = window($"ts", "10 minutes", "5 minutes")
    val untouched = Seq(
      "10 min / 3 min" -> events.groupBy(window($"ts", "10 minutes", "3 minutes"), $"event_type")
        .agg(count(lit(1))),
      "DISTINCT" -> events.groupBy(w, $"event_type").agg(count_distinct($"user_id")),
      "reads window.start" -> events.groupBy(w, $"event_type")
        .agg(count(lit(1)), max(w.getField("start"))))
    untouched.foreach { case (what, df) =>
      df.collect()
      assert(!fired(df), s"$what:\n${df.queryExecution.executedPlan}")
      assert(collect(df.queryExecution.executedPlan) { case e: ExpandExec => e }.nonEmpty, what)
    }
  }

  /** NEXMark Q5's shape: a 5 s window sliding by 1 s, counted per auction. */
  private def q5(mem: MemoryStream[(Timestamp, Long)]): DataFrame =
    mem.toDF().toDF("ts", "auction")
      .withWatermark("ts", "2 seconds")
      .groupBy(window($"ts", "5 seconds", "1 second"), $"auction")
      .agg(count(lit(1)).as("n"), max($"ts").as("newest"))

  private def at(ms: Long) = new Timestamp(1700000000000L + ms)

  test("Q5-shaped stream: fires, Expand emits 5 rows per frame partial") {
    implicit val sqlCtx = spark.sqlContext
    withConf("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val mem = MemoryStream[(Timestamp, Long)]
      val events = (0 until 2000).map(i => (at(i), (i % 10).toLong)) // 2 s, 10 auctions
      mem.addData(events)
      val q = q5(mem).writeStream.format("memory").queryName("frame_first_q5")
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        val plan = lastPlan(q)
        val Seq(expand) = frameExpands(plan)
        val partials = skipWrappers(expand.child).metrics("numOutputRows").value
        val expanded = expand.metrics("numOutputRows").value
        assert(partials > 0 && partials <= 30, s"frame partials: $partials")
        assert(expanded === 5 * partials)
        assert(expanded < events.size, "Expand should see frame partials, not events")
      } finally q.stop()
      val counts = spark.table("frame_first_q5").groupBy().agg(sum($"n")).head().getLong(0)
      assert(counts === 5L * 2000L, "every event counts in its five windows")
    }
  }

  test("Q5-shaped stream restarts from its checkpoint with equal counts") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_frame_first_").resolve("ckpt").toString
    val latest = mutable.Map.empty[(Long, Long), Long]
    val sink: (DataFrame, Long) => Unit = (batch, _) =>
      batch.select(unix_micros($"window.start"), $"auction", $"n").collect()
        .foreach(r => latest((r.getLong(0), r.getLong(1))) = r.getLong(2))
    val mem = MemoryStream[(Timestamp, Long)]
    def run(): StreamingQuery = q5(mem).writeStream.outputMode("update")
      .option("checkpointLocation", ckpt).foreachBatch(sink).start()
    val first = (0 until 1500).map(i => (at(i * 3L), (i % 7).toLong))
    val second = (1500 until 3000).map(i => (at(i * 3L), (i % 7).toLong))
    mem.addData(first)
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    assert(frameExpands(lastPlan(q1)).nonEmpty)
    mem.addData(second)
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    assert(frameExpands(lastPlan(q2)).nonEmpty)

    val reference = (first ++ second).toDF("ts", "auction")
      .withColumn("t", unix_micros($"ts"))
      .withColumn("i", explode(sequence(lit(0), lit(4))))
      .groupBy(($"t" - pmod($"t", lit(1000000L)) - $"i" * 1000000L).as("ws"), $"auction")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(latest.toMap === reference)
    // the state holds the native aggregate's key and buffer, not frames
    val state = spark.read.format("statestore").load(ckpt)
    assert(state.schema("key").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("window", "auction"))
  }
}

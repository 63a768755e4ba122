package graft

/** Micro-batch latency profile — the honest counterpart to `graft.MaxRate`
  * for the reference's OTHER headline number: Jet publishes p99.99 < 10 ms at
  * 20 M items/s single-node (site/website/blog/2020-08-05-gc-tuning-for-jet.md:19-27)
  * from an event-at-a-time engine. A micro-batch engine's floor is the batch
  * cadence: end-to-end latency ≈ trigger interval + batch execution + commit,
  * so the comparable figures here are the per-batch execution-time
  * percentiles at a sustained rate — what a user actually observes between an
  * event arriving and its window update committing.
  *
  * Method: run the MaxRate stateful workload (rate source → watermark → keyed
  * tumbling count+sum, noop sink, 100 ms trigger) at a configurable rate
  * (default 1M rows/s — 1/16th of the measured stateful ceiling, i.e. a
  * loaded-but-not-saturated node), collect `triggerExecution` durations for
  * ~30 s, report p50/p95/p99 and the add-batch overhead split. Recorded in
  * BASELINE.md as architecture calibration, not a gate: micro-batch trades
  * per-event latency for throughput-amortized state commits; sub-100 ms
  * per-event latency needs the trigger shortened (cost: more commits/s), and
  * true single-digit-ms latency is out of scope for micro-batch by design
  * (Spark's continuous mode excludes aggregations).
  */
object Latency {

  def main(args: Array[String]): Unit = {
    val rate = sys.env.getOrElse("SPARK_GRAFT_LATENCY_RATE", "1000000").toLong
    val spark = GraftSession.local("graft-latency", shufflePartitions = 8)

    // the SAME pipelines MaxRate's ceilings were measured on (RateWorkloads) —
    // the latency profile and the rate ladder calibrate one workload.
    // SPARK_GRAFT_LATENCY_WORKLOAD=nexmark_q5 profiles the reference's
    // benchmark-1 shape instead (NEXMark Q5 at 1 M events/s is exactly the
    // configuration its latency blog measures; blog:74-103).
    val workload = sys.env.getOrElse("SPARK_GRAFT_LATENCY_WORKLOAD", "keyed_tumbling")
    val df = workload match {
      case "nexmark_q5" => RateWorkloads.nexmarkQ5(spark, rate)
      // the 2×-throughput pane path — append mode (chaining requires it), so
      // its figures INCLUDE the pane-finalization wait the trade costs
      case "nexmark_q5_chained" => RateWorkloads.nexmarkQ5Chained(spark, rate)
      case "keyed_tumbling" => RateWorkloads.statefulAgg(RateWorkloads.shaped(spark, rate))
      // fail loudly: a silent fallback would record the default pipeline's
      // percentiles under the requested workload's name
      case other => sys.error(s"unknown SPARK_GRAFT_LATENCY_WORKLOAD '$other' " +
        "(known: keyed_tumbling, nexmark_q5, nexmark_q5_chained)")
    }
    val q = df
      .writeStream.format("noop")
      .outputMode(if (workload == "nexmark_q5_chained") "append" else "update")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()

    Thread.sleep(5000) // settle: first batches pay planning/codegen init
    val t0 = System.nanoTime()
    val durations = scala.collection.mutable.ArrayBuffer.empty[Long]
    var lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    while ((System.nanoTime() - t0) / 1e9 < 30) {
      Thread.sleep(200)
      for (p <- q.recentProgress if p.batchId > lastBatch && p.numInputRows > 0) {
        lastBatch = math.max(lastBatch, p.batchId)
        Option(p.durationMs.get("triggerExecution")).foreach(d => durations += d.toLong)
      }
    }
    q.stop()

    val d = durations.sorted
    def pct(p: Double): Long = if (d.isEmpty) -1 else d((p * (d.size - 1)).toInt)
    println(s"""{"metric":"microbatch_latency_ms","workload":"$workload",""" +
      s""""rate_rows_per_sec":$rate,""" +
      s""""batches":${d.size},"p50":${pct(0.50)},"p95":${pct(0.95)},""" +
      s""""p99":${pct(0.99)},"max":${if (d.isEmpty) -1 else d.last}}""")
    spark.stop()
  }
}

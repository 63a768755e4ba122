package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.{AggOp, JobHandle, Pipeline, Sources, StreamSinks, WindowDefinition}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** `stream_q5_open`: NEXMark Q5 hot auctions (10,000 auction keys, a 5 s
  * window sliding by 1 s, so every event updates five window states), built
  * through graft's Pipeline API and fed OPEN LOOP by Spark's rate source,
  * whose rows carry their due time as `timestamp`. Each rate runs as its
  * own job: fixed rates `lo` and `hi`, then (traced run only) a doubling
  * ladder from 4·hi that stops at the first rung the engine cannot keep up
  * with.
  *
  * Event-to-result latency of an emitted window update is its emission time
  * minus the due time of the newest event its micro-batch took, so it counts
  * queue wait and excludes the window length.
  */
object StreamQ5 {
  val Keys = 10000

  /** The fixed rates in rows per second, set once at seed to 1/8 and 1/4 of
    * the rate (about 1 M rows/s at local[4]) from which a batch outlasts the
    * source's one-second release; README.md gives the measurements.
    */
  val Lo = 125000L
  val Hi = 250000L

  /** A rung keeps up when its backlog does not grow and its p99 latency is
    * within this limit.
    */
  val P99LimitMs = 2000.0

  /** At most this many doubling rungs above 4·Hi. */
  val LadderRungs = 3

  /** Rows of one rung's sink, kept on the driver: one latency per measured
    * non-empty micro-batch (its window updates are emitted together, so they
    * share it) and the latest count of every (window, auction).
    *
    * A batch's latency is its emission time minus the due time of the
    * newest event it took. (The newest event inside the updated
    * window itself would be up to a second older for the one window of the
    * six a batch touches that closes mid-batch: windows align to epoch
    * seconds while the source releases events on its own creation-time
    * phase, so that offset would vary at random from run to run.)
    */
  final class Collector {
    val latency = mutable.ArrayBuffer.empty[Double]
    val counts = mutable.LongMap.empty[Long]
    @volatile var measureFrom = Long.MaxValue
    @volatile var firstData = Long.MaxValue
    @volatile var dataBatches = 0
    def sink(batch: DataFrame, batchId: Long): Unit = {
      val rows = batch.selectExpr("unix_millis(window_start)", "auction", "n",
        "unix_millis(newest)").collect()
      val emit = System.currentTimeMillis()
      if (rows.nonEmpty) {
        if (firstData == Long.MaxValue) firstData = emit
        dataBatches += 1
        val newest = rows.iterator.map(_.getLong(3)).max
        if (emit >= measureFrom) latency += (emit - newest).toDouble
      }
      rows.foreach(r => counts.update((r.getLong(0) / 1000) * Keys + r.getLong(1), r.getLong(2)))
    }
  }

  final case class Rung(label: String, rate: Long, handle: JobHandle, collector: Collector,
                        startMs: Long, ckpt: java.nio.file.Path)

  /** The Q5 job through graft's Pipeline API; returns at once. */
  def start(ctx: Ctx, spark: SparkSession, label: String, rate: Long, parts: Int,
            keyOffset: Long): Rung = {
    val ckpt = ctx.out.resolve("ckpt").resolve(s"$label-${System.nanoTime()}")
    val source = Sources.streamFromProcessor(s => s.readStream.format("rate")
      .option("rowsPerSecond", rate.toString).option("numPartitions", parts.toString).load())
    val q5 = Pipeline.create(spark).readFrom(source)
      .withNativeTimestamps("2 seconds")
      .groupingKey(((col("value") + keyOffset) % Keys).as("auction"))
      .window(WindowDefinition.sliding("5 seconds", "1 second"))
      .aggregate(AggOp(Seq(count(lit(1)).as("n"), max(col("timestamp")).as("newest"))))
    val c = new Collector
    val t0 = System.currentTimeMillis()
    val h = StreamSinks.foreachBatch(c.sink, "update", Trigger.ProcessingTime(0),
      Some(ckpt.toString)).start(q5)
    Rung(label, rate, h, c, t0, ckpt)
  }

  /** Block until the job has emitted `batches` non-empty batches: the
    * first carries planning and code generation, the second the backlog
    * that built up meanwhile.
    */
  def settle(r: Rung, batches: Int = 2, timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (r.collector.dataBatches < batches && r.handle.isRunning &&
      System.currentTimeMillis() < deadline) Thread.sleep(5)
    r.handle.query.exception.foreach(e => throw e)
    require(r.collector.dataBatches >= batches, s"rung ${r.label}: no data within $timeoutMs ms")
  }

  /** The rate source's creation time, which it persists in its checkpoint
    * (`sources/0/0`): every row's due time is creation + round(value·1000/rate).
    */
  def creationMs(r: Rung): Long = {
    val f = r.ckpt.resolve("sources").resolve("0").resolve("0")
    Files.readAllLines(f).asScala.map(_.trim).filter(_.nonEmpty).last.toLong
  }

  def offsetOf(p: StreamingQueryProgress): Long =
    p.sources.headOption.map(_.endOffset).flatMap(s => Option(s).flatMap(_.trim.toLongOption))
      .getOrElse(0L)

  def startOffsetOf(p: StreamingQueryProgress): Long =
    p.sources.headOption.map(_.startOffset).flatMap(s => Option(s).flatMap(_.trim.toLongOption))
      .getOrElse(0L)

  /** Nearest-rank percentile `q` (0 < q <= 1) of the samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply((math.ceil(q * xs.size).toInt - 1).max(0))

  /** Run one rung for `secs` measured seconds after it settles; stop it;
    * check every closed window; summarise.
    */
  def rung(ctx: Ctx, spark: SparkSession, label: String, rate: Long, secs: Double,
           keyOffset: Long, parts: Int): Map[String, Any] = {
    val r = start(ctx, spark, label, rate, parts, keyOffset)
    // past the catch-up: the backlog built up during planning drains over
    // the first batches, which would otherwise set the tail
    settle(r, batches = 4)
    val settled = System.currentTimeMillis()
    r.collector.measureFrom = settled
    Thread.sleep((secs * 1000).toLong)
    val measuredEnd = System.currentTimeMillis()
    r.handle.query.stop()
    r.handle.query.exception.foreach(e => throw e)
    val progress = r.handle.query.recentProgress.toSeq
    val c = creationMs(r)
    // batches whose trigger started inside the measured window
    def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
    def trigMs(p: StreamingQueryProgress) =
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val measured = progress.filter(p => startMs(p) >= settled && startMs(p) < measuredEnd &&
      p.numInputRows > 0)
    // rows due but not yet taken, at each measured batch's end
    val backlog = measured.map { p =>
      val end = startMs(p) + trigMs(p)
      ((end - c) * rate / 1000 - offsetOf(p) * rate).toDouble
    }
    val lagMs = measured.map(p => (startMs(p) - (c + offsetOf(p) * 1000)).toDouble)
    val busyS = measured.map(trigMs).sum / 1e3
    val rows = measured.map(_.numInputRows).sum
    // throughput over every completed batch after the first (planning) one:
    // an overloaded rung may complete none inside the measured window
    val taken = progress.filter(_.numInputRows > 0).drop(1)
    val wallS = if (taken.isEmpty) 0.0
      else (startMs(taken.last) + trigMs(taken.last) - startMs(taken.head)) / 1e3
    val processedRate = if (wallS > 0) taken.map(_.numInputRows).sum / wallS else 0.0
    val growing = backlog.size >= 2 && backlog.last > backlog.head + rate
    val p99 = pct(r.collector.latency.toSeq, 0.99)
    val keptUp = measured.size >= 2 && !growing && p99 <= P99LimitMs
    val dropped = progress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    // closed windows: every event due in them has been taken by a completed batch
    val batches = progress.map(p => (startOffsetOf(p), offsetOf(p)))
    val mismatches = check(r.collector, c, rate, batches, keyOffset)
    Map("label" -> label, "rate" -> rate, "measure_s" -> secs, "rows" -> rows,
      "busy_s" -> busyS, "wall_s" -> wallS, "processed_rps" -> processedRate,
      "batches" -> measured.size, "backlog_rows" -> backlog, "lag_ms" -> lagMs,
      "growing" -> growing, "p99_ms" -> p99, "kept_up" -> keptUp,
      "rows_dropped_late" -> dropped, "closed_windows_checked" -> mismatches._1,
      "window_mismatches" -> mismatches._2, "start_ms" -> (r.collector.firstData - r.startMs),
      "latency_ms" -> r.collector.latency.toSeq)
  }

  /** Due time of value `v`, stamped exactly as the rate source stamps it:
    * a batch covering seconds [s0, s1) spreads its values evenly over that
    * span from creation + s0 seconds, rounding each to the millisecond.
    */
  final class DueTimes(c: Long, rate: Long, batches: Seq[(Long, Long)]) {
    private val spans = batches.filter { case (a, b) => b > a }.sortBy(_._1).toArray
    def ts(v: Long): Long = {
      val (s0, s1) = spans.find { case (a, b) => v >= a * rate && v < b * rate }
        .getOrElse(throw new IllegalStateException(s"value $v outside every batch"))
      val rel = (1000L * (s1 - s0)).toDouble / ((s1 - s0) * rate)
      c + 1000L * s0 + math.round((v - s0 * rate) * rel)
    }
    /** The first value in [0, n) due at or after `t` (n if none). */
    def firstAtOrAfter(t: Long, n: Long): Long = {
      var (lo, hi) = (0L, n)
      while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) >= t) hi = m else lo = m + 1 }
      lo
    }
  }

  /** Compare the sink's final count of every closed window (all events due
    * in it taken by a completed batch) with the number of events due in it,
    * computed from the source's stamping rule. Returns (checked, mismatches).
    */
  def check(got: Collector, c: Long, rate: Long, batches: Seq[(Long, Long)],
            keyOffset: Long): (Long, Long) = {
    val last = batches.map(_._2).foldLeft(0L)(math.max)
    val n = last * rate
    val due = new DueTimes(c, rate, batches)
    val closedBefore = c + last * 1000
    val first = Math.floorDiv(c, 1000L) - 4
    val lastStart = Math.floorDiv(closedBefore, 1000L) - 5
    def upTo(x: Long, r: Long) = x / Keys + (if (x % Keys > r) 1 else 0)
    var bad = 0L
    var checked = 0L
    for (ws <- first to lastStart) {
      val a = due.firstAtOrAfter(ws * 1000, n)
      val b = due.firstAtOrAfter((ws + 5) * 1000, n)
      for (auction <- 0 until Keys) {
        val r = Math.floorMod(auction - keyOffset, Keys.toLong)
        val want = upTo(b, r) - upTo(a, r)
        if (got.counts.getOrElse(ws * Keys + auction, 0L) != want) bad += 1
        checked += 1
      }
    }
    // nothing may be counted in a closed window outside the checked range
    got.counts.foreach { case (k, cnt) =>
      val ws = Math.floorDiv(k, Keys.toLong)
      if ((ws < first || ws > lastStart) && (ws + 5) * 1000 <= closedBefore && cnt != 0) bad += 1
    }
    (checked, bad)
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    val keyOffset = new scala.util.Random(ctx.seed).nextInt(Keys).toLong
    r.values("key_offset") = keyOffset
    r.values("setup_s") = Main.setUp(ctx, 3)(_ => ())
    val spark = ctx.spark
    // one Q5 job at hi, stopped after ten non-empty batches, warms the
    // streaming path: after a two-batch warm-up, per-batch time still fell
    // by about a fifth over the measured batches, and how fast it fell set
    // the run-to-run spread. It is not in setup_s: the rate source's
    // one-second release makes its length vary by up to a second run to run
    val w0 = System.nanoTime()
    val warm = start(ctx, spark, "warmup", Hi, ctx.cpus, keyOffset)
    settle(warm, batches = 10)
    warm.handle.query.stop()
    r.values("warmup_job_s") = (System.nanoTime() - w0) / 1e9
    ctx.trace.foreach(_.install(spark))
    val rungs = mutable.ArrayBuffer.empty[Map[String, Any]]
    def go(root: Long, label: String, rate: Long, secs: Double): Map[String, Any] = {
      r.attempted += 1
      val res = ctx.op(root, label)(rung(ctx, spark, label, rate, secs, keyOffset, ctx.cpus))
      rungs += res
      if (res("window_mismatches").asInstanceOf[Long] > 0)
        r.fail(s"$label: ${res("window_mismatches")} closed windows with a wrong count")
      res
    }
    // the untraced run measures hi alone for the whole run time; the traced
    // run adds lo, then (untraced, below) the rate ladder and the local[1]
    // baseline
    val root = ctx.clock.nextId()
    val wl0 = ctx.now
    if (ctx.traced) go(root, "lo", Lo, ctx.seconds / 2)
    go(root, "hi", Hi, ctx.seconds)
    ctx.clock.record(0, "workload", "stream_q5_open", wl0, ctx.now, id = root)
    // in-order events behind a 2 s watermark delay: none may be dropped as
    // late at the fixed rates
    rungs.foreach { g =>
      val dropped = g("rows_dropped_late").asInstanceOf[Long]
      if (dropped != 0) r.fail(s"${g("label")}: $dropped rows dropped as late")
    }
    ctx.trace.foreach { t =>
      // the layers' figures cover the fixed rates only: the ladder runs a
      // number of rungs that depends on how fast the engine is
      t.uninstall(spark)
      r.layers ++= t.summary(Nil)
      val ladder = ctx.clock.nextId()
      val l0 = ctx.now
      var rate = Hi * 4
      var n = 0
      var more = true
      while (more && n < LadderRungs) {
        val res = go(ladder, s"ladder$n", rate, ctx.seconds / 4)
        more = res("kept_up").asInstanceOf[Boolean]
        rate *= 2
        n += 1
      }
      ctx.clock.record(0, "workload", "stream_q5_ladder", l0, ctx.now, id = ladder)
      // the single-core baseline the stream sheet asks for, trace output only
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      ctx.spark = Main.session(ctx, 1)
      r.values("baseline_local1") = rung(ctx, ctx.spark, "lo_local1", Lo, ctx.seconds / 2,
        keyOffset, 1)
    }
    r.values("rungs") = rungs.toSeq
  }
}

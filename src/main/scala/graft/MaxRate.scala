package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Max-sustainable-rate probe — the engine-side analog of the reference's
  * single-node "events per second it can keep up with" methodology
  * (reference: site/website/blog/2021-03-17-billion-events-per-second.md:122-133 —
  * a node passes a rate if processing keeps up with the generators; the
  * published single-node ceiling is 25M events/s on 16 vCPUs).
  *
  * Instrument: Spark's rate source generates rows at a requested rows/second
  * through one of four pipelines covering the distinct state shapes —
  * stateless map, keyed tumbling window (point-keyed state), time-bounded
  * stream-stream join (state ∝ rate × join window, both sides buffered),
  * and session windows (range-keyed state with merge-per-batch). A rate R is
  * SUSTAINED if, over the probe window (after a settle period), the query
  * commits ≥95% of R rows/s — under saturation committed-rows-per-wall-second
  * IS engine throughput, so a query that cannot keep up fails the criterion
  * within one window. State rows at the sustained rate are recorded from the
  * last progress (the "state-rows-at-rate" column of the BASELINE.md ladder).
  *
  * Search: geometric ladder (doubling) from 1M rows/s (joins/sessions: 250k)
  * until a rate fails, then one bisection step — prints one JSON line with
  * per-pipeline ceilings. Each pipeline's artifact entry carries a `trials`
  * array and `best` (r17): a zero or >4×-collapsed ladder re-trials itself
  * up to 3 times, so a transient first-probe failure (r16's stream_join
  * reading 0.0 while re-trials sustained 375k) is adjudicated IN the
  * artifact instead of BASELINE prose. Results are recorded in BASELINE.md, not gated:
  * the number is machine-relative (one-box micro-batch vs the reference's
  * 45-node event-at-a-time cluster) and calibrates the architecture, not the
  * round artifact. SPARK_GRAFT_MAXRATE_ONLY=name,... filters pipelines.
  */
object MaxRate {

  private val SettleSec = 4
  private val MeasureSec = 10

  private final case class Pipeline(
      name: String,
      outputMode: String,
      startRate: Long,
      build: (SparkSession, Long) => DataFrame)

  private val pipelines = Seq(
    Pipeline("stateless", "append", 1000000L,
      (s, r) => RateWorkloads.statelessMap(RateWorkloads.shaped(s, r))),
    Pipeline("keyed_tumbling", "update", 1000000L,
      (s, r) => RateWorkloads.statefulAgg(RateWorkloads.shaped(s, r))),
    Pipeline("stream_join", "append", 250000L,
      (s, r) => RateWorkloads.streamStreamJoin(s, r)),
    // session windows support append, not update (Spark STREAMING_OUTPUT_MODE
    // 42KDE); the keep-up criterion reads numInputRows, so never-closing
    // sessions (continuously firing keys) are fine — the probe exercises the
    // merge path, not emission
    Pipeline("session_window", "append", 250000L,
      (s, r) => RateWorkloads.sessionAgg(RateWorkloads.shaped(s, r))),
    // the reference's hardest NEXMark query, as a fifth state shape: sliding
    // windows write 5 states per event (see RateWorkloads.nexmarkQ5)
    Pipeline("nexmark_q5_sliding", "update", 250000L,
      (s, r) => RateWorkloads.nexmarkQ5(s, r)),
    // same query, the reference's pane-based architecture (O(1) state
    // writes/event) — measures what panes buy vs the native sliding window
    Pipeline("nexmark_q5_panes", "update", 250000L,
      (s, r) => RateWorkloads.nexmarkQ5Panes(s, r)),
    // declarative pane architecture: chained stateful aggs (append-only)
    Pipeline("nexmark_q5_chained", "append", 250000L,
      (s, r) => RateWorkloads.nexmarkQ5Chained(s, r)),
    // the full in-stream Q5: chained panes + 3rd argmax stage (q158's plan)
    Pipeline("nexmark_q5_instream", "append", 250000L,
      (s, r) => RateWorkloads.nexmarkQ5Instream(s, r)),
    // sharded ANN serving at a laddered query rate (r19, VERDICT r18 Next
    // #6): q165's serve pipeline against a PREBUILT index — the fit runs
    // once (load-or-fit, outside the ladder's probes after the first) from
    // SPARK_GRAFT_ANN_INDEX_DIR (default sf0.1; point it at a ScaleTrend
    // replica for the 100×-index sizing row). The ceiling is queries/s.
    Pipeline("sharded_ann_serve", "append", 1000L,
      (s, r) => {
        val (idx, qvecs) = AnnServeState.ensure(s)
        RateWorkloads.shardedAnnServe(s, r, idx, qvecs)
      }))

  /** Load-or-fit cache for the serving ladder's index: the fit is the
    * OFFLINE cost (one corpus pass + bucketed write + O(√N) centroid
    * collect) paid before the first probe; every later probe loads the
    * persisted table. Query vectors are a 256-row driver-held cycle.
    */
  private object AnnServeState {
    import graft.operators.IvfShardedServe
    @volatile private var cached: Option[(IvfShardedServe.IvfIndex, Seq[Seq[Float]])] = None
    def ensure(s: SparkSession): (IvfShardedServe.IvfIndex, Seq[Seq[Float]]) =
      cached.getOrElse(synchronized {
        cached.getOrElse {
          import org.apache.spark.sql.functions.col
          val dir = sys.env.getOrElse("SPARK_GRAFT_ANN_INDEX_DIR", "/root/testdata/sf0.1")
          val emb = Tables(s, dir, "embeddings")
            .select(col("vec_id"), col("embedding"), col("label"))
          val tbl = IvfShardedServe.tableFor(dir)
          val idx = IvfShardedServe.load(s, tbl)
            .getOrElse(IvfShardedServe.fit(emb, tbl))
          val qvecs = emb.select(col("embedding")).limit(256).collect()
            .map(_.getSeq[Float](0)).toSeq
          System.err.println(s"[maxrate] sharded_ann_serve index: dir=$dir " +
            s"cells=${idx.cents.length} bBits=${idx.bBits} queryVecs=${qvecs.size}")
          val v = (idx, qvecs)
          cached = Some(v)
          v
        }
      })
  }

  /** Run the workload at `rate` rows/s; Some((processed rows/s, state rows))
    * if sustained, else None.
    */
  private def probe(spark: SparkSession, p: Pipeline, rate: Long): Option[(Double, Long)] = {
    val q = p.build(spark, rate).writeStream.format("noop")
      .outputMode(p.outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    try {
      Thread.sleep(SettleSec * 1000L)
      // -1, not 0: if no batch completed during the settle (first batch slower
      // than SettleSec at high rates), batch 0's rows belong to the measured
      // window — excluding them undercounts and fails a sustainable rate
      val fromBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      Thread.sleep(MeasureSec * 1000L)
      // BUSY-TIME throughput: committed rows per second of trigger execution.
      // A wall-clock window is unfair to pipelines with multi-second batches
      // (sessions, joins): the trailing in-flight batch's rows are generated
      // but uncommitted at cutoff, shaving up to batchDur/window off the
      // measurement regardless of true capacity. Busy-time is edge-free:
      // under saturation back-to-back batches make exec ≈ wall (identical
      // verdict to the round-4 criterion at the high ceilings), and a rate
      // above capacity still fails because committed/exec IS capacity.
      // Leading zero-row batches (batch 0 starts at offset 0 and carries
      // planning warm-up) are excluded.
      val progress = q.recentProgress.filter(p => p.batchId > fromBatch && p.numInputRows > 0)
      if (progress.isEmpty) None
      else {
        val rows = progress.map(_.numInputRows).sum
        val execSec = progress
          .map(_.durationMs.get("triggerExecution").toDouble).sum / 1000.0
        val processedPerSec = rows / math.max(execSec, 1e-3)
        val stateRows = progress.lastOption
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
        // sustained = kept up with ≥95% of the requested rate
        if (processedPerSec >= 0.95 * rate) Some((processedPerSec, stateRows))
        else None
      }
    } finally q.stop()
  }

  def main(args: Array[String]): Unit = {
    val only = sys.env.get("SPARK_GRAFT_MAXRATE_ONLY").map(_.split(',').toSet)
    val spark = GraftSession.local("graft-maxrate",
      shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_MAXRATE_PARTS", "8").toInt)
    // the first streaming query in a JVM pays the stream-infra class init;
    // keep it out of the first rung
    Bench.streamWarmup(spark)

    final case class Trial(rate: Long, measured: Double, stateRows: Long)

    def ceilingFor(p: Pipeline): (Long, Double, Long) = {
      val ceiling = 512000000L // generator guard: don't probe beyond this
      var rate = sys.env.get("SPARK_GRAFT_MAXRATE_START")
        .map(_.toLong).getOrElse(p.startRate)
      var lastOk = 0L
      var lastMeasured = 0.0
      var lastState = 0L
      var firstFailed = 0L
      var done = false
      while (!done) {
        probe(spark, p, rate) match {
          case Some((m, st)) =>
            lastOk = rate; lastMeasured = m; lastState = st; rate *= 2
          case None => firstFailed = rate; done = true
        }
        if (rate > ceiling) done = true
      }
      // bisect the (lastOk, firstFailed) gap — TWO steps (r19, VERDICT r18
      // Next #3): a single lastOk×1.5 probe leaves a half-rung of doubling
      // quantization, exactly the band the four r18 "one-doubling dips" sat
      // in (e.g. keyed_tumbling 12M vs a 16M prior — whether 14M sustains
      // was unmeasurable). Step 1 reproduces the old ×1.5 probe; step 2
      // halves the remaining gap from whichever side it landed. Only
      // meaningful when the ladder actually failed (a guard-capped exit has
      // no failed rate to bisect toward).
      if (lastOk > 0 && firstFailed > 0) {
        var lo = lastOk
        var hi = firstFailed
        var steps = 0
        while (steps < 2 && hi - lo > math.max(1L, lo / 4)) {
          val mid = lo + (hi - lo) / 2
          probe(spark, p, mid) match {
            case Some((m, st)) =>
              lo = mid; lastOk = mid; lastMeasured = m; lastState = st
            case None => hi = mid
          }
          steps += 1
        }
      }
      (lastOk, lastMeasured, lastState)
    }

    // Artifact self-adjudication (r17, VERDICT r16 item 3 / What's-wrong 1):
    // r16 permanently recorded `stream_join: measured 0.0` while the
    // adjudicated truth (two manual re-trials at 375k) lived only in
    // BASELINE.md prose. The ladder now re-trials ITSELF — automatically on
    // a zero first probe (the ladder couldn't sustain even its own entry
    // rate: the collapse signal; entry rates sit 4-32× below the known
    // bands) or when a later trial reads >4× below the best so far — and
    // the artifact carries every trial plus the best-of, so it reads
    // truthfully without external prose. Healthy pipelines still pay
    // exactly one ladder.
    val MaxLadderTrials = 3

    // Below-prior re-trial (r18, VERDICT r17 ADVICE #3): in r17, four
    // pipelines read exactly one doubling below their r16 bests with
    // single-entry trials arrays — the zero/collapse triggers never fire on
    // a clean-looking down-rung, so the artifact couldn't say whether the
    // dip was real or doubling-quantization spread.
    // Same mechanism as ScaleTrend's prior (SPARK_GRAFT_MAXRATE_PRIOR points
    // at the previous round's artifact): a ladder whose best lands BELOW the
    // prior round's best re-trials (≤ MaxLadderTrials total) and the
    // pipeline's JSON carries `prior_rate` so the multi-entry trials array
    // IS the adjudication — either a later trial recovers the prior band,
    // or the dip is confirmed across repeated ladders.
    // parse is anchored to the KNOWN pipeline names (ADVICE r18): the bare
    // `"(\w+)":{"rate":` pattern also matched every entry's nested
    // `"best":{"rate":...}` fragment, silently seeding a bogus 'best' key
    val pipelineNames = pipelines.map(_.name).toSet
    val priorBests: Map[String, Long] =
      sys.env.get("SPARK_GRAFT_MAXRATE_PRIOR").filter(_.nonEmpty).flatMap { path =>
        try {
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(path)), "UTF-8")
          val re = """"(\w+)":\{"rate":(\d+)""".r
          Some(re.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toLong)
            .filter { case (n, _) => pipelineNames.contains(n) }.toMap)
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[maxrate] prior artifact unreadable: $e"); None
        }
      }.getOrElse(Map.empty)

    def trialsFor(p: Pipeline): Seq[Trial] = {
      val prior = priorBests.get(p.name)
      val trials = scala.collection.mutable.ArrayBuffer[Trial]()
      var done = false
      while (!done) {
        val (r, m, st) = ceilingFor(p)
        trials += Trial(r, m, st)
        val best = trials.map(_.rate).max
        val collapsed = trials.last.rate == 0 ||
          (best > 0 && trials.last.rate * 4 < best)
        val belowPrior = prior.exists(best < _)
        done = !(collapsed || belowPrior) || trials.size >= MaxLadderTrials
        if (!done) System.err.println(s"[maxrate] ${p.name}: trial " +
          s"${trials.size} read rate=${trials.last.rate} (best=$best" +
          prior.fold("")(pr => s", prior=$pr") + ") — re-trialing")
      }
      trials.toSeq
    }

    val results: Seq[(Pipeline, Seq[Trial], Trial)] =
      pipelines.filter(p => only.forall(_.contains(p.name))).map { p =>
        val trials = trialsFor(p)
        val best = trials.maxBy(t => (t.rate, t.measured))
        System.err.println(s"[maxrate] ${p.name}: sustained=${best.rate} " +
          s"measured=${best.measured} state_rows=${best.stateRows} " +
          s"(${trials.size} trial(s))")
        (p, trials, best)
      }

    val resultsJson = results.map { case (p, trials, best) =>
      val priorJson = priorBests.get(p.name)
        .map(pr => s""""prior_rate":$pr,""").getOrElse("")
      def tJson(t: Trial): String =
        s"""{"rate":${t.rate},"measured":${t.measured},"state_rows":${t.stateRows}}"""
      // top-level fields = best-of (legacy readers unchanged); rate sits
      // first so the prior-parse anchor stays one regex
      s""""${p.name}":{"rate":${best.rate},"measured":${best.measured},""" +
        s""""state_rows":${best.stateRows},$priorJson"best":${tJson(best)},""" +
        trials.map(tJson).mkString("\"trials\":[", ",", "]}")
    }
    println(s"""{"metric":"max_sustainable_rate","unit":"rows_per_sec",""" +
      resultsJson.mkString(",") + "}")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.trace.QueryTrace

/** Benchmark main — runs every registered query on SPARK_GRAFT_SF_DIR and prints
  * one JSON line. Each query is forced to full materialization via a noop-format
  * write (a bare `count()` would let Catalyst prune most of the work and
  * under-report).
  *
  * Also measures streaming throughput (`stream_rows_per_sec`): the events
  * fixture replayed through a real Structured Streaming windowed aggregation in
  * 10 micro-batches — the engine-side analog of the reference's single-node
  * events/s figures (BASELINE.md; site/website/blog/2021-03-17-billion-events-
  * per-second.md:130-133).
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    warmup(spark, sfDir)

    // comma-separated name-prefix filter for local iteration (full run if unset)
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.split(',').toSeq)

    // Rung-scoping: q161's brute ANN serving broadcasts the WHOLE index and
    // scans it per event — it is the exact-oracle BASELINE, kept at the
    // sf0.1 rung where it is cheap. At bigger rungs it grows super-linearly
    // (measured ~47× at 10× data, 24% of the whole sf1 suite in r12) and the
    // serving headline is the sharded plan (q165, IvfShardedServe), so the
    // brute form is excluded there and recorded in the artifact.
    // Threshold: embeddings > 5000 vectors ⇔ above the sf0.1 gate data (2000).
    val rungExcluded: Seq[String] = {
      val embCount =
        try Tables(spark, sfDir, "embeddings").count() catch { case _: Throwable => 0L }
      if (embCount > 5000L && filter.isEmpty) {
        System.err.println(
          s"[bench] rung-excluding q161_stream_ann_serve (brute baseline) at " +
            s"$embCount index vectors; serving headline at this rung is q165")
        Seq("q161_stream_ann_serve")
      } else Seq.empty
    }
    val base = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      filter.forall(_.exists(n.startsWith)) && !rungExcluded.contains(n)
    }
    // SPARK_GRAFT_BENCH_ORDER=reverse|seed:<n> reorders the run — the
    // neighborhood-effect probe: a per-query time that moves with its position
    // is harness noise (GC/cache pressure from predecessors), not a plan change
    val order = sys.env.get("SPARK_GRAFT_BENCH_ORDER")
    val selected = order match {
      case Some("reverse") => base.reverse
      case Some(s) if s.startsWith("seed:") =>
        new scala.util.Random(s.stripPrefix("seed:").toLong).shuffle(base)
      case _ => base
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // per-query job/task counts: a query's wall time in THIS artifact is
    // (work) + (job count × per-job scheduling floor), and the floor is what
    // external machine load multiplies 3-5× while bulk work absorbs ~1.2×
    // (BASELINE.md round 7). Emitting the counts makes the artifact
    // self-diagnosing: a time that moved with flat jobs+tasks is load, not
    // plan decay.
    val trace = QueryTrace.install(spark)
    val results = try selected.map { case (name, fn) =>
      trace.reset()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val record = trace.snapshot()
      isolate(spark)
      (name, dt, record.jobs, record.tasks)
    } finally trace.close()
    // WARM second pass over the slowest 20 (full runs only): cold-order JIT/
    // GC noise reads as 1.5-2× on individual queries (q74 r7, q34/q116 r9 —
    // every one a false regression that a warm rerun later cleared). Carrying
    // cold+warm in the SAME artifact lets round-over-round diffs
    // self-adjudicate: a real regression moves BOTH columns, cold-order
    // noise leaves warm at the old value. Warm runs use identical
    // isolation (store clear + cache drop + gc outside the timed window).
    val warm: Map[String, Double] =
      if (filter.isDefined || sys.env.contains("SPARK_GRAFT_NO_WARM_PASS")) Map.empty
      else results.sortBy(-_._2).take(20).map { case (name, _, _, _) =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        // a FAILED warm rerun records the -1 sentinel, not its (tiny)
        // elapsed time — a fast failure would otherwise read as a warm
        // number that falsely "clears" a real cold regression in the diff
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] warm $name failed: ${e.getMessage}"); false }
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        isolate(spark)
        name -> dt
      }.toMap

    // best-of-2 trials: throughput is floored by per-micro-batch fixed
    // overhead and swings ±40% with background machine load (BASELINE.md
    // round-3 post-mortem) — the MAX of two short runs is the stable estimate
    // of what the engine sustains; a genuine regression drags both trials
    def bestOf2(label: String)(run: => Double): Double =
      if (filter.isDefined) 0.0
      else (1 to 2).map { _ =>
        try run catch {
          case e: Throwable =>
            System.err.println(s"[bench] $label throughput failed: ${e.getMessage}"); 0.0
        }
      }.max
    val streamRate = bestOf2("stream")(streamThroughput(spark, sfDir))
    // the same workload on RocksDB + changelog checkpointing: the large-state
    // provider A/B'd against the in-memory default every round (BASELINE.md
    // records the conclusion; this keeps the artifact carrying both numbers)
    val streamRateRocks = bestOf2("rocksdb")(streamThroughput(spark, sfDir, rocksdb = true))
    val statelessRate = bestOf2("stateless")(streamThroughputStateless(spark, sfDir))
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val jobsJson = results.map { case (k, _, j, t) => "\"" + k + "\":[" + j + "," + t + "]" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // failed queries are listed explicitly — their partial times would
    // otherwise read as dramatic "improvements" in cross-round comparisons
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // a filtered or reordered dev run must be distinguishable from a full run:
    // zero throughput under a filter is an artifact, not a regression
    val marker = filter.map(f => s""""filter":"${f.mkString(",")}",""").getOrElse("") +
      order.map(o => s""""order":"$o",""").getOrElse("") +
      (if (rungExcluded.nonEmpty)
        rungExcluded.map("\"" + _ + "\"")
          .mkString("\"rung_excluded\":[", ",", "],")
      else "")
    // 1-minute load average at end of run: cross-round artifact comparisons
    // need to know whether the box was contended (see jobs_tasks note above)
    val load = try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage catch { case _: Throwable => -1.0 }
    val warmJson = warm.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec",$marker"queries":$qs,""" +
      s""""warm_queries":$warmJson,""" +
      s""""jobs_tasks":$jobsJson,""" +
      s""""failed":$failedJson,"stream_rows_per_sec":$streamRate,""" +
      s""""stream_rows_per_sec_rocksdb":$streamRateRocks,""" +
      s""""stream_stateless_rows_per_sec":$statelessRate,""" +
      s""""load_avg":$load,"sf":"$sfDir"}"""
    println(fullJson)
    // The harness that captures this output keeps only a ~2000-char tail, so
    // the full line above (>8 KB at 130+ queries) can never survive capture
    // intact (BENCH_r01..r07 all have parsed:null for exactly this reason).
    // Two-part fix: (a) persist the complete artifact to a file in the working
    // directory where truncation can't touch it, (b) print a compact summary
    // line LAST that fits the tail window whole and therefore parses.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL_LATEST.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(fullPath),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    println(summaryLine(results.map { case (k, v, _, _) => k -> v }, marker, failedJson,
      streamRate, streamRateRocks, statelessRate, load, fullPath, sfDir))
    spark.stop()
  }

  /** The FINAL stdout line (r20, VERDICT r19 item 1): harnesses parse the
    * ~2000-char TAIL of stdout, so the last line must (a) be complete inside
    * that window and (b) carry a per-query `"queries"` map. A full-name
    * 171-query map is ~4.5 KB (names alone sum to 3.1 KB) and can NEVER fit
    * the window, so this line carries the slowest-first PREFIX of the map
    * that fits [[SummaryBudget]] characters — the fill stops at the first
    * entry that does not fit, so `queries` is always exactly the N slowest —
    * plus `queries_omitted` for the rest (the sub-second tail of
    * scheduling-floor rows). The complete map is printed before it and
    * persisted in the full artifact.
    */
  private[graft] def summaryLine(times: Seq[(String, Double)], marker: String,
                                 failedJson: String, streamRate: Double, rocksRate: Double,
                                 statelessRate: Double, load: Double, fullPath: String,
                                 sfDir: String): String = {
    def r2(v: Double): Double = math.round(v * 100) / 100.0
    val total = times.map(_._2).sum
    val meanSec = if (times.nonEmpty) r2(total / times.size) else 0.0
    val head =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec",$marker""" +
      s""""n_queries":${times.size},"mean_sec":$meanSec,"queries":{"""
    def tail(omitted: Int): String =
      s"""},"queries_omitted":$omitted,"failed":$failedJson,""" +
      s""""stream_rows_per_sec":${r2(streamRate)},""" +
      s""""stream_rows_per_sec_rocksdb":${r2(rocksRate)},""" +
      s""""stream_stateless_rows_per_sec":${r2(statelessRate)},""" +
      s""""load_avg":${r2(load)},"full_artifact":"$fullPath","sf":"$sfDir"}"""
    val entries = times.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + r2(v) }
    // sized with the largest possible omitted count, so the real one fits too
    val room = SummaryBudget - head.length - tail(entries.size).length
    val lengths = entries.scanLeft(-1)(_ + _.length + 1).tail
    val kept = entries.take(lengths.takeWhile(_ <= room).size)
    head + kept.mkString(",") + tail(entries.size - kept.size)
  }

  /** Character budget of [[summaryLine]]: under a 2000-char tail capture,
    * with room for a trailing newline and stderr interleaving.
    */
  private[graft] val SummaryBudget = 1850

  /** One run of the flagship, to amortize JVM/codegen startup out of the
    * first measured query, then [[streamWarmup]].
    */
  private[graft] def warmup(spark: SparkSession, sfDir: String): Unit = {
    try queries.QueryRegistry.flagship(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    streamWarmup(spark)
  }

  /** Isolate measured runs from each other: drop the store state and cached
    * tables a run left behind and collect its garbage OUTSIDE the timed
    * window, so a heavy query can't tax its successors' numbers (the
    * q66–q68 → q69–q71 neighborhood regression in BENCH_r03).
    */
  private[graft] def isolate(spark: SparkSession): Unit = {
    pipeline.KeyedStore.clear()
    spark.catalog.clearCache()
    System.gc()
  }

  /** Events/second through a keyed tumbling-window count+sum (the NEXMark-style
    * shape the reference benchmarks): the fixture replayed 10× through a
    * file-stream source, one file per micro-batch — the real engine path
    * (vectorized parquet scan → two-phase windowed agg → state store), with no
    * driver-side row encoding in the measured loop.
    */
  private[graft] def streamWarmup(spark: SparkSession): Unit =
    try {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[(java.sql.Timestamp, Double)]
      ms.addData(Seq((new java.sql.Timestamp(0L), 1.0)))
      val wq = ms.toDF().toDF("ts", "v").withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour")).agg(sum($"v"))
        .writeStream.format("memory").queryName("bench_warmup_stream")
        .outputMode("update").start()
      wq.processAllAvailable(); wq.stop()
    } catch { case _: Throwable => }

  private def streamThroughput(spark: SparkSession, sfDir: String,
                               rocksdb: Boolean = false): Double = {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_streambench_").toString
    val events = Tables(spark, sfDir, "events").select($"ts", $"event_type", $"value")
    // 10× the fixture as 10 micro-batches of 8 files each — 8-way parallel
    // scan within every batch (1 file per batch = a single scan task)
    val replicated = (0 until 10).map(_ => events).reduce(_ union _)
    replicated.repartition(80).write.parquet(s"$work/in")
    val nRows = events.count() * 10

    // the keyed-window state is small (types × hours): a handful of state-store
    // partitions beats the batch default — per-micro-batch cost is dominated by
    // per-partition state commits, not data volume
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevProvider = spark.conf.getOption(providerKey)
    val prevChangelog = spark.conf.getOption(changelogKey)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // watermark bookkeeping alone doesn't need an extra empty micro-batch after
    // every data batch — halves the number of batch commits
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    if (rocksdb) {
      // RocksDB state store + changelog checkpointing: per-commit cost becomes
      // an append of the batch's delta instead of a full-snapshot upload
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(changelogKey, "true")
    }
    val q =
      try spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "8").parquet(s"$work/in")
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
        .writeStream.format("memory").queryName("bench_stream")
        .outputMode("update").start()
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
        if (rocksdb) {
          prevProvider match {
            case Some(p) => spark.conf.set(providerKey, p)
            case None => spark.conf.unset(providerKey)
          }
          // restore the changelog flag too — leaking it would silently alter
          // every later provider run in the same session
          prevChangelog match {
            case Some(c) => spark.conf.set(changelogKey, c)
            case None => spark.conf.unset(changelogKey)
          }
        }
      }
    val t0 = System.nanoTime()
    try q.processAllAvailable() finally q.stop()
    val rate = nRows / ((System.nanoTime() - t0) / 1e9)
    pipeline.TempFiles.deleteTree(work)
    rate
  }

  /** Stateless streaming throughput: the same file-stream replay through a
    * row-local projection+filter (no state store, no shuffle). The gap between
    * this and `streamThroughput` isolates the per-micro-batch STATE COMMIT
    * cost, which is the stateful figure's bound on one box (it scales with
    * executors, not with this machine).
    */
  private def streamThroughputStateless(spark: SparkSession, sfDir: String): Double = {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_streambench2_").toString
    val events = Tables(spark, sfDir, "events").select($"ts", $"event_type", $"value")
    val replicated = (0 until 10).map(_ => events).reduce(_ union _)
    replicated.repartition(80).write.parquet(s"$work/in")
    val nRows = events.count() * 10
    val q = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "8").parquet(s"$work/in")
      .filter($"value" > Double.MinValue)
      .select($"event_type", ($"value" * 2).as("v2"))
      .writeStream.format("noop").queryName("bench_stream_stateless")
      .outputMode("append").start()
    val t0 = System.nanoTime()
    try q.processAllAvailable() finally q.stop()
    val rate = nRows / ((System.nanoTime() - t0) / 1e9)
    pipeline.TempFiles.deleteTree(work)
    rate
  }
}

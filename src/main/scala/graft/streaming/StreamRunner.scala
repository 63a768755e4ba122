package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Per-query streaming metrics (reference: late-event counter
  * `lateEventsDropped` in TransformStatefulP.java:100-106 / SlidingWindowP;
  * SURVEY §2.8) — a `StreamingQueryListener` folding each progress event's
  * state-operator counters into a queryable map.
  */
final class Metrics extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  private val late = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val rows = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  // cumulative per-query-ID counters (Jet's JobMetrics are job-lifetime
  // totals, not last-batch snapshots): keyed by StreamingQuery.id so a
  // restarted-from-checkpoint query keeps accumulating under its stable id
  private val byId =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val name = Option(e.progress.name).getOrElse(e.progress.id.toString)
    val dropped = e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum
    late.merge(name, dropped, (a, b) => a + b)
    rows.merge(name, e.progress.numInputRows, (a, b) => a + b)
    val batchMs = Option(e.progress.durationMs)
      .flatMap(d => Option(d.get("triggerExecution"))).map(_.longValue).getOrElse(0L)
    val delta = Map(
      "numInputRows" -> e.progress.numInputRows,
      "lateEventsDropped" -> dropped,
      "batches" -> 1L,
      "totalBatchDurationMs" -> batchMs)
    byId.merge(e.progress.id.toString, delta,
      (a, b) => (a.keySet ++ b.keySet).map(k =>
        k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap)
    ()
  }

  /** Jet `lateEventsDropped` analog for a named query. */
  def lateEventsDropped(query: String): Long = late.getOrDefault(query, 0L)
  def inputRows(query: String): Long = rows.getOrDefault(query, 0L)

  /** Job-lifetime counters for a StreamingQuery id (empty before progress). */
  def cumulative(queryId: String): Map[String, Long] =
    byId.getOrDefault(queryId, Map.empty)
}

object Metrics {
  /** Install a metrics listener on the session (idempotent per instance). */
  def install(spark: SparkSession): Metrics = {
    val m = new Metrics
    spark.streams.addListener(m)
    m
  }

  // one shared engine-wide listener per session (weak keys: a dropped
  // session's listener map entry must not pin it): JobRegistry/JobHandle
  // pull cumulative counters from here without each handle adding its own
  // listener
  private val shared = new java.util.WeakHashMap[SparkSession, Metrics]()
  def sharedFor(spark: SparkSession): Metrics = shared.synchronized {
    var m = shared.get(spark)
    if (m == null) { m = install(spark); shared.put(spark, m) }
    m
  }
}

/** Deterministic replay harness: runs a finite dataset through a real
  * Structured Streaming query (MemoryStream → transform → memory sink) and
  * returns the final result table. This is how the driver's batch-oracle
  * correctness gate exercises genuine streaming execution (state stores,
  * watermarks, window merging) — the stream–batch equivalence strategy from
  * FIXTURES.md §3, mirroring the reference's processor-level replay tests
  * (core/test/TestSupport.java:100-130).
  */
object StreamRunner {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Replay `input` through `transform` and collect the sink table.
    * `outputMode` should be "complete" for aggregations, "append" for
    * stateful/flatMap ops.
    */
  def replay[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, input: Seq[T], outputMode: String)(
      transform: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[T]
    val name = s"graft_replay_${counter.incrementAndGet()}"
    // feed in two chunks so multiple micro-batches (and state updates) happen
    val chunks = input.grouped(math.max(1, input.size / 2 + 1)).toSeq
    chunks.headOption.foreach(c => mem.addData(c))
    // replay-local state partitioning: a finite replay doesn't need the full
    // engine shuffle width; fewer state-store partitions = less per-batch
    // overhead (the sink table is tiny either way)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try transform(mem.toDF()).writeStream
        .format("memory").queryName(name).outputMode(outputMode).start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    try {
      q.processAllAvailable()
      chunks.drop(1).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  /** File-stream replay: runs a finite DataFrame through a real streaming query
    * from a PARQUET FILE SOURCE — the production ingestion shape (vectorized
    * scan → watermark → stateful op → sink) with ZERO driver-side rows, unlike
    * `replay` which collects the fixture into a MemoryStream.
    *
    * The input is split into `chunks` time-range files (repartitionByRange on
    * `tsCol`) and each micro-batch consumes exactly one chunk, in time order —
    * guaranteed by stamping strictly ascending modification times, which is the
    * order FileStreamSource processes files in (`latestFirst=false`). The
    * watermark therefore only ever moves FORWARD BETWEEN batches and no genuine
    * row is dropped as late, which is what makes a replayed stream
    * bit-comparable to a batch oracle. At 100 TB this same shape is the real
    * deployment: time-partitioned landing files, one trigger per partition.
    */
  /** @param tails extra single-batch chunks appended AFTER the input chunks,
    *   in order — e.g. far-future sentinel rows that advance the watermark so
    *   append-mode queries flush their final windows deterministically (the
    *   flush happens in the batch that FOLLOWS the watermark-advancing one,
    *   which is why a flush needs two sentinel chunks, not one). The function
    *   receives the MAX event time, computed here from the already-written
    *   chunk files (a ts-only pruned scan of the temp dir) so callers never
    *   pay a second full-source action just to place their sentinels.
    */
  /** Staged-chunk cache: several gate/bench queries replay the SAME input
    * frame (the events fixture) in one JVM, and the repartitionByRange +
    * parquet staging was the dominant fixed cost per replay. Keyed on the
    * CANONICALIZED analyzed plan of the input PLUS its file-source root paths
    * AND a stamp of the source files' (path, size, mtime): canonicalization
    * erases source paths (a parquet relation renders path-free), so the
    * paths must be appended or same-shaped tables from different directories
    * would collide, and the stamp catches in-place rewrites of the source
    * files between replays (same path, new data → new key, fresh staging).
    * The cached VALUE carries the staging dir plus a manifest of every
    * staged parquet file (relative path → size), so a cache hit re-validates
    * the exact staged file set — file-level /tmp pruning that removes SOME
    * files in a chunk re-stages instead of silently truncating the replay.
    * Cached dirs live for the JVM (tens of MB; a shutdown hook deletes them
    * on exit); tail-extended runs copy the cached files into a fresh dir
    * instead of mutating it. Entries are only ever added or replaced, never
    * removed. On a lost staging race the NEW dir is discarded and the
    * existing (possibly in-use) entry wins — deleting the previous entry's
    * tree while another replay streams from it would truncate that replay.
    */
  private final case class Staged(dir: String, manifest: Map[String, Long])
  private val chunkCache = new java.util.concurrent.ConcurrentHashMap[String, Staged]()

  /** Relative path → size of every staged chunk parquet file under `dir`. */
  private def manifestOf(dir: String): Map[String, Long] = {
    val chunkDirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("__chunk="))
    chunkDirs.flatMap { d =>
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}" -> f.length())
    }.toMap
  }

  /** MD5 over (path, size, mtime) of every file under the source roots —
    * the in-place-rewrite detector folded into the cache key. mtime is read
    * at the filesystem's full (up to nanosecond) resolution via NIO, not the
    * millisecond-truncated `File.lastModified` — two same-sized rewrites
    * inside one millisecond would otherwise collide. Non-local / missing
    * paths contribute nothing (the key then rests on the paths alone, the
    * round-4 behavior).
    */
  private def sourceStamp(paths: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(f: java.io.File): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(walk)
      else if (f.isFile) {
        val mtime = try java.nio.file.Files
          .getLastModifiedTime(f.toPath).to(java.util.concurrent.TimeUnit.NANOSECONDS)
        catch { case _: java.io.IOException => f.lastModified() }
        md.update(s"${f.getPath}:${f.length}:$mtime;".getBytes("UTF-8"))
      }
    paths.sorted.foreach(p => walk(new java.io.File(p.stripPrefix("file:"))))
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      chunkCache.values().forEach { st =>
        // dir is <tmp>/in — remove the temp parent
        graft.pipeline.TempFiles.deleteTree(new java.io.File(st.dir).getParent)
      }))
  }

  /** Test hook: THIS JVM's cached staging dirs — lets specs simulate external
    * /tmp pruning without touching other processes' stagings.
    */
  private[graft] def stagedDirs: Seq[String] = {
    import scala.jdk.CollectionConverters._
    chunkCache.values().asScala.map(_.dir).toSeq
  }

  def replayFiles(spark: SparkSession, input: DataFrame, tsCol: String,
                  outputMode: String, chunks: Int = 2,
                  tails: Option[java.sql.Timestamp => Seq[DataFrame]] = None)(
      transform: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    // SPARK_GRAFT_REPLAY_CHUNKS: scale-run override. More chunks = more
    // watermark advances = BOUNDED live state (each batch evicts windows the
    // watermark passed), mirroring production where the watermark moves
    // continuously — the 100× replica with chunks=2 holds ~half the stream's
    // windows live at once, which is a fixture artifact, not an engine
    // property. Output is chunk-count-invariant for these queries (watermark
    // only moves forward between batches; append emits on close, update
    // snapshots converge to final values) — verified by running the gate
    // oracles under an overridden chunk count. Default stays 2 so gate runs
    // exercise multi-batch state updates at fixed cost.
    val chunkCount = sys.env.get("SPARK_GRAFT_REPLAY_CHUNKS")
      .map(_.toInt).getOrElse(chunks)
    val name = s"graft_freplay_${counter.incrementAndGet()}"
    def stage(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_freplay_base_").toString + "/in"
      input.repartitionByRange(chunkCount, col(tsCol))
        .withColumn("__chunk", spark_partition_id())
        .write.partitionBy("__chunk").parquet(dir)
      dir
    }
    // deep revalidation on cache hit: /tmp age-based pruning can remove a
    // long-lived staging mid-session — and FILE-level pruning can remove
    // some-but-not-all parquet files while the directory skeleton stands —
    // so the staged file set must match the manifest recorded at staging
    // time exactly; anything less re-stages instead of silently replaying an
    // empty or TRUNCATED stream
    def intact(st: Staged): Boolean =
      st.manifest.nonEmpty && manifestOf(st.dir) == st.manifest
    // the cache key is (canonical plan + file-source paths + source stamp);
    // canonicalization erases paths, and for NON-file inputs (LocalRelation,
    // views over memory) it also erases the DATA — same-schema in-memory
    // inputs would collide. Only file-backed inputs are cacheable; everything
    // else stages fresh.
    val srcPaths = org.apache.spark.sql.graftops.Bridge.sourcePaths(input)
    // an uncacheable staging is private to this call — deleted with scratch
    var ephemeralBase: Option[String] = None
    val baseDir =
      if (srcPaths.isEmpty) {
        val dir = stage()
        ephemeralBase = Some(new java.io.File(dir).getParent)
        dir
      }
      else {
        val cacheKey = input.queryExecution.analyzed.canonicalized.toString +
          srcPaths.mkString("[", "|", "]") + s";$tsCol;$chunkCount;" +
          sourceStamp(srcPaths)
        // stage OUTSIDE the map lock (CHM.compute must not run long Spark
        // jobs), publish via putIfAbsent: on a lost race the NEW staging is
        // deleted and the existing entry (possibly mid-replay elsewhere)
        // wins — never the other way around
        val hit = chunkCache.get(cacheKey)
        if (hit != null && intact(hit)) hit.dir
        else {
          val fresh = Staged(stage(), Map.empty)
          val staged = fresh.copy(manifest = manifestOf(fresh.dir))
          val winner =
            if (hit == null) {
              val prev = chunkCache.putIfAbsent(cacheKey, staged)
              if (prev == null) staged else prev
            } else {
              // the hit failed revalidation: replace it (its files are
              // already gone/damaged — no live replay could be reading the
              // missing data anyway); if another thread replaced it first,
              // use theirs (entries are never removed, so get is non-null)
              if (chunkCache.replace(cacheKey, hit, staged)) {
                graft.pipeline.TempFiles.deleteTree(new java.io.File(hit.dir).getParent)
                staged
              } else chunkCache.get(cacheKey)
            }
          if (winner.dir != staged.dir)
            graft.pipeline.TempFiles.deleteTree(new java.io.File(staged.dir).getParent)
          winner.dir
        }
      }
    // tail-extended replays (sentinel chunks) get their OWN dir: copying the
    // staged files keeps the shared cache immutable
    val (inDir, scratch) =
      if (tails.isEmpty) (baseDir, None)
      else {
        val work = java.nio.file.Files.createTempDirectory("graft_freplay_").toString
        val dst = java.nio.file.Paths.get(s"$work/in")
        java.nio.file.Files.createDirectories(dst)
        new java.io.File(baseDir).listFiles().filter(_.getName.startsWith("__chunk=")).foreach { d =>
          val cd = dst.resolve(d.getName)
          java.nio.file.Files.createDirectories(cd)
          d.listFiles().foreach(f =>
            java.nio.file.Files.copy(f.toPath, cd.resolve(f.getName)))
        }
        (dst.toString, Some(work))
      }
    // sentinel placement needs max(ts); the chunk files are already written and
    // range-partitioned ascending, so the LAST chunk alone carries the maximum
    // — a ts-only columnar scan of one chunk dir, not a rescan of the source
    val tailFrames = tails.fold(Seq.empty[DataFrame]) { mk =>
      // repartitionByRange can emit FEWER than `chunks` partitions (tiny or
      // low-cardinality inputs), and empty partitions write no dir — read the
      // highest-index chunk dir that actually exists, not index chunks-1
      val lastDir = new java.io.File(inDir).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("__chunk="))
        .maxByOption(_.getName.stripPrefix("__chunk=").toInt)
        .getOrElse(throw new IllegalStateException(
          s"replayFiles: no chunk dirs written under $inDir (empty input?)"))
      val lastChunk = spark.read.parquet(lastDir.getAbsolutePath)
        .agg(org.apache.spark.sql.functions.max(col(tsCol))).first()
      mk(lastChunk.getTimestamp(0))
    }
    tailFrames.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.parquet(s"$inDir/__chunk=${chunkCount + i}")
    }
    // chunk i's files get modtime base + i minutes → trigger k reads chunk k
    val base = System.currentTimeMillis() - 6L * 3600 * 1000
    new java.io.File(inDir).listFiles().filter(_.getName.startsWith("__chunk=")).foreach { d =>
      val i = d.getName.stripPrefix("__chunk=").toInt
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          // the whole stream-vs-batch equivalence rests on these mtimes
          // ordering the chunks — fail fast if the filesystem refuses
          require(f.setLastModified(base + i * 60000L),
            s"cannot stamp chunk mtime on $f; file-stream replay order undefined")
        }
    }
    val schema = org.apache.spark.sql.types.StructType(
      input.schema.fields :+ org.apache.spark.sql.types.StructField(
        "__chunk", org.apache.spark.sql.types.IntegerType))
    // 4 state-store partitions: each micro-batch pays a per-partition state
    // commit, and a finite replay's bottleneck is that fixed cost, not data
    // parallelism (the real engine width stays spark.sql.shuffle.partitions).
    // No-data micro-batches are disabled: the replay's watermark advancement
    // is driven entirely by data chunks (incl. sentinel tails), so the extra
    // empty batches after each processAllAvailable only add commit overhead.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q =
      try transform(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir).drop("__chunk"))
        .writeStream.format("memory").queryName(name).outputMode(outputMode).start()
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      }
    try q.processAllAvailable() finally q.stop()
    // the memory sink holds the result rows; a tail-extended run's private
    // copy and any uncacheable (in-memory-input) staging are done — delete
    // them. A shared file-backed staging stays for the JVM: later replays of
    // the same input skip the staging write entirely.
    scratch.foreach(graft.pipeline.TempFiles.deleteTree)
    ephemeralBase.foreach(graft.pipeline.TempFiles.deleteTree)
    spark.table(name)
  }
}

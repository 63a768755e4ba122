package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the graft engine.
  *
  * Jet analog: `JetInstance`/`JetConfig` (reference:
  * hazelcast-jet-core/src/main/java/com/hazelcast/jet/JetInstance.java) — but in a
  * Spark-first design the "instance" is just a tuned `SparkSession`. All engine
  * defaults that matter at 100 TB scale (AQE, skew-join handling, partition
  * coalescing) are switched on here so every query planned through this session
  * benefits without per-operator tuning.
  */
object GraftSession {

  /** Apply graft engine defaults to any builder (used by Verify/Bench/tests). */
  def tune(b0: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder = {
    // SPARK_GRAFT_ROCKSDB=1 forces the RocksDB state-store provider for the
    // whole session — the provider-robustness sweep knob (run the full gate
    // under the alternate provider; every stream/batch twin must still
    // hash-match its oracle).
    val b = if (sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1"))
      rocksdbStateStore(b0) else b0
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // native engine expressions on the SQL surface (graft_dot, graft_minhash)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      // AQE: runtime re-planning — coalesce small shuffle partitions, convert
      // sort-merge to broadcast when a side turns out small, split skewed joins.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-partition plans under .cache(): a cached frame otherwise
      // pins the pre-AQE 32-partition shape for the cache build AND every
      // read — r7 profile: q67's KB-sized cached merges ran 198 near-empty
      // tasks (200-500 ms each of pure fixed overhead) with this off, 10
      // tasks with it on. Per-task fixed cost is exactly the class that
      // inflates 3-5× under external load while bulk compute inflates ~1.2×.
      // (Deliberately NOT parallelismFirst=false: with the default,
      // coalescing already shrinks the advisory to totalSize/parallelism for
      // small shuffles; size-first coalescing serialized q47's compact-but-
      // CPU-dense pair stage onto one core.)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // The driver's `events` fixture carries TIMESTAMP(NANOS) parquet columns,
      // which Spark cannot represent natively; read them as epoch-nano longs and
      // convert in `Tables` (lossless: the fixture is whole-microsecond).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark 4 infers naive parquet `timestamp[us]` (isAdjustedToUTC=false) as
      // TIMESTAMP_NTZ, which watermarks / window() / unix_micros reject — the
      // r5 gate silently lost all 8 timestamp queries to exactly this. Restore
      // the Spark 3 reading engine-wide (naive → TIMESTAMP in the session zone,
      // UTC here — the same instant labeling DuckDB applies), so EVERY parquet
      // path (Sources.files, fileWatcher, Tables) hands event-time code a
      // watermarkable column. `withTimestamps` additionally normalizes NTZ
      // from user-declared schemas (json/csv watchers) as a second fence.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // r19: NIO checkpoint file manager for LOCAL checkpoint roots. Spark's
      // default FileContext manager forks a `readlink` PROCESS per atomic
      // rename on the local filesystem (Hadoop RawLocalFileSystem.
      // getFileLinkStatus → Shell.execCommand) — ~20-40 renames per
      // micro-batch commit made that fork the streaming floor's dominant
      // RUNNABLE frame (OPTIMIZATION_r19.md has the stack + A/B). The graft
      // manager is pure NIO for file: roots and DELEGATES to Spark's default
      // for every other scheme, so cluster deployments (hdfs:/s3a:
      // checkpoints) keep stock semantics; checkpoint checksums (4.1) stay ON.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalCheckpointFileManager")
  }

  /** Cluster-mode tuning for the 100 TB target (applied on top of `tune`) —
    * the knobs that matter when this engine runs on ~1000 executors instead of
    * local[32]. Documented here as executable configuration, not prose:
    *
    *  - shuffle partitions sized to ~2-3× total cores, then AQE coalesces —
    *    callers pass `totalCores`; a fixed 32 would bottleneck every shuffle;
    *  - 128 MiB scan splits (maxPartitionBytes) keep scan tasks uniform over
    *    ~800k parquet files at 100 TB;
    *  - broadcast threshold raised to 64 MiB: every TPC-H-style dimension
    *    (region/nation/customer-sample) broadcasts instead of shuffling the
    *    fact table;
    *  - skew-join splitting and partition coalescing are already on in `tune`.
    */
  /** RocksDB state store + changelog checkpointing — the large-state streaming
    * configuration. The default (HDFS-backed in-memory map) keeps every state
    * partition on-heap and uploads a full snapshot per commit: fastest when
    * keyed state fits in executor memory (measured A/B in BASELINE.md — the
    * two tie on this box's small-state workload). Switch to RocksDB when state
    * outgrows the heap (billions of keys: large session windows, long-TTL
    * mapStateful, stream-stream joins at 100 TB): state lives off-heap/on-disk
    * and changelog checkpointing turns the per-commit upload into an append of
    * the batch's delta instead of a full snapshot.
    */
  def rocksdbStateStore(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // bound native memory: one shared block cache across all loaded stores
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")

  def clusterTune(b: SparkSession.Builder, totalCores: Int): SparkSession.Builder =
    tune(b, shufflePartitions = totalCores * 3)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (64L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")

  /** Local task slots for every graft main: `SPARK_GRAFT_CPUS`, else every
    * available processor.
    */
  private val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The tuned `local[cores]` session every graft main opens. */
  def local(appName: String, shufflePartitions: Int = math.max(4, cores)): SparkSession = {
    val spark = tune(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

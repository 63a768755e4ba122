package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}

/** Batch source vocabulary (reference: pipeline/Sources.java, pipeline/file/
  * FileSources.java). Each source is a recipe producing a Dataset; file formats
  * map 1:1 onto Spark's readers, which bring vectorized scans + pushdown for free.
  */
trait BatchSource[T] { def read(spark: SparkSession): Dataset[T] }

/** Unbounded source vocabulary (reference: Sources.socket/fileWatcher,
  * KafkaSources) → Structured Streaming readers.
  */
trait StreamSource { def read(spark: SparkSession): DataFrame }

object Sources {

  /** Jet `TestSources.items` (pipeline/test/TestSources.java:55). */
  def items[T: Encoder](xs: Seq[T]): BatchSource[T] = new BatchSource[T] {
    def read(spark: SparkSession): Dataset[T] = spark.createDataset(xs)
  }

  /** Jet `Sources.list` (Sources.java:886): bounded scan of a named in-memory
    * list — here backed by the KeyedStore catalog (see `KeyedStore`).
    */
  def list(name: String): BatchSource[Row] = new BatchSource[Row] {
    def read(spark: SparkSession): Dataset[Row] = KeyedStore.get(spark, name)
  }

  /** Jet `Sources.map` (Sources.java:172): bounded scan of a named KV store,
    * with optional predicate/projection pushdown — expressed as filter/select
    * on the cached view, which Catalyst prunes before the scan.
    */
  def map(name: String): BatchSource[Row] = new BatchSource[Row] {
    def read(spark: SparkSession): Dataset[Row] = KeyedStore.get(spark, name)
  }

  /** Jet `Sources.cache` (Sources.java:303) / `remoteCache`
    * (Sources.java:344): same columnar scan — remoteness is a deployment
    * property (the store address), not an operator.
    */
  def cache(name: String): BatchSource[Row] = map(name)
  def remoteCache(name: String): BatchSource[Row] = map(name)
  def remoteList(name: String): BatchSource[Row] = new BatchSource[Row] {
    def read(spark: SparkSession): Dataset[Row] = KeyedStore.get(spark, name)
  }

  /** Jet `Sources.mapJournal` (Sources.java:412): a store's change journal
    * as an UNBOUNDED stream of change records. `startFromOldest` maps Jet's
    * `JournalInitialPosition`: START_FROM_OLDEST = a SYNC snapshot of the
    * current contents followed by changes; START_FROM_CURRENT (default) =
    * changes only. Backed by [[KeyedStore.journal]] (per-subscriber
    * journal dirs consumed as a file stream — MapJournalSpec, gate q138/q140
    * family).
    */
  def mapJournal(name: String, startFromOldest: Boolean = false): StreamSource =
    new StreamSource {
      def read(spark: SparkSession): DataFrame =
        KeyedStore.journal(spark, name, startFromOldest)
    }

  /** Jet `Sources.batchFromProcessor` (Sources.java:126) — the custom-source
    * escape hatch. The Spark analog of "supply your own processors" is
    * "supply your own plan": any Dataset-producing function becomes a
    * first-class source (the DSv2 connector API is the heavier equivalent,
    * see graft.streaming.KafkaShapedSource for a full example).
    */
  def batchFromProcessor[T](readFn: SparkSession => Dataset[T]): BatchSource[T] =
    new BatchSource[T] { def read(spark: SparkSession): Dataset[T] = readFn(spark) }

  /** Jet `Sources.streamFromProcessor` (Sources.java:151). */
  def streamFromProcessor(readFn: SparkSession => DataFrame): StreamSource =
    new StreamSource { def read(spark: SparkSession): DataFrame = readFn(spark) }

  /** Jet `Sources.streamFromProcessorWithWatermarks` (Sources.java:103):
    * the source declares its own event-time policy — here the watermark is
    * attached to the produced stream directly.
    */
  def streamFromProcessorWithWatermarks(tsCol: String, delay: String)(
      readFn: SparkSession => DataFrame): StreamSource =
    new StreamSource {
      def read(spark: SparkSession): DataFrame =
        readFn(spark).withWatermark(tsCol, delay)
    }

  /** Unified file source (FileSources.files, pipeline/file/FileSources.java:66):
    * format in {parquet, csv, json, text, avro, binaryFile}; options passthrough.
    */
  def files(path: String, format: String = "text",
            options: Map[String, String] = Map.empty): BatchSource[Row] =
    new BatchSource[Row] {
      def read(spark: SparkSession): Dataset[Row] =
        spark.read.options(options).format(format).load(path)
    }

  def parquet(path: String): BatchSource[Row] = files(path, "parquet")
  def csv(path: String, header: Boolean = true): BatchSource[Row] =
    files(path, "csv", Map("header" -> header.toString, "inferSchema" -> "true"))
  def json(path: String): BatchSource[Row] = files(path, "json")
  def text(path: String): BatchSource[Row] = files(path, "text")

  /** Jet `HadoopSources.inputFormat` (extensions/hadoop/.../HadoopSources
    * .java:82): read any Hadoop `InputFormat` with a (key, value) projection.
    * Spark carries the full Hadoop client, so this is the real thing — splits
    * become partitions, locality preserved — not a format-string passthrough.
    * The projection runs per record before the rows reach the DataFrame
    * (Jet's `projectionFn`), so only projected data is ever shuffled.
    */
  def hadoopInputFormat[K, V, T: Encoder: scala.reflect.ClassTag](
      path: String,
      inputFormat: Class[_ <: org.apache.hadoop.mapreduce.InputFormat[K, V]],
      keyClass: Class[K], valueClass: Class[V])(
      projection: (K, V) => T): BatchSource[T] = new BatchSource[T] {
    def read(spark: SparkSession): Dataset[T] = {
      val proj = projection
      spark.createDataset(
        spark.sparkContext.newAPIHadoopFile(path, inputFormat, keyClass, valueClass)
          .map { case (k, v) => proj(k, v) })
    }
  }

  /** Jet `Sources.jdbc` (Sources.java:1321) → `spark.read.jdbc`. Tested against
    * embedded Derby (JdbcSpec); any DriverManager-visible driver works.
    */
  def jdbc(url: String, table: String, props: java.util.Properties): BatchSource[Row] =
    new BatchSource[Row] {
      def read(spark: SparkSession): Dataset[Row] = spark.read.jdbc(url, table, props)
    }

  /** Jet `Sources.jdbc` parallel form (Sources.java:1285: the `newConnectionFn`
    * + `(parallelism, index)` range-splitting contract) → Spark's partitioned
    * JDBC scan: `numPartitions` concurrent connections, each reading one
    * `[lower, upper)` stride of `partitionColumn`. This is the shape that
    * matters at scale — a single-connection read of a big table serializes the
    * whole extract through one task.
    */
  def jdbc(url: String, table: String, props: java.util.Properties,
           partitionColumn: String, lowerBound: Long, upperBound: Long,
           numPartitions: Int): BatchSource[Row] =
    new BatchSource[Row] {
      def read(spark: SparkSession): Dataset[Row] =
        spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
          numPartitions, props)
    }

  /** Jet `Sources.jdbc(url, query, outputFn)` (Sources.java:1321) — arbitrary
    * SQL pushed to the database, result streamed back as rows.
    */
  def jdbcQuery(url: String, query: String, props: java.util.Properties): BatchSource[Row] =
    new BatchSource[Row] {
      def read(spark: SparkSession): Dataset[Row] = {
        val reader = spark.read.format("jdbc")
          .option("url", url).option("query", query)
        props.stringPropertyNames().forEach(k => reader.option(k, props.getProperty(k)))
        reader.load()
      }
    }

  /** Jet `SourceBuilder.batch` (pipeline/SourceBuilder.java:118): a custom
    * bounded source from create/fill/destroy callbacks, distributed over
    * `parallelism` tasks. Each task builds its own context from its index
    * (Jet's `Processor.Context.globalProcessorIndex`), drains `fill` until it
    * returns None, then destroys — the connection-per-task custom connector
    * shape, running as a plain `mapPartitions` over a task-index range.
    */
  def build[S, T: Encoder](parallelism: Int = 1)(
      create: Int => S)(
      fill: S => Option[Seq[T]])(
      destroy: S => Unit = (_: S) => ()): BatchSource[T] = new BatchSource[T] {
    def read(spark: SparkSession): Dataset[T] = {
      // locals: the task closure must capture the callbacks, not this source
      val (mkCtx, fillFn, destroyFn) = (create, fill, destroy)
      spark.range(parallelism.toLong).repartition(parallelism)
        .mapPartitions { idxs =>
          idxs.flatMap { idx =>
            val ctx = mkCtx(idx.toInt)
            var open = true
            // destroy exactly once, even when the partition iterator is never
            // drained (downstream limit/take, task failure): the completion
            // listener fires at task end regardless — the same lifecycle seam
            // ServiceFactories-backed stages use
            val destroyOnce: () => Unit =
              () => if (open) { open = false; destroyFn(ctx) }
            Option(org.apache.spark.TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit](_ => destroyOnce()))
            new Iterator[Seq[T]] {
              private var nextBuf: Option[Seq[T]] = None
              private def advance(): Unit =
                if (open && nextBuf.isEmpty) {
                  nextBuf = fillFn(ctx)
                  if (nextBuf.isEmpty) destroyOnce()
                }
              def hasNext: Boolean = { advance(); nextBuf.isDefined }
              def next(): Seq[T] = { advance(); val b = nextBuf.get; nextBuf = None; b }
            }.flatten
          }
        }
    }
  }

  /** A running custom unbounded source (see [[Sources.buildStream]]): `df` is
    * the streaming frame to attach a query to; `stop()` halts the pump and
    * runs the builder's destroy callback exactly once.
    */
  final class BuiltStream private[pipeline] (
      val df: DataFrame, stopFn: () => Unit) {
    def stop(): Unit = stopFn()
  }

  /** Jet `SourceBuilder.stream` (SourceBuilder.java:236): a custom UNBOUNDED
    * source from create/fill/destroy callbacks. The reference runs the
    * callbacks on one processor; here a pump thread drains `fill` into a
    * memory-backed streaming source feeding a standard Structured Streaming
    * query — same single-drainer semantics. `fill` returning None means
    * "nothing available now" (the pump sleeps `pollMillis` and retries until
    * `stop()`); `destroy` runs exactly once on stop or pump death. Delivery
    * is at-least-once and non-replayable across driver restarts — exactly the
    * guarantee the reference gives a custom source without snapshot support
    * (SourceBuilder docs). Fault-tolerant custom sources should instead land
    * data in files and use [[fileWatcher]], whose offsets checkpoint.
    */
  def buildStream[S, T: Encoder](pollMillis: Long = 10)(
      create: () => S)(
      fill: S => Option[Seq[T]])(
      destroy: S => Unit = (_: S) => ()): SparkSession => BuiltStream =
    spark => {
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
      val ctx = create()
      val open = new java.util.concurrent.atomic.AtomicBoolean(true)
      val destroyOnce: () => Unit =
        () => if (open.compareAndSet(true, false)) destroy(ctx)
      val pump = new Thread(() => {
        try {
          while (!Thread.currentThread().isInterrupted)
            fill(ctx) match {
              case Some(batch) => if (batch.nonEmpty) mem.addData(batch)
              case None => Thread.sleep(pollMillis)
            }
        } catch { case _: InterruptedException => } finally destroyOnce()
      }, "graft-source-pump")
      pump.setDaemon(true)
      pump.start()
      new BuiltStream(mem.toDF(),
        () => { pump.interrupt(); pump.join(5000); destroyOnce() })
    }

  /** Jet `SourceBuilder.timestampedStream` (SourceBuilder.java:342): the
    * custom unbounded source with event time attached at the source — the
    * pump stamps each item via `timestampFn` (epoch millis), so the stream
    * carries an `item` column plus a `timestamp` column ready for
    * `withWatermark`.
    */
  def buildTimestampedStream[S, T](pollMillis: Long = 10)(
      create: () => S)(
      fill: S => Option[Seq[T]])(
      timestampFn: T => Long,
      destroy: S => Unit = (_: S) => ())(
      implicit te: Encoder[(T, java.sql.Timestamp)]): SparkSession => BuiltStream =
    spark => {
      val built = buildStream[S, (T, java.sql.Timestamp)](pollMillis)(create)(
        s => fill(s).map(_.map(t =>
          (t, new java.sql.Timestamp(timestampFn(t))))))(destroy)(te)(spark)
      new BuiltStream(built.df.toDF("item", "timestamp"), () => built.stop())
    }

  /** SQL `TABLE(GENERATE_SERIES(a,b))` (JetSqlOperatorTable.java:84). */
  def generateSeries(from: Long, to: Long): BatchSource[java.lang.Long] =
    new BatchSource[java.lang.Long] {
      def read(spark: SparkSession): Dataset[java.lang.Long] =
        spark.range(from, to + 1).as[java.lang.Long](
          org.apache.spark.sql.Encoders.LONG)
    }

  // ------------------------------------------------------------- streaming

  /** Jet `Sources.socket` (Sources.java:950) → socket source (exact match). */
  def socket(host: String, port: Int): StreamSource = new StreamSource {
    def read(spark: SparkSession): DataFrame =
      spark.readStream.format("socket")
        .option("host", host).option("port", port.toString).load()
  }

  /** Jet `Sources.fileWatcher` (Sources.java:1073) → file-stream source: watch a
    * directory, stream new files' records. Streaming file sources require an
    * explicit schema for every format except text; pass `schema`. As a dev-only
    * fallback, when no schema is given the files present at start are sampled
    * via one batch read and the result declared as the stream schema (no
    * session flag is touched). That fallback needs at least one file present —
    * the typical production deployment (watch an empty dir, files arrive
    * later) must pass `schema` explicitly, and gets a clear error otherwise.
    */
  def fileWatcher(dir: String, format: String = "text",
                  schema: Option[org.apache.spark.sql.types.StructType] = None,
                  options: Map[String, String] = Map.empty): StreamSource =
    new StreamSource {
      def read(spark: SparkSession): DataFrame = {
        val r = spark.readStream.options(options).format(format)
        (schema, format) match {
          case (Some(s), _) => r.schema(s).load(dir)
          case (None, "text") => r.load(dir)
          case (None, _) =>
            // infer via a BATCH read of the files present at start and declare
            // the result as the stream schema — no session flag is touched, so
            // concurrent streaming reads keep Spark's fail-fast schema
            // requirement (a scoped conf toggle would race across threads)
            val inferred =
              try spark.read.options(options)
                .option("inferSchema", "true").format(format).load(dir).schema
              catch {
                case e: org.apache.spark.sql.AnalysisException =>
                  throw new IllegalArgumentException(
                    s"fileWatcher($dir, $format): no schema given and none could be " +
                      "inferred (is the directory empty?). Watching a directory that " +
                      "fills later requires an explicit `schema` parameter.", e)
              }
            r.schema(inferred).load(dir)
        }
      }
    }

  /** Jet `Sources.jsonWatcher` (Sources.java:1030-1115): streaming JSON-lines
    * watcher with a declared schema (the reference derives it from the target
    * class; here it is the Spark schema directly).
    */
  def jsonWatcher(dir: String, schema: org.apache.spark.sql.types.StructType,
                  options: Map[String, String] = Map.empty): StreamSource =
    fileWatcher(dir, "json", Some(schema), options)

  /** Jet `KafkaSources.kafka` (extensions/kafka) → kafka source, 1:1 surface.
    * Requires the kafka connector jars at runtime.
    */
  def kafka(bootstrap: String, topics: String,
            options: Map[String, String] = Map.empty): StreamSource =
    new StreamSource {
      def read(spark: SparkSession): DataFrame =
        spark.readStream.format("kafka")
          .option("kafka.bootstrap.servers", bootstrap)
          .option("subscribe", topics)
          .options(options).load()
    }
}

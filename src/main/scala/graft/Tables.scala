package graft

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, TimestampNTZType, TimestampType}

/** Loader for the driver TESTDATA tables (TPC-H-ish star schema + events/documents/
  * embeddings). See /root/repo/TESTDATA.md and FIXTURES.md.
  *
  * Jet analog: `Sources.files`/`FileSources.files` with `ParquetFileFormat`
  * (reference: hazelcast-jet-core/src/main/java/com/hazelcast/jet/pipeline/file/
  * FileSources.java:66) — in Spark this is just `spark.read.parquet`, which already
  * gives vectorized columnar scans, predicate pushdown, and column pruning.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table; normalizes timestamp physical types so downstream event-time
    * code always sees a proper TIMESTAMP (instant) column:
    *   - `events.ts` written as a nano long (read via
    *     `spark.sql.legacy.parquet.nanosAsLong`) → microsecond TIMESTAMP
    *     (`ts div 1000` is exact; the fixture data is whole-microsecond);
    *   - any TIMESTAMP_NTZ column (parquet `timestamp[us]` with no timezone,
    *     which Spark 4 reads as NTZ when inference is on) → TIMESTAMP. The
    *     session timezone is UTC (enforced below), so the cast re-labels the
    *     same wall-clock values as UTC instants — exactly how the DuckDB
    *     oracle reads the naive column. Watermarks, window(), and unix_micros
    *     all require TIMESTAMP, not NTZ. Top-level columns only by design: the
    *     fixtures are flat, and event-time code reads top-level columns. Under
    *     a GraftSession-tuned session this branch is a no-op belt-and-braces
    *     (tune() disables parquet NTZ inference engine-wide).
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // the NTZ→TIMESTAMP relabeling below is only correct when the session
    // timezone is the oracle's (UTC); fail loudly rather than silently shift
    // every event time for a caller with an untuned non-UTC session
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "Tables requires spark.sql.session.timeZone=UTC (use GraftSession.tune): " +
        "naive-timestamp columns are labeled as UTC instants to match the oracle")
    val df0 = readParquet(spark, spark.read, s"$dir/$name.parquet")
    val df =
      if (name == "events" && df0.schema("ts").dataType == LongType)
        df0.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else df0
    df.schema.collect { case StructField(n, TimestampNTZType, _, _) => n }
      .foldLeft(df)((d, n) => d.withColumn(n, col(n).cast(TimestampType)))
  }

  /** `reader.parquet(path)` without Spark's schema-inference job when `path`
    * is one parquet file: the schema comes off its footer on the driver
    * (Bridge.parquetFileSchema), where inference runs a one-task job to read
    * that same footer. A directory keeps Spark's inference.
    */
  def readParquet(spark: SparkSession, reader: DataFrameReader, path: String): DataFrame =
    org.apache.spark.sql.graftops.Bridge.parquetFileSchema(spark, path)
      .fold(reader)(reader.schema(_)).parquet(path)

  /** Fan a CPU-dense pass out of an under-parallel scan (r20; guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately after
    * the read"). The gate fixtures are ONE parquet file with ONE row group
    * per table, so every scan stage — and with it the whole
    * tokenize/hash/explode pass fused into it — runs as a SINGLE task no
    * matter the core count (measured: q108's two corpus passes were two
    * 1-task jobs of 1.5–2 s each on an idle 32-core box; `maxPartitionBytes`
    * cannot split one row group). A round-robin repartition to the session's
    * default parallelism moves the heavy row-local work onto every core.
    *
    * SCALE-ADAPTIVE, not a local[32] constant: the guard is the measured
    * scan parallelism — when the input already yields at least half the
    * session's default parallelism in scan partitions (any production
    * layout: many files / many row groups), this is a NO-OP and no exchange
    * is added. The exchange, when taken, carries each input byte once —
    * bounded by the scan itself — and only where callers know the next pass
    * is CPU-bound per row (the tokenize/hash family), never blanket.
    * The split count comes off the physical plan's file scans, so the probe
    * runs no job even when `df` holds an exchange; a frame with no file scan
    * is returned unchanged.
    */
  def fanOutScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    org.apache.spark.sql.graftops.Bridge.scanPartitions(df) match {
      case Some(cur) if cur * 2 <= target => df.repartition(target)
      case _ => df
    }
  }
}

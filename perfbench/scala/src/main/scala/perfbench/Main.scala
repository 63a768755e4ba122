package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to `run.py`: raw samples and counts,
  * plus the trace's per-layer figures when tracing. Statistics (medians,
  * percentiles) are computed on the Python side.
  */
final class Result {
  val values = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def fail(what: String): Unit = { failed += 1; failures += what }
}

/** Everything a workload needs: arguments, the session, the op clock and,
  * in a traced run, the trace.
  */
final class Ctx(val args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args.getOrElse("trace", "0") == "1"
  val data: String = args("data")
  val out: Path = Paths.get(args("out"))
  val cpus: Int = args.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
  val clock = new OpClock
  val trace: Option[Trace] = if (traced) Some(new Trace(clock)) else None
  val result = new Result
  var spark: SparkSession = _

  def now: Double = System.currentTimeMillis().toDouble

  /** Time `body` as one operation span under the workload span. */
  def op[A](parent: Long, name: String)(body: => A): A = {
    val t0 = now
    val n0 = System.nanoTime()
    val a = body
    clock.record(parent, "operation", name, t0, t0 + (System.nanoTime() - n0) / 1e6)
    a
  }
}

object Main {

  /** A session at local[cpus] through the engine's own tuning, with shuffle
    * partitions from the same count and every temporary file kept under the
    * run's work directory.
    */
  def session(ctx: Ctx, cpus: Int): SparkSession = {
    val tmp = ctx.out.resolve("spark")
    Files.createDirectories(tmp)
    val s = graft.GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]").appName(s"perfbench-${ctx.workload}")
        .config("spark.local.dir", tmp.resolve("local").toString)
        .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
        .config("spark.sql.streaming.checkpointLocation", tmp.resolve("ckpt").toString),
      shufflePartitions = cpus).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The flagship query, materialised once: the warm-up every workload's
    * set-up ends with.
    */
  def warmUp(spark: SparkSession, data: String): Unit =
    graft.queries.QueryRegistry.flagship(spark, data).write.format("noop").mode("overwrite").save()

  /** Set up `rounds` times (session, warm-up, workload fixtures) and keep
    * the last session. Every round but the last is torn down again
    * (`teardown`, then the session stops); the first round's time also
    * includes JVM start.
    */
  def setUp(ctx: Ctx, rounds: Int, teardown: SparkSession => Unit = _ => ())(
      extra: SparkSession => Unit): Seq[Double] = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (1 to rounds).map { i =>
      val t0 = if (i == 1) jvmStart.toDouble else ctx.now
      if (ctx.spark != null) {
        teardown(ctx.spark)
        ctx.spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      ctx.spark = session(ctx, ctx.cpus)
      warmUp(ctx.spark, ctx.data)
      extra(ctx.spark)
      (ctx.now - t0) / 1e3
    }
  }

  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def loadAvg: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .getSystemLoadAverage

  def main(argv: Array[String]): Unit = {
    val ctx = new Ctx(parseArgs(argv))
    Files.createDirectories(ctx.out)
    val r = ctx.result
    r.values("nproc") = Runtime.getRuntime.availableProcessors
    r.values("cpus") = ctx.cpus
    r.values("load_avg_start") = loadAvg
    r.values("heap_max_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
    val t0 = ctx.now
    try ctx.workload match {
      case "gate_suite" => Gate.run(ctx)
      case "stream_q5_open" => StreamQ5.run(ctx)
      case "sql_mix" => SqlMix.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.fail(s"workload aborted: $e")
    }
    r.values("load_avg_end") = loadAvg
    r.values("run_s") = (ctx.now - t0) / 1e3
    ctx.trace.foreach { t =>
      r.values("spans") = t.writeSpans(ctx.out.resolve("spans.jsonl"))
    }
    r.values("attempted") = r.attempted
    r.values("failed") = r.failed
    r.values("failures") = r.failures.take(50).toSeq
    r.values("layers") = r.layers
    Files.writeString(ctx.out.resolve("result.json"), Json.write(r.values))
    if (ctx.spark != null) ctx.spark.stop()
    // non-daemon threads of finished stream jobs must not keep the JVM alive
    System.exit(0)
  }
}

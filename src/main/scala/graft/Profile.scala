package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.trace.QueryTrace

/** Per-query diagnostics: each named query runs once cold and then `--reps`
  * times warm in one bench-shaped session, and every run prints one JSON line
  * with its [[QueryTrace]] record — jobs, stages and tasks, task run and CPU
  * time, summed job wall time (wall minus job time is driver-side latency:
  * per-job scheduling, catalog work, micro-batch commits), input and shuffle
  * bytes, Janino compiles and their time (`codegen_compiles`,
  * `codegen_compile_ms`: a warm rerun of an unchanged query compiles 0),
  * per-stage task-duration median/max and shuffle-read max, each
  * micro-batch's `durationMs` and state-operator rows and commit time, and
  * the skew verdict ([[QueryTrace.Snapshot.skew]]). With `--reps` a last line
  * per query carries the best and mean warm time: A/B a single query's change
  * with that, never with two full Bench runs, whose cold numbers carry JVM
  * warm-up and run-position effects bigger than most plan deltas.
  *
  * `--plans DIR TAG` also writes `DIR/<query>_<TAG>.txt`, the
  * `explain(formatted)` of a fresh frame that is never executed (the plan
  * `Plans.fingerprint` hashes), after the query's runs so the cold run stays
  * cold. Queries that drive streams or compose on the driver have no single
  * batch plan; theirs is the plan of the result frame.
  *
  * A name is a registry key or a prefix of exactly one; an ambiguous prefix
  * fails and lists its candidates.
  *
  * Usage: [SPARK_GRAFT_SF_DIR=...] sbt "runMain graft.Profile [--reps N] [--plans DIR TAG] q1,q2,..."
  */
object Profile {

  type Query = (SparkSession, String) => DataFrame

  final case class Options(reps: Int = 0, plans: Option[(String, String)] = None,
                           names: Seq[String] = Nil)

  private val Usage = "usage: Profile [--reps N] [--plans DIR TAG] q1,q2,..."

  def parse(args: Seq[String]): Options = args match {
    case "--reps" +: n +: rest =>
      val reps = n.toIntOption.filter(_ >= 0)
        .getOrElse(throw new IllegalArgumentException(s"--reps takes a count, got '$n'"))
      parse(rest).copy(reps = reps)
    case "--plans" +: dir +: tag +: rest => parse(rest).copy(plans = Some((dir, tag)))
    case Seq(list) if !list.startsWith("--") && list.split(',').exists(_.trim.nonEmpty) =>
      Options(names = list.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    case _ => throw new IllegalArgumentException(Usage)
  }

  def resolve(registry: Map[String, Query], names: Seq[String]): Seq[(String, Query)] =
    names.map { n =>
      registry.get(n).map(n -> _).getOrElse {
        registry.keys.filter(_.startsWith(n)).toSeq.sorted match {
          case Seq(one) => one -> registry(one)
          case Seq() => throw new IllegalArgumentException(s"no query named or starting with '$n'")
          case many => throw new IllegalArgumentException(
            s"'$n' is ambiguous; candidates: ${many.mkString(", ")}")
        }
      }
    }

  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
          opts: Options, out: String => Unit): Unit = {
    val trace = QueryTrace.install(spark)
    try queries.foreach { case (name, fn) =>
      val walls = (0 to opts.reps).map { i =>
        trace.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val record = trace.snapshot()
        Bench.isolate(spark)
        val run = if (i == 0) "cold" else s"warm$i"
        out(s"""{"query":"$name","run":"$run","wall_s":$wall,${record.jsonFields}}""")
        wall
      }
      if (opts.reps > 0) {
        val warm = walls.tail
        out(s"""{"query":"$name","reps":${opts.reps},"warm_best_s":${warm.min},""" +
          s""""warm_mean_s":${warm.sum / warm.size}}""")
      }
      opts.plans.foreach { case (dir, tag) =>
        val path = Paths.get(dir, s"${name}_$tag.txt")
        Files.createDirectories(path.getParent)
        val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.writeString(path, s"# $name ($tag) — explain(formatted) at $sfDir\n$plan")
        Bench.isolate(spark)
      }
    } finally trace.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toSeq)
    val queries = resolve(SparkEntry.queries, opts.names)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-profile")
    try {
      Bench.warmup(spark, sfDir)
      run(spark, sfDir, queries, opts, println)
    } finally spark.stop()
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** `gate_suite`: a fixed, family-stratified slice of `SparkEntry.queries`,
  * each query run cold and once, in a fixed order, and materialised through
  * a `noop` write. Closed loop, one client. Each query's output is written to
  * parquet after the whole slice has run (and the trace has stopped), so
  * `run.py` can check it against the query's DuckDB oracle.
  */
object Gate {

  /** Query family per module, standing in for the layers that cannot be
    * timed from outside one by one: dag → core, text/corpus/curation →
    * functions, embedding → operators, streaming/nexmark → streaming.
    */
  lazy val families: Map[String, String] = {
    import graft.queries._
    Seq("tpch" -> TpchQueries.entries, "event" -> EventQueries.entries,
      "text" -> TextQueries.entries, "embedding" -> EmbeddingQueries.entries,
      "multimodal" -> MultimodalQueries.entries, "streaming" -> StreamingQueries.entries,
      "sql" -> SqlQueries.entries, "corpus" -> CorpusQueries.entries,
      "curation" -> CurationQueries.entries, "nexmark" -> NexmarkQueries.entries,
      "dag" -> DagQueries.entries)
      .flatMap { case (f, m) => m.keys.map(_ -> f) }.toMap
  }

  /** The gate's stream-replay queries (they start a streaming query over a
    * fixture replay and return its bounded result).
    */
  def isStream(name: String): Boolean =
    name.contains("stream") || name == "q173_rescale_snapshot"

  /** The benchmark's slice, run in this order: one to two queries from
    * every family (20), two of them stream replays, chosen so the slice
    * runs in about twenty seconds at local[4] and every oracle checks in
    * DuckDB within a second. The flagship (q01) is left out: set-up runs it
    * warm.
    *
    * The order is fixed, not seeded: the first query of a kind pays the
    * cold cost its kind shares (measured: q30_wordcount took 0.5 s after
    * another text query and 2.8 s before one), so a seeded order moved the
    * median query wall by 24% between seeds.
    */
  val slice: Seq[String] = Seq(
    "q02_filter_project", "q04_join_broadcast",
    "q20_tumbling_window", "q21_sliding_window",
    "q30_wordcount", "q34_fingerprint",
    "q40_cosine_topk", "q44_ann_ivf_topk",
    "q45_multimodal_decode",
    "q52_stream_rolling_final",
    "q60_sql_mapping", "q62_sql_sink_into",
    "q82_sentence_dedup", "q88_length_quantiles",
    "q97_token_budget", "q101_shard_assign",
    "q143_nexmark_filter", "q152_stream_nexmark_users",
    "q170_dag_wordcount", "q174_dag_event_time")

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    val all = graft.SparkEntry.queries
    r.values("setup_s") = Main.setUp(ctx, 3)(_ => ())
    val spark = ctx.spark
    ctx.trace.foreach(_.install(spark))
    val outDir = ctx.out.resolve("gate")
    val root = ctx.clock.nextId()
    val wl0 = ctx.now
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val results = mutable.ArrayBuffer.empty[(String, DataFrame)]
    val windows = mutable.ArrayBuffer.empty[(String, Double, Double)]
    slice.foreach { name =>
      r.attempted += 1
      val t0 = ctx.now
      val n0 = System.nanoTime()
      var build = Double.NaN
      var ok = true
      var df: DataFrame = null
      try {
        df = all(name)(spark, ctx.data)
        build = (System.nanoTime() - n0) / 1e6
        df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        ok = false
        r.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      val wall = (System.nanoTime() - n0) / 1e6
      ctx.clock.record(root, "operation", name, t0, t0 + wall)
      windows += ((name, t0, t0 + wall))
      if (ok) results += ((name, df))
      rows += Map("name" -> name, "family" -> families.getOrElse(name, "other"),
        "stream" -> isStream(name), "ok" -> ok, "wall_ms" -> wall,
        "build_ms" -> build, "materialize_ms" -> (wall - build))
    }
    ctx.clock.record(0, "workload", "gate_suite", wl0, ctx.now, id = root)
    r.values("oracles") = slice.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    ctx.trace.foreach { t =>
      t.uninstall(spark)
      r.layers ++= t.summary(windows.map(w => (w._2, w._3)).toSeq)
      // per-query action counts: SQL executions that ran inside the query's wall
      r.values("actions_per_query") = windows.map { case (n, a, b) =>
        n -> t.actions.values.count(x => x.start >= a - 1 && x.end <= b + 1)
      }.toMap
    }
    // outside the timed region and the trace: each result for its oracle check
    val unwritten = results.flatMap { case (name, df) =>
      try { df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(name).toString); None }
      catch { case e: Throwable =>
        r.fail(s"$name: output write failed: ${e.getMessage}".take(300))
        Some(name)
      }
    }.toSet
    r.values("queries") = rows.toSeq.map(q =>
      if (unwritten(q("name").toString)) q.updated("ok", false) else q)
  }
}

package graft

import graft.core.{AggregateOp, DAG, DagExecutor, Edge, Processors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-trend harness: the 100× story needs at least one measured 10× point.
  *
  * Generates a `factor`× replica of an sf dir (default: sf0.1 → "sf1", 6M
  * lineitem) with keys shifted so join/window/dedup cardinalities scale the
  * way real data growth would — NOT naive row duplication, which would turn
  * every duplicated doc/vector into a pathological near-duplicate cluster and
  * measure the fixture, not the engine:
  *   - fact keys (orderkey, event_id, doc_id, vec_id) offset per copy;
  *   - events shifted forward 370 days per copy (new windows, not denser ones);
  *   - document tokens suffixed per copy (new shingles → cross-copy docs are
  *     NOT near-duplicates; per-copy dup rate stays the fixture's);
  *   - embeddings rotated per copy (decorrelates vectors, preserves norms);
  *   - dimensions (region…part) kept fixed, as dimensions are.
  *
  * Then times headline queries at 1× and `factor`× and prints per-query growth
  * (flagging anything super-linear beyond 1.5× the data growth).
  *
  * Default-form rows (r17, VERDICT r16 task 1): q39/q81/q134 are measured
  * through their DEFAULT parameterless APIs — the lever (planes / k / docMod)
  * is derived from corpus statistics inside the query — NOT the oracle-pinned
  * fixed forms the registry gates carry. At the 1× base the derived lever
  * equals the pinned one (the sizing rules are calibrated on the sf0.1
  * fixture), so 1× times stay method-equal with prior rounds; the N× side is
  * where the forms diverge (auto-grown lever vs r16's measured quadratics).
  * The artifact records which rows ran default forms (`default_forms`).
  *
  * Outlier auto-adjudication (r16, VERDICT r15 item 4): two consecutive
  * rounds the same battery row (q164) needed a MANUAL isolation re-measure —
  * its battery-position growth read 20× while the isolated truth was 4.4×
  * (GC debt from the preceding q161 scan). Now, when
  * `SPARK_GRAFT_SCALETREND_PRIOR` points at the previous round's artifact,
  * any row whose growth ratio exceeds [[OutlierK]]× its previous-round ratio
  * is automatically re-measured in isolation (fresh GC + settle, same
  * best-of-2-warm base method) at the end of the battery, and the artifact
  * records BOTH numbers (`ratio_battery`, `ratio_isolated`) so no manual
  * adjudication paragraph is needed.
  *
  * Usage: runMain graft.ScaleTrend [srcDir] [outDir] [factor]
  */
object ScaleTrend {

  /** A battery ratio this far above the prior round's ratio for the same row
    * triggers the end-of-battery isolation re-measure. */
  val OutlierK = 2.5

  /** Prior-round growth ratios from an artifact's text, for the outlier
    * trigger. A prior ratio is only comparable at the SAME factor: composite
    * artifacts carry several rungs, so the parse is scoped to the segment
    * following `"factor":<factor>` (flat single-rung artifacts have exactly
    * one segment and parse whole; None when the artifact has no such rung).
    * Prior outliers' ISOLATED ratios override their battery numbers: a row
    * whose prior ratio is itself battery noise (the q164 case — 20.2×
    * battery vs 4.4× isolated in r15) would otherwise carry its inflation
    * forward and mute the OutlierK trigger forever.
    */
  private[graft] def parsePriorRatios(txt: String, factor: Int): Option[Map[String, Double]] = {
    // composite artifacts wrap the rungs in a `"rungs":[...]` array; scope
    // the whole scan to that array so top-level keys AFTER it can never leak
    // into the LAST rung's segment (ADVICE r16 — bracket-match the array;
    // flat single-rung artifacts have no "rungs" key and scan whole)
    val scanTxt = {
      val start = txt.indexOf("\"rungs\"")
      val open = if (start < 0) -1 else txt.indexOf('[', start)
      if (open < 0) txt
      else {
        var depth = 0
        var i = open
        var end = txt.length
        var found = false
        while (i < txt.length && !found) {
          txt.charAt(i) match {
            case '[' => depth += 1
            case ']' => depth -= 1; if (depth == 0) { end = i; found = true }
            case _ =>
          }
          i += 1
        }
        txt.substring(open, end)
      }
    }
    // whitespace-tolerant segmentation: python's json.dump writes
    // `"factor": 10` with a space (caught by driving the parser against the
    // real r16 composite), so anchor on a regex and slice between matches
    val factorRe = """"factor":\s*(\d+)""".r
    val marks = factorRe.findAllMatchIn(scanTxt).toList
    val segment = marks.zipWithIndex.collectFirst {
      case (m, i) if m.group(1).toInt == factor =>
        val end = if (i + 1 < marks.size) marks(i + 1).start else scanTxt.length
        scanTxt.substring(m.end, end)
    }
    val re = """"(q[\w]+)":\s*\[\s*([-\d.Ee]+)\s*,\s*([-\d.Ee]+)\s*\]""".r
    val isoRe =
      (""""(q[\w]+)":\s*\{\s*"ratio_battery":\s*[-\d.Ee]+\s*,\s*""" +
        """"ratio_isolated":\s*([-\d.Ee]+)""").r
    segment.map { seg =>
      val battery = re.findAllMatchIn(seg).flatMap { m =>
        val (a, b) = (m.group(2).toDouble, m.group(3).toDouble)
        if (a > 0 && b > 0) Some(m.group(1) -> b / a) else None
      }.toMap
      // a refused isolation (-1 marker) must not override the battery ratio:
      // a negative prior would make the OutlierK trigger fire unconditionally
      val isolated = isoRe.findAllMatchIn(seg)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter(_._2 > 0).toMap
      battery ++ isolated
    }
  }

  private val trendQueries = Seq(
    "q01_pricing_summary", "q05_join_multiway", "q07_sort_limit",
    "q18_semi_anti", "q20_tumbling_window", "q22_sessionize",
    "q29_tfidf", "q36_dedup_minhash_lsh", "q38_ngram_jaccard",
    "q41_lsh_buckets", "q47_dedup_clusters", "q48_training_corpus",
    "q65_kmeans_ivf", "q72_pack_sequences",
    "q74_ann_recall", "q76_sliding_panes", "q77_stream_join",
    "q78_boilerplate", "q79_repeated_spans",
    // round-4 continuation batch: sentence dedup, heavy hitters, unigram LM,
    // cross-corpus near-dup, streaming dedup, contamination report
    "q82_sentence_dedup", "q83_heavy_hitters", "q84_unigram_logprob",
    "q86_cross_corpus_dedup", "q87_stream_dedup", "q89_contamination_frac",
    "q90_bloom_decontaminate", "q91_stream_window_topk", "q92_source_entropy",
    // round-5 batches: containment pairs, curation/selection, bigram LM,
    // source overlap matrix — the ops whose scale story is newest
    "q93_containment", "q97_token_budget", "q98_chunking", "q99_bm25_topk",
    "q101_shard_assign", "q102_adaptive_quality", "q103_bigram_logprob",
    "q105_source_ngram_overlap", "q106_contrastive_pairs",
    // round-7 batch: span excision, NB classifier, PQ/IVFADC fits, mixture
    // draw, length batching — fits and tokenize-heavy ops, the newest scale
    // stories
    "q107_span_excision", "q108_nb_classifier", "q109_pq_ann",
    "q110_mixture_sample", "q111_length_batches", "q112_ivfadc",
    "q114_stream_ingest_dedup", "q115_gopher_rules", "q116_image_phash",
    "q117_bpe_merges", "q118_audio_decode",
    // round-7 continuation-2 batch: tokenizer encode, learned selection,
    // collocations/Zipf diagnostics, hybrid/bitext retrieval, split/
    // curriculum manifests, funnel, graph centrality, skew audit
    "q119_bpe_encode", "q120_dsir_select", "q121_pmi_collocations",
    "q122_zipf_slope", "q123_hybrid_rrf", "q124_vocab_coverage",
    "q125_split_manifest", "q126_curriculum", "q127_funnel",
    "q128_ccnet_buckets", "q129_bitext_margin", "q130_dedup_pagerank",
    "q131_skew_audit", "q132_tpch_q3", "q133_tpch_q10",
    "q134_lsh_recall_audit", "q135_assembly_funnel", "q136_tpch_q18",
    "q137_event_pivot", "q138_asof_snapshot", "q139_cohort_retention", "q141_dedup_graph_stats",
    // round-8 batch: NEXMark suite + preference ops
    "q142_nexmark_currency", "q144_nexmark_local_item", "q145_nexmark_avg_category",
    "q146_nexmark_hot_items", "q147_nexmark_avg_seller", "q148_nexmark_highest_bid",
    "q149_nexmark_new_users", "q150_stream_nexmark_hot", "q152_stream_nexmark_users",
    "q143_nexmark_filter", "q151_stream_nexmark_maxbid", "q155_stream_nexmark_chained",
    "q153_bradley_terry", "q154_preference_cycles", "q156_kcenter_select",
    // round-9: the fully in-stream Q5 (3 chained stateful stages) and the
    // service-path streaming ANN serving (broadcast index, row-local top-k)
    "q158_stream_nexmark_hot_instream", "q161_stream_ann_serve",
    // round-10: the IVF-composed serving plan — cells ∝ √N, so per-event
    // work must grow ~√-fashion where q161's brute scan grows linearly —
    // and the batch stateful fold (one shuffle + partition-local sort:
    // expected ~linear)
    "q162_stream_ann_ivf_serve", "q163_batch_stateful_rolling",
    // round-11: MP3 frame walk (row-local: expected ~linear) and the
    // SHARDED IVF serving plan — same √N cell growth as q162, but the
    // posting lists stay a joined table instead of a broadcast service,
    // so the 10×/100× runs exercise the no-corpus-broadcast path
    "q164_mp3_metadata", "q165_stream_ann_ivf_shard",
    // round-18 (VERDICT r17 Next #1): the q165 FIT/SERVE split measured
    // separately — fit_only = the offline index build (corpus pass +
    // bucketed write + centroid build), serve_only = the streaming serve
    // against the PREBUILT index, the cost a production serving tier pays
    // per decade. fit MUST precede serve in this list (serve loads the
    // index fit just persisted for the same dir).
    "q165_fit_only", "q165_serve_only",
    // round-12: the core-DAG event-time path — frame partials keep the
    // distributed edge answer-sized ((keys × frames) rows cross the
    // shuffle, never events), so growth should track the scan, and the
    // session form adds the per-key session merge on top
    "q174_dag_event_time", "q176_dag_session",
    // round-13: the r12 wire/format gates' growth curves — q166/q169 replay
    // the events fixture through the shaped kafka/kinesis protocol sources
    // (post-reader-fix: expected ~linear in produce+consume volume), q175
    // round-trips orders through the protobuf wire codec (row-local encode/
    // decode: expected ~linear in rows)
    "q166_stream_kafka_windowed", "q169_stream_kinesis_reshard",
    "q175_proto_roundtrip",
    // round-14: the python-gRPC bridge's growth curve — per-partition python
    // worker, row-local round-trip over loopback HTTP/2: expected ~linear
    // in (subset) rows
    "q177_python_grpc",
    // round-16: the SemDeDup recipe (kmeans cells + within-cell pair prune),
    // named by the r15 judge for the big rung — cells bound the candidate
    // pairs, so growth should stay near-linear as the corpus grows
    "q81_semantic_dedup",
    // round-17: the embedding near-dup row joins the battery in its DEFAULT
    // form (auto-sized planes; it was previously only covered by the planes
    // A/B block, now subsumed by the default)
    "q39_dedup_embedding")

  /** DEFAULT-form overrides (r17, VERDICT r16 task 1): these rows measure
    * the parameterless user API, which derives its scale lever from corpus
    * statistics. The registry forms stay pinned at the oracle constants
    * (the DuckDB oracles hardcode 4 hyperplanes / 8 unrolled cells /
    * unsampled scopes) and are NOT what a scale rung should measure.
    */
  private val defaultForms: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q39_dedup_embedding" -> ((s, d) => queries.EmbeddingQueries.dedupEmbedding(s, d)),
    "q81_semantic_dedup" -> ((s, d) => queries.EmbeddingQueries.semanticDedup(s, d)),
    "q134_lsh_recall_audit" -> ((s, d) => queries.TextQueries.lshRecallAudit(s, d)))

  /** Battery-only rows with no registry entry (r18): the q165 FIT/SERVE
    * split. The fused q165 row keeps measuring the whole pipeline; these two
    * split it so the decade ratio of SERVING alone is a measured artifact
    * row (fit is offline in production — VERDICT r17 Next #1). serve_only
    * loads the index the fit row just persisted; under a subset arg that
    * skipped the fit row it falls back to fitting first (that fallback is
    * then inside the timed window — run both rows for split numbers).
    */
  private val extraForms: Map[String, (SparkSession, String) => DataFrame] = {
    import org.apache.spark.sql.functions.col
    def embOf(s: SparkSession, d: String) =
      Tables(s, d, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
    Map(
      "q165_fit_only" -> ((s, d) => {
        val idx = operators.IvfShardedServe.fit(
          embOf(s, d), operators.IvfShardedServe.tableFor(d))
        // fit is eager (bucketed write + centroid collect happen above);
        // the returned frame is the answer-sized sidecar, so the noop write
        // adds ~nothing to the timed window
        s.table(operators.IvfShardedServe.centroidsTable(idx.table))
      }),
      "q165_serve_only" -> ((s, d) => {
        val tbl = operators.IvfShardedServe.tableFor(d)
        val idx = operators.IvfShardedServe.load(s, tbl)
          .getOrElse(operators.IvfShardedServe.fit(embOf(s, d), tbl))
        queries.StreamingQueries.q165Serve(s, d, idx)
      }))
  }

  /** The dense fixture: K keys × S sessions × E events per session, events
    * interleaved time-ordered per partition (the bounded-disorder source
    * contract). S is the axis the replica factor scales.
    */
  private def denseEvents(sc: org.apache.spark.SparkContext, sessionsPerKey: Int,
                          keys: Int = 96, eventsPerSession: Int = 240,
                          parts: Int = 8): RDD[Any] =
    sc.parallelize(0 until parts, parts).flatMap { p =>
      val local = (p * keys / parts) until ((p + 1) * keys / parts)
      for {
        s <- (0 until sessionsPerKey).iterator
        j <- (0 until eventsPerSession).iterator
        k <- local.iterator
      } yield (s * 100000L + j, s"k$k").asInstanceOf[Any]
    }

  /** Time the SHIPPED (two-stage preMerge + combineFragments) topology over
    * the dense fixture; returns (seconds, distinct sessions emitted) and
    * asserts the expected session count — a growth row that silently
    * under-merged would otherwise read as a win.
    */
  private def timeTwoStage(spark: SparkSession, sessionsPerKey: Int,
                           keys: Int = 96): (Double, Int) = {
    val timeout = 30L
    val parts = 8
    val dag = new DAG
    val wm = dag.newVertex("wm",
      Processors.insertWatermarksP[(Long, String)](
        _._1, lag = timeout, throttleFrame = timeout))
      .localParallelism(parts)
    val pre = dag.newVertex("premerge",
      Processors.sessionPreMergeP[String, Long](
        timeout, _.asInstanceOf[(Long, String)]._1,
        _.asInstanceOf[(Long, String)]._2, AggregateOp.counting))
      .localParallelism(parts)
    val sess = dag.newVertex("session",
      Processors.combineSessionFragmentsP[String, Long, Long](
        AggregateOp.counting, (s, e, k, n) => (s, e, k, n)))
    dag
      .edge(Edge.between(wm, pre))
      .edge(Edge.between(pre, sess)
        .partitioned(_.asInstanceOf[(Long, Long, String, Long)]._3)
        .distributed())
    val events = denseEvents(spark.sparkContext, sessionsPerKey, keys)
    val t0 = System.nanoTime()
    val out = DagExecutor.execute(spark, dag, inputs = Map("wm" -> events))("session")
    val dt = (System.nanoTime() - t0) / 1e9
    val n = out.size
    require(n == keys * sessionsPerKey,
      s"expected ${keys * sessionsPerKey} sessions, got $n")
    (dt, n)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-separated name prefixes to run a subset
    val only: Option[Seq[String]] =
      if (args.length > 3) Some(args(3).split(",").toSeq) else None
    val spark = GraftSession.local("graft-scaletrend", shufflePartitions = 32)

    generate(spark, src, out, factor)

    def time(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      pipeline.KeyedStore.clear(); spark.catalog.clearCache(); System.gc()
      dt
    }

    val regAll = queries.QueryRegistry.all
    def reg(name: String): (SparkSession, String) => DataFrame =
      defaultForms.getOrElse(name,
        extraForms.getOrElse(name, regAll(name)))
    // one warmup to amortize JVM/codegen startup
    time(reg("q01_pricing_summary"), src)

    println(f"| query | t_1x (s) | t_${factor}x (s) | growth |")
    println("|---|---|---|---|")
    val rows = trendQueries
      .filter(n => only.forall(_.exists(n.startsWith))).flatMap { name =>
      // a guarded query (e.g. q161's brute-broadcast cap at big replicas)
      // records -1 and the run continues — one refusing query must not kill
      // the whole battery. NonFatal only: an OOM or linkage error is a run
      // failure, not a refusal, and must not be recorded as -1. Exceptions
      // with a null message (raw NPEs) fall back to the class name.
      try {
        // 1× base is BEST-OF-2 (VERDICT r14 item 5): q161's growth ratio
        // moved 29.5× → 70.7× round-over-round purely because one round's
        // base was warm and the other's cold — a warm best-of-2 base makes
        // growth ratios compare method-equal across rounds (recorded in the
        // artifact as base_method). The replica side stays single-run: its
        // absolute is what the ratio is ABOUT, and 2× the replica suite
        // would double the battery's wall-clock for noise the ratio's
        // numerator doesn't dominate.
        val t1 = math.min(time(reg(name), src), time(reg(name), src))
        val tN = time(reg(name), out)
        val g = tN / t1
        val flag = if (g > factor * 1.5) " **SUPER-LINEAR**" else ""
        println(f"| $name | $t1%.2f | $tN%.2f | ${g}%.1f×$flag |")
        Some((name, t1, tN))
      } catch {
        case scala.util.control.NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
          println(s"| $name | — | — | REFUSED: $msg |")
          Some((name, -1.0, -1.0))
      }
    }

    // dense-session growth row (r14, VERDICT r13 item 7): the two-stage
    // session topology's DENSE regime — the shape the pre-merge wins on
    // (12.5× fewer shuffled bytes, BASELINE.md "Round 13: DAG session
    // windows made scale-safe") but the sparse q176 fixture can't exercise.
    // Synthetic K×S×E fixture; the replica factor scales S (sessions per
    // key), so expected growth is ~linear. Tracked per round so the shipped
    // topology's advantage can't silently decay.
    val denseRow: Option[(Double, Double)] =
      if (only.forall(_.exists("dense_session".startsWith))) {
        try {
          // the q01 warmup doesn't touch the DAG path: warm it separately or
          // the 1× row carries the JIT cost (measured 1.44 s vs 0.51 s at 2×)
          timeTwoStage(spark, sessionsPerKey = 4)
          // best-of-2 base, same method as the battery rows above
          val (t1a, _) = timeTwoStage(spark, sessionsPerKey = 40)
          val (t1b, _) = timeTwoStage(spark, sessionsPerKey = 40)
          val t1 = math.min(t1a, t1b)
          val (tN, _) = timeTwoStage(spark, sessionsPerKey = 40 * factor)
          val g = tN / t1
          val flag = if (g > factor * 1.5) " **SUPER-LINEAR**" else ""
          println(f"| dense_session_two_stage (synthetic) | $t1%.2f | $tN%.2f | ${g}%.1f×$flag |")
          Some((t1, tN))
        } catch {
          case scala.util.control.NonFatal(e) =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
            println(s"| dense_session_two_stage | — | — | REFUSED: $msg |")
            Some((-1.0, -1.0))
        }
      } else None
    val denseJson = denseRow
      .map { case (a, b) => s""""dense_session_two_stage":[$a,$b],""" }
      .getOrElse("")

    // SemDeDup pair-retention row (r19, VERDICT r18 Next #1): the two-level
    // route's reported pairs are a documented SUBSET of the flat form's (the
    // SemDeDup cluster-granularity trade, Abbas et al. 2023 §3) — this row
    // turns "subset" into a NUMBER at the rung: both forms run on the SAME
    // replica at the SAME derived k (the production lever), and the artifact
    // carries |two-level pairs| / |flat pairs| plus the removed-row ratio.
    // Skipped above 100× — the flat form is the N²-asymptotic one the
    // two-level escape exists to replace; at 1000× it isn't a feasible
    // comparison baseline (its own r17 measurement is the record of that).
    val retentionJson: String =
      if (factor <= 100 && only.forall(_.exists("semdedup_retention".startsWith))) {
        try {
          val n = Tables(spark, out, "embeddings").count()
          val k = queries.EmbeddingQueries.derivedCells(spark, out)
          def stats(df: DataFrame): (Long, Long) = {
            val r = df.agg(sum(col("n_dup_partners")), count(lit(1))).head()
            (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
          }
          val (flatPairs, flatRemoved) =
            stats(queries.EmbeddingQueries.semanticDedup(spark, out, k))
          val (twoPairs, twoRemoved) =
            stats(queries.EmbeddingQueries.semanticDedupTwoLevel(spark, out, k))
          def ratio(a: Long, b: Long): Double =
            if (b == 0) -1.0 else math.round(a.toDouble / b * 10000) / 10000.0
          println(f"| semdedup_retention (k=$k, n=$n) | pairs ${ratio(twoPairs, flatPairs)} " +
            f"($twoPairs/$flatPairs) | removed ${ratio(twoRemoved, flatRemoved)} " +
            f"($twoRemoved/$flatRemoved) | |")
          s""""semdedup_retention":{"k":$k,"n_vectors":$n,""" +
            s""""flat_pairs":$flatPairs,"two_level_pairs":$twoPairs,""" +
            s""""pair_retention":${ratio(twoPairs, flatPairs)},""" +
            s""""flat_removed":$flatRemoved,"two_level_removed":$twoRemoved,""" +
            s""""removed_retention":${ratio(twoRemoved, flatRemoved)}},"""
        } catch {
          case scala.util.control.NonFatal(e) =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
            println(s"| semdedup_retention | — | — | REFUSED: $msg |")
            s""""semdedup_retention":{"error":"${msg.replaceAll("[\"\\\\]", "")}"},"""
        }
      } else ""

    // ---- outlier auto-adjudication (r16, VERDICT r15 item 4) -------------
    // prior-round ratios from SPARK_GRAFT_SCALETREND_PRIOR (absent → skip);
    // the artifact is one JSON line, so a tiny regex pull of "name":[a,b]
    // avoids a JSON dependency
    val priorRatios: Map[String, Double] =
      sys.env.get("SPARK_GRAFT_SCALETREND_PRIOR").filter(_.nonEmpty).flatMap { path =>
        try {
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(path)), "UTF-8")
          val parsed = parsePriorRatios(txt, factor)
          if (parsed.isEmpty)
            System.err.println(s"[scaletrend] prior artifact has no factor=$factor rung")
          parsed
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[scaletrend] prior artifact unreadable: $e"); None
        }
      }.getOrElse(Map.empty)
    val outliers = rows.filter { case (n, a, b) =>
      a > 0 && b > 0 && priorRatios.get(n).exists(pr => b / a > OutlierK * pr)
    }
    val outlierJson =
      if (outliers.isEmpty) ""
      else {
        val entries = outliers.map { case (name, a, b) =>
          System.err.println(f"[scaletrend] $name battery ratio ${b / a}%.1f× " +
            f"exceeds ${OutlierK}× prior ${priorRatios(name)}%.1f× — isolating")
          // isolation: fresh GC + settle so the row doesn't inherit its
          // battery neighborhood's debt, then the battery's own method.
          // NonFatal-guarded like the battery rows (ADVICE r16): one refusal
          // or transient failure here must not throw the whole battery's
          // artifact away after it already ran — emit the -1 refusal marker
          // in the outliers block instead.
          System.gc(); Thread.sleep(2000)
          try {
            val t1 = math.min(time(reg(name), src), time(reg(name), src))
            val tN = time(reg(name), out)
            println(f"| $name (ISOLATED re-measure) | $t1%.2f | $tN%.2f | ${tN / t1}%.1f× " +
              f"(battery ${b / a}%.1f×, prior ${priorRatios(name)}%.1f×) |")
            s""""$name":{"ratio_battery":${b / a},"ratio_isolated":${tN / t1},""" +
              s""""prior_ratio":${priorRatios(name)},"t1_isolated":$t1,"tN_isolated":$tN}"""
          } catch {
            case scala.util.control.NonFatal(e) =>
              val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
              println(s"| $name (ISOLATED re-measure) | — | — | REFUSED: $msg |")
              s""""$name":{"ratio_battery":${b / a},"ratio_isolated":-1,""" +
                s""""prior_ratio":${priorRatios(name)}}"""
          }
        }
        s""""outliers":${entries.mkString("{", ",", "}")},"outlier_k":$OutlierK,"""
      }

    // base_method records HOW the 1× bases were measured so round-over-round
    // growth ratios are known method-equal (or known not to be); the
    // default_forms list records which rows ran the parameterless auto-sized
    // API instead of the oracle-pinned registry form (the r16 recipe A/B
    // blocks are subsumed: the battery row IS the recipe now, and the fixed
    // forms' quadratic growth stays measured in SCALETREND_r16.json)
    val baseMethod = """"base_method":"best_of_2_warm","""
    val defaultFormsJson = defaultForms.keys.toSeq.sorted
      .map("\"" + _ + "\"").mkString("\"default_forms\":[", ",", "],")

    val qs = rows.map { case (n, a, b) => s""""$n":[$a,$b]""" }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_trend","factor":$factor,$baseMethod$defaultFormsJson""" +
      s"""$denseJson$retentionJson$outlierJson"queries":$qs}""")
    spark.stop()
  }

  /** Build the scaled replica once; a marker file makes reruns reuse it.
    * Partition counts scale with the factor (base counts tuned at 10×) so a
    * 100× replica's files stay executor-memory-sized instead of 10× fatter.
    */
  def generate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    import spark.implicits._
    val marker = new java.io.File(s"$out/_GENERATED_$factor")
    if (marker.exists()) return
    val pScale = math.max(1, factor / 10)
    def t(n: String) = Tables(spark, src, n)
    def write(df: DataFrame, n: String, parts: Int): Unit =
      df.repartition(parts * pScale).write.mode("overwrite").parquet(s"$out/$n.parquet")

    // dimensions stay fixed
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(t(n), n, 1))

    // copies are written in groups of ≤64 with parquet APPEND (r17): a
    // single 1000-branch union is one left-deep Catalyst plan — analysis
    // alone goes quadratic and the driver stack with it. Factors ≤64 keep
    // the old single-write shape; the produced DATA is identical either way.
    def writeReplicated(n: String, parts: Int)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val path = s"$out/$n.parquet"
      val groups = (0 until factor).grouped(64).toList
      val totalParts = math.max(1, parts * pScale)
      val perGroup = math.max(1, totalParts / groups.size)
      groups.zipWithIndex.foreach { case (g, gi) =>
        val df = g.map(i => shift(t(n), i)).reduce(_ unionByName _)
        df.repartition(perGroup).write
          .mode(if (gi == 0) "overwrite" else "append").parquet(path)
      }
    }

    val maxOrder = t("orders").agg(max($"o_orderkey")).head.getLong(0) + 1
    writeReplicated("lineitem", 32)((df, i) =>
      df.withColumn("l_orderkey", $"l_orderkey" + lit(i * maxOrder)))
    writeReplicated("orders", 16)((df, i) =>
      df.withColumn("o_orderkey", $"o_orderkey" + lit(i * maxOrder)))

    val maxEvent = t("events").agg(max($"event_id")).head.getLong(0) + 1
    writeReplicated("events", 16)((df, i) =>
      df.withColumn("event_id", $"event_id" + lit(i * maxEvent))
        .withColumn("ts", $"ts" + expr(s"INTERVAL ${i * 370} DAYS")))

    val maxDoc = t("documents").agg(max($"doc_id")).head.getLong(0) + 1
    writeReplicated("documents", 8)((df, i) =>
      if (i == 0) df
      else df.withColumn("doc_id", $"doc_id" + lit(i * maxDoc))
        // per-copy token suffix: every shingle changes, so copies are new
        // documents to the dedup operators, not a wall of synthetic near-dups
        .withColumn("text", concat_ws(" ",
          transform(split($"text", "\\s+"), tok => concat(tok, lit(s"q$i")))))
        .withColumn("n_chars", length($"text")))

    val maxVec = t("embeddings").agg(max($"vec_id")).head.getLong(0) + 1
    val dims = 64
    writeReplicated("embeddings", 8)((df, i) => {
      // rotation alone cycles at `dims` copies (gcd(7,64)=1 ⇒ period 64), so
      // copy i and i+64 would carry IDENTICAL vectors — a 100× corpus would
      // be ~1/3 exact-duplicate vectors and the dedup/ANN rows would measure
      // the fixture. Composing an array REVERSE on the second cycle (norm-
      // preserving, like the rotation) doubles the transform group to 128
      // distinct copies; factors ≤64 are byte-identical to the old recipe.
      val r = (i * 7) % dims
      val rotated =
        if (r == 0) $"embedding"
        else concat(slice($"embedding", r + 1, dims - r), slice($"embedding", 1, r))
      val decorrelated = if ((i / dims) % 2 == 1) reverse(rotated) else rotated
      // beyond the 128-copy rotation×reverse group (only reached at factors
      // >128, e.g. the 1000× rung) compose a deterministic per-cycle ±1
      // sign mask (norm-preserving like the others; md5-seeded per cycle) —
      // without it copies i and i+128 carry IDENTICAL vectors and a 1000×
      // corpus would be ~87% exact duplicates, measuring the fixture
      val cyc = i / 128
      val masked =
        if (cyc == 0) decorrelated
        else {
          val signs = Array.tabulate(dims) { d =>
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(s"flip$cyc:$d".getBytes("UTF-8"))
            if ((md(0) & 1) == 1) -1.0f else 1.0f
          }
          zip_with(decorrelated, typedLit(signs.toSeq), (a, b) => a * b)
        }
      df.withColumn("vec_id", $"vec_id" + lit(i * maxVec))
        .withColumn("embedding", masked)
    })

    marker.createNewFile()
    ()
  }
}

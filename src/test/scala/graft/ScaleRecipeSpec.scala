package graft

/** Pins for the r16 scale instruments: the ScaleTrend prior-ratio parser
  * (outlier auto-adjudication trigger) and the two parametrized recipe
  * queries whose gate forms are oracle-checked but whose scale levers
  * (q81's k, q134's docMod) only run at big rungs.
  */
class ScaleRecipeSpec extends SparkSpec {

  // ---- parsePriorRatios -----------------------------------------------

  private val flat =
    """{"metric":"scale_trend","factor":10,"base_method":"best_of_2_warm",""" +
      """"queries":{"q01_x":[0.5,1.0],"q02_y":[2.0,8.0],"q03_refused":[-1.0,-1.0]}}"""

  test("prior parser: flat single-rung artifact, refused rows dropped") {
    val r = ScaleTrend.parsePriorRatios(flat, 10).get
    assert(r("q01_x") === 2.0)
    assert(r("q02_y") === 4.0)
    assert(!r.contains("q03_refused"), "a -1/-1 refusal must not become a prior")
  }

  test("prior parser: no rung at the requested factor -> None") {
    assert(ScaleTrend.parsePriorRatios(flat, 100).isEmpty)
  }

  test("prior parser: composite artifact is factor-scoped and isolated ratios override") {
    val composite =
      """{"metric":"scale_trend","round":16,"rungs":[""" +
        """{"factor":10,"outliers":{"q93_c":{"ratio_battery":6.38,"ratio_isolated":1.35,""" +
        """"prior_ratio":2.14,"t1_isolated":1.4,"tN_isolated":1.9}},""" +
        """"queries":{"q93_c":[1.4,8.9],"q05_j":[1.0,2.0]}},""" +
        """{"factor":100,"queries":{"q05_j":[1.0,50.0]}}]}"""
    val at10 = ScaleTrend.parsePriorRatios(composite, 10).get
    // battery says 8.9/1.4 = 6.36x, the outliers block's isolated 1.35 wins
    assert(at10("q93_c") === 1.35)
    assert(at10("q05_j") === 2.0)
    val at100 = ScaleTrend.parsePriorRatios(composite, 100).get
    assert(at100("q05_j") === 50.0)
    // the 10x rung's rows must not leak into the 100x parse
    assert(!at100.contains("q93_c"))
  }

  test("prior parser: json.dump-style whitespace parses identically") {
    // python's json.dump writes `"factor": 10` and spaces after every colon
    // and comma — the live r16 composite is in this shape (the split-based
    // first cut of the parser missed it; caught by an end-to-end drive)
    val spaced =
      """{"metric": "scale_trend", "rungs": [{"factor": 10, """ +
        """"outliers": {"q93_c": {"ratio_battery": 6.38, "ratio_isolated": 1.35}}, """ +
        """"queries": {"q93_c": [1.4, 8.9], "q05_j": [1.0, 2.0]}}, """ +
        """{"factor": 100, "queries": {"q05_j": [1.0, 50.0]}}]}"""
    val at10 = ScaleTrend.parsePriorRatios(spaced, 10).get
    assert(at10("q93_c") === 1.35)
    assert(at10("q05_j") === 2.0)
    assert(ScaleTrend.parsePriorRatios(spaced, 100).get("q05_j") === 50.0)
  }

  test("prior parser: top-level keys after the rungs array cannot leak into the last rung") {
    // ADVICE r16: the last rung's segment used to slice to end-of-file, so a
    // top-level trailer key shaped like a ratio row would enter its scan
    val trailed =
      """{"metric":"scale_trend","rungs":[{"factor":10,"queries":{"q05_j":[1.0,2.0]}},""" +
        """{"factor":100,"queries":{"q05_j":[1.0,50.0]}}],""" +
        """"notes":{"q99_trailer":[1.0,999.0]}}"""
    val at100 = ScaleTrend.parsePriorRatios(trailed, 100).get
    assert(at100("q05_j") === 50.0)
    assert(!at100.contains("q99_trailer"), "trailer keys must not become priors")
  }

  test("prior parser: a refused isolation (-1 marker) falls back to the battery ratio") {
    // ADVICE r16 follow-on: the isolation re-measure is now NonFatal-guarded
    // and records ratio_isolated:-1 on refusal — that marker must not
    // override the battery ratio (a negative prior would fire the OutlierK
    // trigger unconditionally next round)
    val refused =
      """{"factor":10,"outliers":{"q93_c":{"ratio_battery":6.38,"ratio_isolated":-1,""" +
        """"prior_ratio":2.14}},"queries":{"q93_c":[1.0,6.38],"q05_j":[1.0,2.0]}}"""
    val r = ScaleTrend.parsePriorRatios(refused, 10).get
    assert(r("q93_c") === 6.38, "battery ratio survives a refused isolation")
  }

  // ---- parametrized recipe queries ------------------------------------

  test("q134 recipe: doc-sampled audit stays a 1-row unbiased estimate") {
    val gate = queries.TextQueries.lshRecallAudit(spark, sf, docMod = 1).collect()
    val sampled = queries.TextQueries.lshRecallAudit(spark, sf, docMod = 2).collect()
    for (rows <- Seq(gate, sampled)) {
      assert(rows.length == 1)
      val (nTrue, nDet, nHit, recall) =
        (rows(0).getLong(0), rows(0).getLong(1), rows(0).getLong(2), rows(0).getDouble(3))
      assert(nHit <= nTrue, "hits are a subset of true pairs")
      assert(nHit <= nDet, "hits are a subset of detected pairs")
      assert(recall >= 0.0 && recall <= 1.0)
    }
    // the sample can only shrink the audited pair space
    assert(sampled(0).getLong(0) <= gate(0).getLong(0))
  }

  test("default forms equal the oracle-pinned forms at the gate fixture (r17)") {
    // the sizing rules are calibrated so that, at the gate fixtures, the
    // DEFAULT (auto-sized) API derives exactly the pinned oracle constants —
    // this is what keeps CORRECTNESS oracle-exact while the default grows
    // the lever at scale. Row-for-row equality, not just shape.
    import org.apache.spark.sql.DataFrame
    def same(a: DataFrame, b: DataFrame): Unit = {
      assert(a.columns.toSeq == b.columns.toSeq)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    same(queries.EmbeddingQueries.dedupEmbedding(spark, sf),
      queries.EmbeddingQueries.dedupEmbedding(spark, sf, planes = 4))
    same(queries.EmbeddingQueries.semanticDedup(spark, sf),
      queries.EmbeddingQueries.semanticDedup(spark, sf, k = 8))
    same(queries.TextQueries.lshRecallAudit(spark, sf),
      queries.TextQueries.lshRecallAudit(spark, sf, docMod = 1))
  }

  test("q81 recipe: grown k covers every vector's dup decision consistently") {
    import org.apache.spark.sql.functions._
    val fixed = queries.EmbeddingQueries.semanticDedup(spark, sf, k = 8)
    val grown = queries.EmbeddingQueries.semanticDedup(spark, sf, k = 16)
    // schema and decision shape hold across k: one row per duplicated vec,
    // keeper strictly below it (the deterministic lowest-id tie-break)
    for (df <- Seq(fixed, grown)) {
      val bad = df.filter(col("kept_vec_id") >= col("vec_id")).count()
      assert(bad == 0L, "keeper must be a strictly lower vec_id")
    }
    // more cells can only REFINE candidates (cells partition the space):
    // a vec flagged dup at k=16 had its partner in one k=16 cell — with 8
    // coarser cells the pair may land together or apart depending on the
    // learned centroids, so only the shape invariants are pinned here (the
    // quantitative lever is measured at the rung, SCALETREND_r16.json)
    assert(fixed.columns.toSeq == grown.columns.toSeq)
  }

  test("KMeansLite.assign kernel is bit-identical to fit's Catalyst assignment") {
    import org.apache.spark.sql.functions._
    import graft.functions.{SimilarityFunctions => S}
    val vecs = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), S.toDouble(col("embedding")).as("ve"))
    val (assigned, cents) = graft.operators.KMeansLite.fit(
      vecs, "vec_id", "ve", k = 8, iters = 2)
    val catalyst = assigned.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kernel = graft.operators.KMeansLite.assign(vecs, "vec_id", "ve", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kernel == catalyst,
      "the primitive kernel must reproduce the struct-argmin exactly " +
        "(same sequential sqDist, same lowest-cid tie-break)")
  }

  test("q81 two-level escape: sound duplicates, bounded cells, flat-path routing (r18)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{SimilarityFunctions => S}
    // the default still routes FLAT at/below the threshold — the gate
    // fixtures and the 100× rung (derived k=800) keep their r17 method
    assert(queries.EmbeddingQueries.SemanticDedupFlatKMax >= 800,
      "the 100× rung's derived k must stay on the flat path for method-equality")
    // drive the two-level form directly at a small k: k1=⌈√12⌉=4 coarse
    // cells, subBits=⌈log2(3)⌉=2 → 16 composite cells over ~200 vectors
    val out = queries.EmbeddingQueries.semanticDedupTwoLevel(spark, sf, k = 12)
    val rows = out.collect()
    assert(rows.nonEmpty, "sf0.001 carries near-dup vectors; two-level must find some")
    // shape invariants shared with the flat form
    assert(out.columns.toSeq ==
      Seq("cluster", "vec_id", "n_dup_partners", "kept_vec_id"))
    assert(rows.forall(r => r.getLong(3) < r.getLong(1)),
      "keeper must be a strictly lower vec_id")
    // SOUNDNESS: every reported (vec, keeper) really is a ≥ 0.35 cosine
    // pair — finer cells may MISS pairs (the SemDeDup granularity trade)
    // but can never invent one
    val emb = Tables(spark, sf, "embeddings")
    val nv = S.withNormalized(emb.select(col("vec_id"), col("embedding")),
      "embedding", "nv")
    val pairs = out.select(col("vec_id"), col("kept_vec_id"))
      .join(nv.select(col("vec_id"), col("nv")), Seq("vec_id"))
      .join(nv.select(col("vec_id").as("kept_vec_id"), col("nv").as("nv2")),
        Seq("kept_vec_id"))
      .select(round(S.dot(col("nv"), col("nv2")), 6).as("cos"))
      .collect()
    assert(pairs.forall(_.getDouble(0) >= 0.35),
      "two-level reported a pair below the 0.35 dedup threshold")
  }
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.Bridge

/** Vector-similarity primitives over `ARRAY<FLOAT>` embedding columns, built on
  * Spark's higher-order array functions (`aggregate`/`transform`) and, for the
  * per-pair hot paths (`dot`, `sqDist`), native codegen expressions — all run
  * inside codegen without UDF overhead.
  *
  * Scale design: brute-force top-k is the exact baseline (one broadcast of the
  * query set, a map-side score, and a per-query top-k — no shuffle of the corpus);
  * the LSH variant buckets vectors by random-hyperplane signs so the candidate
  * set per query is a tiny fraction of the corpus at 100 TB.
  */
object SimilarityFunctions {

  /** Cast a float vector to double for stable, engine-comparable arithmetic. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product as the native codegen expression
    * (graft.functions.expr.DotProduct): left-to-right summation, bit-identical
    * to the `aggregate(zip_with(...))` fold and to the DuckDB oracle's
    * `list_sum(list_transform(...))` — DotProductSpec pins it against the fold.
    * One tight loop inside whole-stage codegen instead of an interpreted
    * per-pair fold (pair-dedup 2.9 → 1.5 s warm, BASELINE.md "Round 2
    * measured").
    */
  def dot(a: Column, b: Column): Column =
    Bridge.column(graft.functions.expr.DotProduct(
      Bridge.expression(a), Bridge.expression(b)))

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Squared L2 distance with the ORDER-PINNED sequential-sum contract —
    * the one definition KMeansLite's assignment/fit, the PQ/ADC tables and
    * q156's k-center selection (and their oracles' `list_sum` replays) all
    * share. Native codegen expression (graft.functions.expr.SquaredDistance),
    * bit-identical to the `aggregate(zip_with((x - c)²))` fold
    * (SquaredDistanceSpec pins it) and 24–32% faster warm on the k-means
    * family (BASELINE.md "Round 8: native SquaredDistance expression").
    * Inputs are cast to array<double> first (a no-op for double arrays) so
    * ARRAY<FLOAT> columns keep working exactly as the fold's per-element
    * coercion allowed — KMeansLite.fit documents float-array inputs.
    */
  def sqDist(a: Column, b: Column): Column =
    Bridge.column(graft.functions.expr.SquaredDistance(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))

  /** L2-normalize `vecCol` into `outCol`, computing the norm ONCE per row as a
    * scalar column that the element-wise divide then references. Pair-scoring
    * pipelines should normalize BOTH sides before the join and score with
    * `dot` alone: norm work becomes O(rows·dims) instead of O(pairs·dims) —
    * the difference between feasible and not at 100 TB pair counts.
    *
    * (Perf note, measured at sf0.1: unrolling the array ops to 64-term
    * `element_at` expression trees to chase whole-stage codegen was 2-3×
    * SLOWER than the compact higher-order forms — the generated methods blow
    * past JIT/codegen size limits. Keep the folds.)
    */
  def withNormalized(df: DataFrame, vecCol: String, outCol: String): DataFrame =
    df.withColumn("__nrm", norm(toDouble(col(vecCol))))
      // zero/NaN-norm guard: an all-zero vector would divide 0/0 → NaN
      // elements, and a NaN element makes the norm itself NaN — which PASSES
      // a bare `> 0` (Spark sorts NaN above every double, DuckDB doesn't).
      // Emit zeros for both: dot products against the vector score 0, the
      // right "no similarity", and the differential check stays engine-exact.
      .withColumn(outCol, when(col("__nrm") > 0 && !isnan(col("__nrm")),
        transform(col(vecCol), x => x.cast("double") / col("__nrm")))
        .otherwise(transform(col(vecCol), x => lit(0.0))))
      .drop("__nrm")

  /** Deterministic ±1 pseudo-hyperplane sign for (plane j, dim k): parity of the
    * first hex digit of md5("hp<j>:<k>"). Reproducible in any engine with md5.
    */
  private def planeSign(j: Int, k: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hp$j:$k".getBytes("UTF-8"))
    if (((hex(0) >> 4) & 0xF) % 2 == 1) 1 else -1
  }

  /** Random-hyperplane LSH bucket id (0 until 2^planes) for a vector column.
    * The signs are compile-time constants, so the projection is a plain
    * codegen'd arithmetic expression over the array.
    */
  def lshBucket(v: Column, planes: Int, dims: Int): Column =
    (0 until planes).map { j =>
      val proj = (0 until dims).map { k =>
        val s = planeSign(j, k)
        if (s > 0) element_at(v, k + 1).cast("double")
        else -element_at(v, k + 1).cast("double")
      }.reduce(_ + _)
      when(proj > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** The 9-dp HALF_UP rank quantization as a primitive LONG — the value
    * `new BigDecimal(x).setScale(9, HALF_UP)` would carry, as its unscaled
    * long (|cosine| ≤ ~2 ⇒ |unscaled| ≤ ~2e9: fits comfortably). Comparing
    * these longs is EXACTLY the BigDecimal ordering at the common scale, so
    * every serving loop's (quant9 DESC, id ASC) rank is unchanged — but the
    * comparator allocates nothing (r18: a jstack histogram of the 1000×
    * serving rung showed the probe sort and the top-k accumulator burning
    * their time in BigDecimal construction — two allocations per comparison,
    * ~4 per candidate row, ~800M at the rung).
    *
    * Exactness: HALF_UP at scale 9 is floor(|x·10⁹| + 0.5) with the sign
    * reapplied. The double computation `|x|*1e9 + 0.5` carries ≤ ~5e-7
    * absolute error (two roundings at magnitude ≤ 2e9), so whenever the
    * fractional part sits further than 1e-5 from a boundary the fast path
    * is provably the exact answer; within the margin — and for any
    * non-finite x — it falls back to BigDecimal itself (which also
    * preserves the legacy NumberFormatException on NaN/Inf). The margin is
    * hit by ~2e-5 of uniform inputs: the allocation is gone from the hot
    * path, the arithmetic contract is untouched (spec-pinned against
    * BigDecimal across boundaries and random doubles).
    */
  def quant9Long(x: Double): Long = {
    if (!java.lang.Double.isFinite(x))
      return new java.math.BigDecimal(x) // throws: same contract as before
        .setScale(9, java.math.RoundingMode.HALF_UP).unscaledValue().longValue()
    val a = math.abs(x) * 1e9 + 0.5
    // domain guard (ADVICE r18): |x| ≳ 9.2e9 overflows the scale-9 unscaled
    // long — the old BigDecimal `longValue()` fallback TRUNCATED mod 2^64
    // there, silently misordering graft_topk on scores far outside the
    // cosine range. Out-of-range now throws (`longValueExact`): a loud
    // contract beats a wrapped comparator. Cosine-domain callers (|x| ≤ 2)
    // are orders of magnitude inside the guard.
    if (a >= 9.0e18)
      return new java.math.BigDecimal(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
    val fl = math.floor(a)
    val f = a - fl
    if (f < 1e-5 || f > 1 - 1e-5)
      new java.math.BigDecimal(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
    else if (x < 0) -fl.toLong
    else fl.toLong
  }

  /** The bucket-count scale recipe, as code (measured in BASELINE.md "q39
    * bucket-count recipe"): LSH candidate pairs are quadratic in expected
    * bucket OCCUPANCY, so the plane count must grow with the corpus to keep
    * occupancy — and therefore pair fan-out — constant. Each plane halves
    * expected occupancy: planes(n) = basePlanes + ceil(log2(n / baseCorpus)).
    * At 10× data, +4 planes ≈ the measured 1.38 s vs 2.37 s fixed-planes gap;
    * the same arithmetic sizes minhash band buckets and IVF cell counts.
    */
  def planesForCorpus(corpusSize: Long, baseCorpus: Long, basePlanes: Int): Int = {
    require(corpusSize > 0 && baseCorpus > 0 && basePlanes > 0,
      "planesForCorpus needs positive sizes")
    val growth = corpusSize.toDouble / baseCorpus
    if (growth <= 1.0) basePlanes
    else basePlanes + math.ceil(math.log(growth) / math.log(2)).toInt
  }

  /** The cluster-count scale recipe (q81 SemDeDup's lever, VERDICT r16 task
    * 1): a within-cell all-pairs term is quadratic in cell POPULATION, so the
    * cell count must grow LINEARLY with the corpus to hold population — and
    * the pair term — at the calibrated shape. cells(n) = baseCells · n /
    * baseCorpus, floored at baseCells. Measured at the 100× rung
    * (SCALETREND_r16.json): k=8 fixed → 326× growth; k=800 = this rule →
    * 20.3×. The SemDeDup paper applies the same discipline (50k clusters for
    * LAION-scale corpora).
    */
  def cellsForCorpus(corpusSize: Long, baseCorpus: Long, baseCells: Int): Int = {
    require(corpusSize > 0 && baseCorpus > 0 && baseCells > 0,
      "cellsForCorpus needs positive sizes")
    math.max(baseCells,
      math.ceil(baseCells.toDouble * corpusSize / baseCorpus).toInt)
  }

  /** The within-scope sampling scale recipe (q134's audit lever, VERDICT r16
    * task 1): an all-pairs audit inside sampled scopes is quadratic in
    * PER-SCOPE population, so when corpus growth lands INSIDE existing
    * scopes the doc-sample modulus must return per-scope populations to the
    * calibrated shape: mod = round(avgScopePop / basePop), floored at 1
    * (no sampling at or below the calibrated population). Measured at the
    * 100× rung: docMod=1 fixed → 1587× growth; docMod=100 = this rule → 1.4×.
    * The estimate stays unbiased because both the truth and detected sides
    * see the same deterministic hash-sample.
    */
  def sampleModForScope(avgScopePop: Double, baseScopePop: Double): Int = {
    require(baseScopePop > 0, "sampleModForScope needs a positive base population")
    if (avgScopePop <= baseScopePop) 1
    else math.max(1, math.round(avgScopePop / baseScopePop).toInt)
  }

  /** Exact brute-force cosine top-k: broadcast the (small) query set against the
    * corpus, score row-locally, keep k per query via a window on the query id.
    * Both sides are L2-normalized once per row before the cross join, so the
    * per-pair work is a single codegen'd dot product.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(
      withNormalized(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qraw")),
        "__qraw", "qv").drop("__qraw"))
    val c = withNormalized(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__craw")),
      "__craw", "cv").drop("__craw")
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("cv")).as("cosine"))
    // rank on the score QUANTIZED to 9 decimals (full precision stays in the
    // output): near-tied cosines computed with different arithmetic orders on
    // different engines/runs would otherwise flip integer ranks that no
    // output rounding can absorb; the id tiebreak then decides reproducibly
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("cosine"), 9).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: per query, the top-k most
    * cosine-similar corpus vectors whose LABEL DIFFERS from the query's — the
    * "looks like a positive, isn't one" set that contrastive losses need.
    * Same plan and determinism contract as [[bruteForceTopK]] (broadcast
    * queries, row-local normalized dot, rank on the 9-dp-quantized score with
    * id tiebreak); the label-mismatch predicate runs before the window so
    * same-label rows never enter the rank shuffle.
    */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, labelCol: String,
                        k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(
      withNormalized(queries.select(col(idCol).as("query_id"),
          col(labelCol).as("query_label"), col(vecCol).as("__qraw")),
        "__qraw", "qv").drop("__qraw"))
    val c = withNormalized(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("neg_label"), col(vecCol).as("__craw")),
      "__craw", "cv").drop("__craw")
    val scored = c.crossJoin(q)
      .filter(col("neg_label") =!= col("query_label"))
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        dot(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("cosine"), 9).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.Bridge

/** Near-duplicate detection primitives (MinHash+LSH, SimHash, n-gram Jaccard)
  * as pure Spark column expressions — codegen-friendly, deterministic, and
  * reproducible in any engine with md5 (the DuckDB oracles replay the exact
  * same hashes).
  *
  * Scale design: signatures/buckets are computed row-locally; the only shuffle
  * is the band-bucket self-join, which is the standard LSH trick that turns the
  * O(n²) all-pairs comparison into a join keyed on (band, bucket-hash) — at
  * 100 TB the bucket join is shuffle-heavy but linear-ish in candidates, and
  * skewed mega-buckets can be salted or capped (see `candidatePairs`).
  */
object DedupFunctions {

  /** Spread a NARROW input across the cluster before the CPU-dense signature
    * builds below (one md5 per token + minhash permutations, ~100k× the input
    * bytes in CPU). See [[Width.widen]] for the guard's scale argument.
    */
  private def widenNarrowInput(df: DataFrame): DataFrame = Width.widen(df)

  /** Per-token (h1, h2) hash pairs for the Kirsch–Mitzenmacher MinHash
    * construction: each token md5-hashed ONCE, split into two 32-bit halves.
    * Materialize this as its own column (a projection boundary) so the md5 pass
    * runs once, not once per derived signature value.
    * (Public technique: Kirsch & Mitzenmacher, "Less Hashing, Same Performance".)
    * Native one-digest-pass form (expr.Md5HalfPairs): the composed
    * `conv(substring(md5(t), ...), 16, 10)` chain hex-encodes the digest and
    * parses it back PER TOKEN — profiled as the dominant CPU of every LSH
    * signature build (OPTIMIZATION_r19.md); Md5HalfSpec pins bit-equality
    * against that chain.
    */
  def tokenHashPairs(tokenSet: Column): Column =
    Bridge.column(graft.functions.expr.Md5HalfPairs(Bridge.expression(tokenSet)))

  /** Signature of `h` MinHash values from a precomputed `tokenHashPairs` column:
    * sample i = min over tokens of `(h1 + i*h2) mod p` — native codegen
    * expression computing all `h` samples in one pass over the tokens
    * (graft.functions.expr.MinhashSignatures) instead of `h` interpreted
    * `array_min(transform(...))` passes; MinhashSignaturesSpec pins it
    * against that composed form.
    */
  def minhashSignatureFromPairs(pairs: Column, h: Int): Column =
    Bridge.column(graft.functions.expr.MinhashSignatures(Bridge.expression(pairs), h))

  /** Convenience: signature straight from a token set (hashes once per call —
    * prefer the two-step form inside multi-signature pipelines).
    */
  def minhashSignature(tokenSet: Column, h: Int): Column =
    minhashSignatureFromPairs(tokenHashPairs(tokenSet), h)

  /** Single MinHash value (signature of length 1). */
  def minhash(tokenSet: Column, seed: Int): Column =
    element_at(minhashSignature(tokenSet, seed + 1), seed + 1)

  /** LSH band keys: the signature is split into bands of `rowsPerBand` hashes;
    * each band hashes to one bucket key. Docs sharing ANY band key become
    * candidate pairs.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      md5(concat(lit(s"band$b:"),
        concat_ws("|", slice(signature, b * rowsPerBand + 1, rowsPerBand))))
    }: _*)

  /** SimHash over the token set: for each of `bits` (≤32) positions, sum +1/-1
    * votes from each token — vote b = parity of hex digit b+1 of the token's
    * single md5 (one hash per token, 32 independent digit parities); the bit is
    * 1 when the vote sum is positive. Returned as a long.
    */
  /** Token md5s for simhash — materialize as its own column so the hash pass
    * runs once, not once per bit.
    */
  def tokenHashes(tokenSet: Column): Column =
    transform(tokenSet, t => md5(concat(lit("sh:"), t)))

  /** SimHash from a precomputed `tokenHashes` column. */
  def simhashFromHashes(hashes: Column, bits: Int = 16): Column = {
    require(bits <= 32, "simhash draws bits from the 32 hex digits of one md5")
    val votes = (0 until bits).map { b =>
      aggregate(hashes, lit(0),
        (acc, h) => acc + when(
          instr(lit("13579bdf"), substring(h, b + 1, 1)) > 0, 1).otherwise(-1))
    }
    votes.zipWithIndex.map { case (v, i) =>
      when(v > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  def simhash(tokenSet: Column, bits: Int = 16): Column =
    simhashFromHashes(tokenHashes(tokenSet), bits)

  /** Hamming distance between two simhash longs. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Distinct-set Jaccard over two ARRAY<BIGINT> columns (the engine's pair
    * representation — every LSH/shingle path compares long hash arrays) as
    * the native one-pass expression (expr.JaccardSimilarity). The composed
    * `size(array_intersect) / size(array_union)` form pays two hash-set
    * builds plus two materialized arrays PER PAIR, and the LSH verify step
    * runs it on millions of candidate pairs (q86 3.7× faster, BASELINE.md
    * "Round 4 (continuation): native one-pass Jaccard"). JaccardSpec pins
    * the native form against it. NULL arrays propagate NULL.
    */
  def jaccard(a: Column, b: Column): Column =
    Bridge.column(graft.functions.expr.JaccardSimilarity(
      Bridge.expression(a), Bridge.expression(b)))

  /** One-pass distinct-set overlap counts struct(inter, na, nb) over two
    * ARRAY<BIGINT> columns — the containment verify's primitive (q93): three
    * counts from one table pass instead of array_intersect + 2×
    * array_distinct per candidate pair (SetOverlapSpec pins the equality).
    */
  def setOverlap(a: Column, b: Column): Column =
    Bridge.column(graft.functions.expr.SetOverlap(
      Bridge.expression(a), Bridge.expression(b)))

  /** Connected components over a pair list (near-dup clustering: every doc in
    * a component is transitively a near-dup of the rest; the component min id
    * is the canonical "keep" doc). Min-label propagation + pointer jumping —
    * the label graph halves in diameter per round, so convergence is
    * O(log diameter) shuffles, not O(diameter). Driver loop with an action per
    * round is the standard Spark shape for iterative graph algorithms; at
    * 100 TB swap the convergence count for an accumulator and checkpoint every
    * few rounds to cut lineage.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          smallGraphThreshold: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    // the pair list feeds every iteration: materialize it exactly once.
    // Edges with a NULL endpoint carry no connectivity information — dropped
    // up front (the fast path's primitive arrays can't hold them; the
    // distributed path's joins would emit orphan null-label rows)
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull).cache()
    val nPairs = p.count()
    // Small-graph fast path: when the PAIR GRAPH (not the corpus — LSH already
    // reduced it by orders of magnitude) fits comfortably on the driver, run
    // union-find there in one pass instead of paying O(log d) distributed
    // rounds of per-stage scheduling overhead. This is the same tradeoff AQE
    // makes when it collects a ≤10 MB join side to broadcast it. Guarded on
    // FIXED-WIDTH id types only (two longs/edge → 2M edges ≈ 32 MB): a
    // string-keyed graph's driver footprint is unbounded by the row count, so
    // it always takes the distributed path. Above the threshold the O(log d)
    // pointer-jumping rounds below remain the 100 TB path.
    val fixedWidthIds = {
      import org.apache.spark.sql.types._
      // both columns must share ONE integral type: the output schema and the
      // boxed-equality union-find both assume a single id type
      p.schema.fields.map(_.dataType).distinct.toSeq match {
        case Seq(LongType | IntegerType | ShortType | ByteType) => true
        case _ => false
      }
    }
    if (fixedWidthIds && nPairs <= smallGraphThreshold) {
      import spark.implicits._
      // primitive collect: Tuple2 is @specialized on Long, so the edge list is
      // ~32 B/edge (vs ~100+ B for boxed GenericRows) — the 2M-edge default
      // tops out near 64 MB transient plus 24 B/node for the sorted-id +
      // parent arrays below, a bounded fraction of any practical driver heap
      val edgeArr = p.select(col("a").cast("long"), col("b").cast("long"))
        .as[(Long, Long)].collect()
      // index-compressed union-find over primitive arrays: sorted distinct ids
      // + Int parent pointers, no boxing anywhere
      val all = new Array[Long](edgeArr.length * 2)
      var w = 0
      edgeArr.foreach { case (a, b) => all(w) = a; all(w + 1) = b; w += 2 }
      java.util.Arrays.sort(all)
      var n = 0
      var r = 0
      while (r < all.length) {
        if (n == 0 || all(n - 1) != all(r)) { all(n) = all(r); n += 1 }
        r += 1
      }
      val ids = java.util.Arrays.copyOf(all, n)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var root = x
        while (parent(root) != root) root = parent(root)
        var c = x // path compression
        while (parent(c) != root) { val nx = parent(c); parent(c) = root; c = nx }
        root
      }
      // ids are sorted ascending, so a smaller INDEX is a smaller id: rooting
      // at min(ra, rb) keeps every root the component-MINIMUM id — the same
      // label the distributed min-label path converges to
      edgeArr.foreach { case (a, b) =>
        val ra = find(java.util.Arrays.binarySearch(ids, a))
        val rb = find(java.util.Arrays.binarySearch(ids, b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      import org.apache.spark.sql.types._
      val fromLong: Long => Any = p.schema.fields(0).dataType match {
        case IntegerType => l => l.toInt
        case ShortType => l => l.toShort
        case ByteType => l => l.toByte
        case _ => l => l
      }
      val schema = StructType(Seq(
        p.schema.fields(0).copy(name = "id"),
        p.schema.fields(0).copy(name = "label")))
      val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList(n)
      var m = 0
      while (m < n) {
        rows.add(org.apache.spark.sql.Row(fromLong(ids(m)), fromLong(ids(find(m)))))
        m += 1
      }
      p.unpersist()
      return spark.createDataFrame(rows, schema)
    }
    // iterative-state width scales with the PAIR GRAPH, not the corpus: each
    // round pays per-task overhead × partitions, and the graph is usually
    // orders of magnitude smaller than the input (near-dup pairs are sparse).
    // ~100k pairs per partition, floored at 2, capped at the session width.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val parts = math.max(2L, math.min(prevParts.toLong, nPairs / 100000L + 1))
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try {
      val edges = p.union(p.select(col("b"), col("a"))).toDF("src", "dst").cache()
      // localCheckpoint (not cache) each round: iterative DataFrames otherwise
      // nest their whole history in the logical plan, and any cache-lookup
      // miss recomputes every earlier round — measured exponential blowup
      // (2.5s → 126s/iter by round 4). Checkpointing truncates the lineage so
      // every round costs the same. On a cluster use checkpoint() on durable
      // storage for fault tolerance.
      var labels = p.select(col("a").as("id")).union(p.select(col("b").as("id")))
        .distinct().withColumn("label", col("id")).localCheckpoint(true)
      var converged = false
      var it = 0
      while (!converged && it < maxIter) {
        val nbrMin = edges.join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id2")).agg(min("label").as("nbr"))
        // carry the previous label IN-PLAN so change detection needs no extra
        // join: the round's only action is the count below, which materializes
        // the lazy localCheckpoint and scans it once
        val updated = labels.join(nbrMin, labels("id") === nbrMin("id2"), "left")
          .select(col("id"), col("label").as("__old"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
        val l2 = updated.select(col("id").as("pid"), col("label").as("plabel"))
        val jumped = updated.join(l2, updated("label") === l2("pid"), "left")
          .select(col("id"), col("__old"), coalesce(col("plabel"), col("label")).as("label"))
          .localCheckpoint(false)
        val changes = jumped.filter(col("label") =!= col("__old")).count()
        labels = jumped.select(col("id"), col("label"))
        converged = changes == 0
        it += 1
      }
      edges.unpersist(); p.unpersist()
      // unconverged labels SPLIT real components — silently returning them
      // would under-deduplicate with no signal; maxIter=25 covers diameters
      // to 2^25 under pointer jumping, so hitting it means something is wrong
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "labels would split real components; raise maxIter")
      labels // (id, label = component-min id)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** LSH candidate pairs: explode band keys, self-join on the bucket, dedupe.
    * `df` must carry (`idCol`, `setCol`). Returns (id_a, id_b, jaccard) with
    * id_a < id_b, filtered to `minJaccard`.
    *
    * Skew bomb, defused: a degenerate bucket — empty-token docs, boilerplate,
    * a template repeated millions of times — makes the self-join quadratic in
    * the bucket size. Any bucket larger than `maxBucket` therefore switches
    * from all-pairs to a CHAIN: its members are ranked by id and only
    * rank-adjacent pairs are emitted (n−1 pairs instead of n(n−1)/2).
    *
    * The trade, stated precisely: chain pairs still pass the `minJaccard`
    * verify, so the bucket stays one component only WHERE rank-adjacent
    * members are actually ≥ minJaccard similar. For the cap's target cases —
    * identical/near-identical template floods — adjacent members are
    * near-identical and the component holds. But a mega-bucket whose members
    * interleave two dissimilar populations (adjacent pairs under threshold,
    * distant pairs over) CAN split into sub-components the all-pairs plan
    * would have connected — under-listing, and for q47 under-merging, on
    * that bucket. That is the deliberate scale trade (bounded O(n·bands)
    * work on any input, vs a quadratic stall); raise `maxBucket` or
    * pre-scope with `scopeCols` if a workload legitimately mixes populations
    * inside one band bucket. Truly-identical docs collide in EVERY band, so
    * the keep-min-id dedup verdict for exact floods is unchanged either way.
    */
  def candidatePairs(df: DataFrame, idCol: String, setCol: String,
                     hashes: Int, bands: Int, minJaccard: Double,
                     scopeCols: Seq[String] = Nil,
                     maxBucket: Int = 10000): DataFrame = {
    val rows = hashes / bands
    // the exact-jaccard verify compares the per-token h1 longs, not the token
    // strings: long set-ops are several times cheaper per candidate pair
    // (measured dominant cost), and the hashes are engine-identical so the
    // differential check stays exact; h1 collisions perturb jaccard
    // deterministically, which MinHash (itself approximate) tolerates
    val sig = widenNarrowInput(
        df.select((col(idCol).as("id") +: col(setCol).as("toks") +:
          scopeCols.map(col)): _*))
      .withColumn("hp", tokenHashPairs(col("toks"))) // one md5 pass per doc
      .withColumn("hs", transform(col("hp"), p => p.getField("h1")))
      // explode_outer + null filter: a plain explode lets
      // InferFiltersFromGenerate push a `size(bandKeys(minhash(hp))) > 0`
      // filter below the hp projection, inlining a second full md5 pass per
      // row (see TextQueries q30/q68 for the pattern and measurements)
      .withColumn("band",
        explode_outer(bandKeys(minhashSignatureFromPairs(col("hp"), hashes), bands, rows)))
      .filter(col("band").isNotNull)
      // empty token sets are EXCLUDED, matching the differential oracle
      // (their DuckDB band is NULL via || of NULL signature parts, so they
      // never pair there) — and leaving them in would put every empty doc
      // into ONE shared bucket (concat_ws skips null parts): a quadratic
      // flood of all-empty pairs whose similarity is 0/0 = NaN anyway
      .filter(size(col("hs")) > 0)
      .drop("hp", "toks")
      // both sides of the self-join consume this — materialize once
      .cache()
    val bucketKey = ("band" +: scopeCols).map(col)
    val joinKeys = "band" +: scopeCols
    // healthy buckets: the plain all-pairs self-join on the band bucket
    def allPairsOf(src: DataFrame): DataFrame = {
      val a = src.select((col("id").as("id_a") +: col("hs").as("hs_a") +:
        col("band") +: scopeCols.map(col)): _*)
      val b = src.select((col("id").as("id_b") +: col("hs").as("hs_b") +:
        col("band") +: scopeCols.map(col)): _*)
      a.join(b, joinKeys)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("hs_a"), col("hs_b"))
    }
    // oversized buckets: rank by id, then equi-join rank → rank+1 (exactly
    // one partner per row) — linear fan-out, bucket stays one component
    def chainPairsOf(src: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(bucketKey: _*).orderBy(col("id"))
      val big = src.withColumn("__rk", row_number().over(w))
      val ca = big.select((col("id").as("id_a") +: col("hs").as("hs_a") +:
        col("band") +: (col("__rk") + 1).as("__nrk") +: scopeCols.map(col)): _*)
      val cb = big.select((col("id").as("id_b") +: col("hs").as("hs_b") +:
        col("band") +: col("__rk").as("__nrk") +: scopeCols.map(col)): _*)
      ca.join(cb, "band" +: "__nrk" +: scopeCols)
        .select(col("id_a"), col("id_b"), col("hs_a"), col("hs_b"))
    }
    // mega-bucket key set: an aggregate over the cached sig (map-side combine
    // → a few rows per bucket key), NOT a window — the healthy path must not
    // pay a full sort for a guard that almost never fires. One tiny
    // driver-side emptiness probe on it; the healthy path then runs EXACTLY
    // the unguarded all-pairs plan. The probe's job materializes the sig
    // cache that the pair job would have paid anyway, so the guard costs the
    // agg + one scheduling round-trip. Measured on the q47 shape at sf0.1
    // (best-of-3 warm): unguarded 1.76 s, this probe 1.82 s; an in-plan
    // broadcast anti/semi-join guard with no driver action read 2.21 s (two
    // extra probe scans of sig even when no bucket is hot) — BASELINE.md
    // "Round 5: candidatePairs mega-bucket guard A/B".
    val hot = sig.groupBy(bucketKey: _*).agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucket)
      .select(bucketKey: _*)
      .cache()
    val pairsRaw =
      if (hot.count() == 0) allPairsOf(sig)
      else {
        val hotB = broadcast(hot)
        allPairsOf(sig.join(hotB, joinKeys, "left_anti"))
          .unionByName(chainPairsOf(sig.join(hotB, joinKeys, "left_semi")))
      }
    val pairs = pairsRaw
      .select(col("id_a"), col("id_b"), jaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      // filter before dedup: jaccard is pure per pair, so duplicates pass or
      // fail identically and the dedup shuffle carries only surviving pairs
      .filter(col("jaccard") >= minJaccard)
      .dropDuplicates("id_a", "id_b")
    // materialize the (small) verified pair set, then RELEASE the exploded
    // band-signature cache — leaving it pinned for the session would leak a
    // docs×bands table with full hash arrays per call (the pair list is
    // orders of magnitude smaller; callers may unpersist it when done)
    val snap = pairs.cache()
    snap.count()
    hot.unpersist()
    sig.unpersist()
    snap
  }

  /** Near-CONTAINMENT pairs: LSH-banded candidates scored by set containment
    * in both directions — containment(A in B) = |A∩B| / |A| over the
    * per-token h1 longs — instead of Jaccard. This is the asymmetric-dedup
    * operator ("this crawl page is 90% a copy of that reference doc even
    * though the page is 10× longer") that a symmetric Jaccard threshold
    * misses: J(A,B) ≤ |A|/|B| however complete the containment.
    *
    * Honest limitation, stated: candidates still come from MINHASH banding,
    * which approximates JACCARD — a tiny doc fully contained in a huge one
    * may collide in no band. Raise `bands` (more, narrower bands → lower
    * collision threshold) when asymmetric sizes dominate; the exact answer
    * at scale is the inverted-index/ExactSubstr family (q79's shape), at
    * higher cost. No mega-bucket guard here (see candidatePairs' `maxBucket`
    * for the flood-bucket fuse to replicate if needed).
    */
  def containmentPairs(df: DataFrame, idCol: String, setCol: String,
                       hashes: Int, bands: Int, minContainment: Double,
                       scopeCols: Seq[String] = Nil): DataFrame = {
    val rows = hashes / bands
    val sig = widenNarrowInput(
        df.select((col(idCol).as("id") +: col(setCol).as("toks") +:
          scopeCols.map(col)): _*))
      .withColumn("hp", tokenHashPairs(col("toks"))) // one md5 pass per doc
      .withColumn("hs", transform(col("hp"), p => p.getField("h1")))
      // explode_outer + null filter: see candidatePairs (generate-inlining)
      .withColumn("band",
        explode_outer(bandKeys(minhashSignatureFromPairs(col("hp"), hashes), bands, rows)))
      .filter(col("band").isNotNull)
      // empty token sets are EXCLUDED, matching the differential oracle
      // (their DuckDB band is NULL via || of NULL signature parts, so they
      // never pair there) — and leaving them in would put every empty doc
      // into ONE shared bucket (concat_ws skips null parts): a quadratic
      // flood of all-empty pairs whose similarity is 0/0 = NaN anyway
      .filter(size(col("hs")) > 0)
      .drop("hp", "toks")
      .cache()
    val joinKeys = "band" +: scopeCols
    val a = sig.select((col("id").as("id_a") +: col("hs").as("hs_a") +:
      col("band") +: scopeCols.map(col)): _*)
    val b = sig.select((col("id").as("id_b") +: col("hs").as("hs_b") +:
      col("band") +: scopeCols.map(col)): _*)
    // |A∩B| once; both denominators are DISTINCT counts (h1 collisions across
    // distinct tokens dedup identically in both engines). Containments are
    // computed BEFORE the multi-band dedup so dropDuplicates shuffles tiny
    // (id, id, cont, cont) rows, not pair rows still carrying both hash
    // arrays — measured 19.5 MB → ~2 MB shuffle at sf0.1 (BASELINE.md,
    // round-5 shuffle audit);
    // cont is a pure function of the pair, so the kept row is deterministic.
    // one-pass counts (native SetOverlap): |∩|, |A|, |B| from a single table
    // scan per pair — the composed form paid three set builds per candidate
    val ov = setOverlap(col("hs_a"), col("hs_b"))
    val pairs = a.join(b, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .withColumn("__ov", ov)
      .select(col("id_a"), col("id_b"),
        (col("__ov.inter").cast("double") / col("__ov.na")).as("cont_a_in_b"),
        (col("__ov.inter").cast("double") / col("__ov.nb")).as("cont_b_in_a"))
      // filter before dedup (pure per pair → commutes; dedup shuffles only
      // surviving pairs)
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= minContainment)
      .dropDuplicates("id_a", "id_b")
    val snap = pairs.cache()
    snap.count()
    sig.unpersist()
    snap
  }

  /** Cross-corpus near-dup: MinHash/LSH-banded join of a NEW document batch
    * against an EXISTING reference corpus — the "dedup tonight's crawl against
    * the whole training set" pass, where a self-join over new ∪ existing would
    * re-pay the full corpus every night. Returns (id_new, id_ref, jaccard)
    * for pairs with exact-verified Jaccard ≥ `minJaccard`.
    *
    * Scale shape: both sides band on (band key) exactly like `candidatePairs`,
    * so the join is bucket-local, never all-pairs; the reference side's banded
    * signatures are a pure function of the corpus — persist (or pre-write)
    * them once and amortize across batches.
    *
    * Degenerate-bucket guard (`maxRefPerBucket`): a boilerplate bucket
    * (empty-token docs, templated pages) on the reference side multiplies
    * EVERY colliding new doc by the whole bucket. Capping the reference side
    * at K rows per band bucket (lowest ids, deterministic) bounds the
    * fan-out at K pairs per new doc per band. This is a BOUNDED-RECALL
    * approximation, not decision-preserving: a band collision only means
    * ONE band's signature agrees, not verified similarity — if the sole
    * true near-dup of a new doc ranks beyond the K retained rows in every
    * bucket they share, while the retained K are LSH false positives below
    * `minJaccard`, that new doc is wrongly classified clean. The cap's
    * defense is the target case: oversized buckets are template floods
    * whose retained members are near-identical to each other, so verifying
    * against any K of them usually answers "does this doc near-dup the
    * flood". Enable it as a skew fuse, size K generously (≫ expected true
    * matches per bucket), and treat misses in capped buckets as possible.
    * Off by default: the full pair list (the oracle-checked q86 shape)
    * needs every pair.
    */
  /** @param broadcastNew when true (the nightly-batch norm: new ≪ reference)
    *   the NEW side's banded signatures are broadcast, so the REFERENCE
    *   corpus — the 100 TB side — is never shuffled at all: the join runs
    *   map-side over the ref scan (12.9 MB → 0 MB exchange at sf0.1;
    *   BASELINE.md, round-5 shuffle audit). Leave false when the new batch
    *   is too big to replicate (rule of thumb: banded signatures ≈ bands ×
    *   tokens × 8 B per doc).
    */
  def crossCorpusPairs(newDf: DataFrame, refDf: DataFrame, idCol: String,
                       setCol: String, hashes: Int, bands: Int,
                       minJaccard: Double,
                       maxRefPerBucket: Int = Int.MaxValue,
                       broadcastNew: Boolean = false): DataFrame =
    crossCorpusPairsImpl(
      bandedSignatures(newDf, idCol, setCol, hashes, bands),
      bandedSignatures(refDf, idCol, setCol, hashes, bands),
      minJaccard, maxRefPerBucket, broadcastNew)

  /** The banded-signature frame both sides of a cross-corpus join stand on:
    * (id, hs = per-token h1 longs for the exact-Jaccard verify, band = one
    * row per band key). A pure function of (corpus, hashes, bands).
    */
  private def bandedSignatures(df: DataFrame, idCol: String, setCol: String,
                               hashes: Int, bands: Int): DataFrame = {
    val rows = hashes / bands
    widenNarrowInput(df.select(col(idCol).as("id"), col(setCol).as("toks")))
      .withColumn("hp", tokenHashPairs(col("toks"))) // one md5 pass per doc
      .withColumn("hs", transform(col("hp"), p => p.getField("h1")))
      // explode_outer + null filter: see candidatePairs (generate-inlining)
      .withColumn("band",
        explode_outer(bandKeys(minhashSignatureFromPairs(col("hp"), hashes), bands, rows)))
      .filter(col("band").isNotNull)
      // empty token sets are EXCLUDED, matching the differential oracle
      // (their DuckDB band is NULL via || of NULL signature parts, so they
      // never pair there) — and leaving them in would put every empty doc
      // into ONE shared bucket (concat_ws skips null parts): a quadratic
      // flood of all-empty pairs whose similarity is 0/0 = NaN anyway
      .filter(size(col("hs")) > 0)
      .select(col("id"), col("hs"), col("band"))
  }

  /** Persist a REFERENCE corpus's banded signatures once — the amortization
    * the cross-corpus scale shape calls for: signatures are a pure function
    * of (corpus, hashes, bands), so nightly batches join against this
    * parquet instead of re-hashing the whole training set per batch. Write
    * once, then `crossCorpusPairsFromSignatures` per batch. The layout is
    * partitioned by nothing and bucketable by `band` downstream; pass the
    * SAME (hashes, bands) to the read side — the file carries no metadata.
    */
  def writeBandedSignatures(refDf: DataFrame, idCol: String, setCol: String,
                            hashes: Int, bands: Int, path: String): Unit =
    bandedSignatures(refDf, idCol, setCol, hashes, bands)
      .write.mode("overwrite").parquet(path)

  /** `crossCorpusPairs` against signatures previously persisted with
    * `writeBandedSignatures` — identical output to the two-DataFrame form
    * (CorpusOpsSpec pins the equivalence), minus the reference-side hashing.
    */
  def crossCorpusPairsFromSignatures(newDf: DataFrame, signaturesPath: String,
                                     idCol: String, setCol: String,
                                     hashes: Int, bands: Int,
                                     minJaccard: Double,
                                     maxRefPerBucket: Int = Int.MaxValue,
                                     broadcastNew: Boolean = false): DataFrame =
    crossCorpusPairsImpl(
      bandedSignatures(newDf, idCol, setCol, hashes, bands),
      newDf.sparkSession.read.parquet(signaturesPath),
      minJaccard, maxRefPerBucket, broadcastNew)

  /** Reference-side banded signatures as a DataFrame (the in-memory form of
    * [[writeBandedSignatures]] — same frame, not persisted). Callers that
    * join it repeatedly (e.g. per micro-batch) should persist or checkpoint
    * it; the parquet path is the production form.
    */
  def referenceSignatures(refDf: DataFrame, idCol: String, setCol: String,
                          hashes: Int, bands: Int): DataFrame =
    bandedSignatures(refDf, idCol, setCol, hashes, bands)

  /** STREAMING ingestion-time near-dup gate — [[crossCorpusPairs]] with the
    * new side a STREAM: every arriving document is signature-banded
    * row-locally (md5 token hashing, minhash, band keys are all per-row
    * expressions, so they run inside the micro-batch with no state), joined
    * stream-static against the reference signatures (the static side is
    * re-evaluated per micro-batch — hand this the persisted
    * [[writeBandedSignatures]] parquet, or a checkpointed frame, never a
    * recompute-per-batch plan), exact-Jaccard verified, and emitted as
    * (id_new, id_ref, jaccard) pairs in append mode. `dropDuplicates` state
    * holds one row per emitted pair; bound it with a watermark on an
    * event-time column in production ingestion.
    *
    * Partitioning caveat: a streaming plan's width cannot be inspected
    * (Width.widen is batch-only), and the signature build is md5-dense — a
    * source that delivers a micro-batch as few partitions (file replay, a
    * single kafka partition) should `repartition` the RAW rows before
    * computing `setCol`, so the hashing lands wide (q114 does; measured 9×
    * super-linear without it).
    */
  def streamCrossCorpusPairs(newStream: DataFrame, refSig: DataFrame,
                             idCol: String, setCol: String,
                             hashes: Int, bands: Int,
                             minJaccard: Double): DataFrame =
    crossCorpusPairsImpl(
      bandedSignatures(newStream.select(col(idCol), col(setCol)), idCol, setCol, hashes, bands),
      refSig, minJaccard, Int.MaxValue, broadcastNew = false)

  private def crossCorpusPairsImpl(newSig: DataFrame, refSig: DataFrame,
                                   minJaccard: Double,
                                   maxRefPerBucket: Int,
                                   broadcastNew: Boolean): DataFrame = {
    val a0 = newSig.select(col("id").as("id_new"), col("hs").as("hs_new"), col("band"))
    val a = if (broadcastNew) broadcast(a0) else a0
    val bAll = refSig.select(col("id").as("id_ref"), col("hs").as("hs_ref"), col("band"))
    val b =
      if (maxRefPerBucket == Int.MaxValue) bAll
      else {
        // per-bucket rank: the sort cost is per-bucket n log n — the guard's
        // price when it is ON, versus the quadratic join it prevents
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band")).orderBy(col("id_ref"))
        bAll.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= maxRefPerBucket).drop("__rk")
      }
    a.join(b, "band")
      .select(col("id_new"), col("id_ref"),
        jaccard(col("hs_new"), col("hs_ref")).as("jaccard"))
      // a pair can collide in several bands; jaccard is a pure function of
      // the pair, so every duplicate passes or fails the threshold
      // identically — filtering BEFORE the dedup commutes, and shrinks the
      // dedup shuffle from all band-colliding candidates to the final pair
      // list (the dominant exchange in the broadcast plan; BASELINE.md,
      // round-5 shuffle audit)
      .filter(col("jaccard") >= minJaccard)
      .dropDuplicates("id_new", "id_ref")
  }
}

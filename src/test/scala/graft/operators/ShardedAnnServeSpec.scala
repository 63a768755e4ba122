package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Plan + semantics pins for the PARTITIONED ANN serving index
  * ([[IvfShardedServe]], gate q165). The whole point of the sharded form is
  * what the plan does NOT contain — a corpus-sized broadcast — so these
  * tests assert plan shape, not just rows.
  */
class ShardedAnnServeSpec extends SparkSpec {

  import spark.implicits._

  private lazy val emb =
    Tables(spark, sf, "embeddings").select($"vec_id", $"embedding", $"label")
  private lazy val bBits = IvfShardedServe.bBitsFor(emb.count())
  private lazy val postings = IvfShardedServe.buildPostings(emb, bBits)
  private lazy val cents = IvfShardedServe.buildCentroids(postings)

  /** Batch probe rows shaped like the streaming probe stage's output. */
  private def batchProbes() = {
    val local = cents
    val centDf = local.map { case (c, m) => (c, m.toSeq) }.toSeq
      .toDF("cell", "cv")
    // probe with plain SQL against the centroid table (batch twin of the
    // in-stream service): rank by round(cos, 9) DESC, cell ASC, take 2.
    // Fresh scan — the streaming form's probe side exits a mapPartitions
    // stage, so no self-join lineage exists there; mirror that here.
    val q = Tables(spark, sf, "embeddings")
      .select($"vec_id", $"embedding", $"label")
      .filter($"vec_id" % 40 === 1)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    import graft.functions.SimilarityFunctions.{dot, toDouble}
    val qn = sqrt(dot(toDouble($"qv"), toDouble($"qv")))
    import org.apache.spark.sql.expressions.Window
    q.withColumn("qn", qn)
      .crossJoin(broadcast(centDf))
      .withColumn("c", dot(toDouble($"qv"), toDouble($"cv")) /
        ($"qn" * sqrt(dot($"cv", $"cv"))))
      .withColumn("rn", row_number().over(Window.partitionBy($"query_id")
        .orderBy(round($"c", 9).desc, $"cell".asc)))
      .filter($"rn" <= 2)
      .withColumn("ts", timestamp_seconds($"query_id"))
      .select($"ts", $"query_id", $"qv", $"qn", $"cell".as("probe_cell"))
      // materialize: the serving plan under test starts from the probe rows
      // (in the streaming form they exit the service stage), not from this
      // batch twin's own centroid-broadcast construction
      .localCheckpoint()
  }

  test("serveProbed plan: shuffle-hash join on cell, NO broadcast of the postings") {
    val probes = batchProbes()
    val served = IvfShardedServe.serveProbed(probes, postings, k = 5)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"expected a shuffle-hash join on cell id, got:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"the sharded plan must not broadcast the corpus:\n$plan")
  }

  test("bucketed posting table: the static join side reads pre-hashed buckets, no exchange") {
    val table = "graft_spec_ann_postings"
    val bucketed = IvfShardedServe.postingsAsBucketedTable(
      postings, table, buckets = 4)
    val probes = batchProbes()
    val served = IvfShardedServe.serveProbed(probes, bucketed, k = 5)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"))
    // only the PROBE side shuffles into the join: the postings side scans
    // pre-hashed buckets directly (Bucketed: true, no Exchange on cell) —
    // this is the per-micro-batch plan a 100 TB index runs, where
    // re-shuffling the corpus every batch would be fatal. (The remaining
    // exchange above the join is the answer-sized top-k aggregation.)
    val joinSection = plan.split("ShuffledHashJoin")(1)
    assert(joinSection.contains("Bucketed: true"),
      s"postings must come from the bucketed scan:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(probe_cell"),
      s"probe rows route to the bucket layout:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(cell"),
      s"the postings side must have NO exchange — bucketing satisfies the join:\n$plan")
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("centroid build: bucket-aligned scan drops the exchange; misaligned input falls back") {
    val table = "graft_spec_ivf_centbuild"
    val bucketed = IvfShardedServe.postingsAsBucketedTable(postings, table, buckets = 4)
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(autoKey)
    try {
      spark.conf.set(autoKey, "false")
      val (alignedDf, aligned) = IvfShardedServe.centroidBuildInput(bucketed)
      assert(aligned, "bucketed-by-cell postings must take the aligned path")
      val plan = alignedDf.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"aligned centroid input must carry NO exchange:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"aligned centroid input must read the bucketed layout:\n$plan")
      // a derived view (no bucketed files behind it) must NOT take the
      // aligned path — the guard is what makes the optimization safe
      val (fallbackDf, misAligned) = IvfShardedServe.centroidBuildInput(postings)
      assert(!misAligned, "a derived view is not bucket-aligned; must fall back")
      assert(fallbackDf.queryExecution.executedPlan.toString.contains("Exchange"),
        "the fallback path keeps its repartition(cell) exchange")
    } finally prev match {
      case Some(v) => spark.conf.set(autoKey, v)
      case None => spark.conf.unset(autoKey)
    }
    // end-to-end equality through the public API: aligned (bucketed table)
    // and fallback (view) builds produce bit-identical centroids
    val a = IvfShardedServe.buildCentroids(bucketed)
    val b = IvfShardedServe.buildCentroids(postings)
    assert(a.map { case (c, m) => (c, m.toSeq) }.toSeq ==
      b.map { case (c, m) => (c, m.toSeq) }.toSeq)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("FIT/SERVE split: fit persists an index that loads back bit-equal and serves identically") {
    val tbl = "graft_spec_ivf_split"
    val idx = IvfShardedServe.fit(emb, tbl, buckets = 4)
    assert(idx.bBits == bBits)
    val loaded = IvfShardedServe.load(spark, tbl).get
    assert(loaded.bBits == idx.bBits && loaded.buckets == 4)
    // the persisted model round-trips BIT-equal to the in-memory
    // deterministic build — the property that lets the oracle replay the
    // prebuilt index without knowing fit and serve were split
    assert(loaded.cents.map { case (c, m) => (c, m.toSeq) }.toSeq ==
      cents.map { case (c, m) => (c, m.toSeq) }.toSeq)
    val probes = batchProbes()
    def rows(p: org.apache.spark.sql.DataFrame) =
      IvfShardedServe.serveProbed(probes, p, k = 5)
        .orderBy($"query_id", $"rank").collect().toSeq
    assert(rows(postings) == rows(loaded.postings(spark)),
      "serving the persisted index must equal serving the derived view")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${IvfShardedServe.centroidsTable(tbl)}")
  }

  test("incremental append: frozen cells grow in place; appended vectors immediately servable") {
    val tbl = "graft_spec_ivf_incr"
    val base = emb.filter($"vec_id" % 2 === 0)
    val late = emb.filter($"vec_id" % 2 =!= 0)
    val idx = IvfShardedServe.fit(base, tbl, buckets = 4)
    val modelBefore = idx.cents.map { case (c, m) => (c, m.toSeq) }.toSeq
    IvfShardedServe.append(spark, idx, late)
    val loaded = IvfShardedServe.load(spark, tbl).get
    // the model is FROZEN — append refreshes contents, never the routing
    // topology (the replicated-map-refresh analog)
    assert(loaded.bBits == idx.bBits)
    assert(loaded.cents.map { case (c, m) => (c, m.toSeq) }.toSeq == modelBefore)
    // postings now cover the union exactly once, under the frozen cell rule
    assert(loaded.postings(spark).count() == emb.count())
    val expectedCells = IvfShardedServe.buildPostings(late, idx.bBits)
      .select($"vec_id", $"cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val gotCells = loaded.postings(spark)
      .join(late.select($"vec_id"), Seq("vec_id"))
      .select($"vec_id", $"cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotCells == expectedCells)
    // immediate servability: a probe at an appended vector's own cell finds
    // it as the exact-match top candidate (cosine 1) — no refit in between
    val target = late.orderBy($"vec_id").limit(1)
    val probe1 = IvfShardedServe.buildPostings(target, idx.bBits)
      .select(timestamp_seconds(lit(1)).as("ts"), lit(-999L).as("query_id"),
        $"embedding".as("qv"), $"nrm".as("qn"), $"cell".as("probe_cell"))
      .localCheckpoint()
    val targetId = target.select($"vec_id").head().getLong(0)
    val top = IvfShardedServe.serveProbed(probe1, loaded.postings(spark), k = 1)
      .collect()
    assert(top.length == 1 && top.head.getLong(2) == targetId,
      s"appended vector $targetId not served, got ${top.toSeq}")
    assert(math.abs(top.head.getDouble(3) - 1.0) < 1e-9)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${IvfShardedServe.centroidsTable(tbl)}")
  }

  test("sharded serving matches the in-service q162 result exactly") {
    val a = graft.queries.StreamingQueries.q162_stream_ann_ivf_serve(spark, sf)
      .orderBy($"query_id", $"rank").collect().toSeq
    val b = graft.queries.StreamingQueries.q165_stream_ann_ivf_shard(spark, sf)
      .orderBy($"query_id", $"rank").collect().toSeq
    assert(a == b, "broadcast and partitioned forms must agree row-for-row")
  }

  test("broadcast-index serving guard: both forms refuse above the cap, naming the sharded plan") {
    import graft.queries.StreamingQueries
    val cap = StreamingQueries.BruteServeMaxIndexVectors
    // at the cap: silent pass (the gate fixtures sit far below it)
    StreamingQueries.requireBroadcastServable(cap, "brute-force ANN serving")
    // one above: loud refusal whose text steers to q165/IvfShardedServe —
    // the guard q161 gained in r16 and q162 in r18 (VERDICT r17 #2); both
    // gate queries route through this one helper, so pinning its message
    // pins both surfaces
    for (form <- Seq("brute-force ANN serving", "IVF broadcast serving")) {
      val ex = intercept[IllegalArgumentException] {
        StreamingQueries.requireBroadcastServable(cap + 1, form)
      }
      val msg = ex.getMessage
      assert(msg.contains(s"$form index has ${cap + 1} vectors"), msg)
      assert(msg.contains(s"cap $cap"), msg)
      assert(msg.contains("q165_stream_ann_ivf_shard"), msg)
      assert(msg.contains("operators.IvfShardedServe"), msg)
    }
  }

  test("graft_topk: bounded, 9-dp-quantized ordering with id tiebreak, merge-safe") {
    val df = Seq(
      (1L, 0.5000000001, 10L), // quantizes to 0.500000000
      (1L, 0.5000000004, 11L), // also 0.500000000 -> tie, id order
      (1L, 0.9, 12L),
      (1L, 0.1, 13L),
      (1L, 0.9, 9L), // exact tie with 12 -> lower id first
      (2L, 0.3, 20L))
      .toDF("g", "score", "id")
      .repartition(4) // force partial/merge path
    val out = df.groupBy($"g")
      .agg(IvfShardedServe.topkColumn($"score", $"id", 3).as("topk"))
      .select($"g", posexplode($"topk").as(Seq("pos", "t")))
      .select($"g", $"pos", $"t.id".as("id"))
      .orderBy($"g", $"pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (1L, 0, 9L), (1L, 1, 12L), (1L, 2, 10L), // 0.9/9, 0.9/12, then tie 10<11
      (2L, 0, 20L)))
  }

  test("graft_topk rejects non-positive k at analysis time") {
    val df = Seq((1L, 0.5, 10L)).toDF("g", "score", "id")
    for (k <- Seq(0, -3)) {
      val ex = intercept[Exception] {
        df.groupBy($"g")
          .agg(IvfShardedServe.topkColumn($"score", $"id", k).as("topk"))
          .collect()
      }
      assert(ex.getMessage.toLowerCase.contains("k > 0"),
        s"k=$k must fail type-check, got: ${ex.getMessage.take(200)}")
    }
  }

  test("graft_topk buffer serialize/deserialize round-trips (streaming-state path)") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    val agg = graft.functions.expr.TopKScored(
      BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true),
      Literal(2, IntegerType))
    val buf = agg.createAggregationBuffer()
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    Seq((0.7, 1L), (0.9, 2L), (0.8, 3L)).foreach { case (s0, i0) =>
      row.update(0, s0); row.update(1, i0)
      agg.update(buf, row)
    }
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.size == 2)
    assert((back.scores(0), back.ids(0)) == (0.9, 2L))
    assert((back.scores(1), back.ids(1)) == (0.8, 3L))
    // merge a deserialized buffer into a fresh one (the combine path)
    val buf2 = agg.createAggregationBuffer()
    row.update(0, 0.85); row.update(1, 4L)
    agg.update(buf2, row)
    val merged = agg.merge(buf2, back)
    assert((merged.scores(0), merged.ids(0)) == (0.9, 2L))
    assert((merged.scores(1), merged.ids(1)) == (0.85, 4L))
  }
}

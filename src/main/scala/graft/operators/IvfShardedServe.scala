package graft.operators

import graft.pipeline.ServiceFactory
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PARTITIONED streaming ANN serving over IVF coarse cells — the form that
  * survives an index larger than one executor's heap (VERDICT r10 item 1).
  *
  * The in-service form (q162, `StreamingQueries.q162_stream_ann_ivf_serve`)
  * holds centroids AND the full posting lists in one broadcast service
  * object — fine to ~10⁷ vectors, impossible at 100 TB corpus scale. This
  * operator splits the index the way the reference splits enrichment state
  * into `mapUsingReplicatedMap` (replicated = broadcast-sized) vs
  * `mapUsingIMap` (partitioned, key-routed) — reference
  * hazelcast-jet-core/src/main/java/com/hazelcast/jet/pipeline/
  * GeneralStage.java:582-734 draws exactly this distinction:
  *
  *   - centroids (O(√N) rows — model-scale) ride a broadcast service; each
  *     event ranks them and picks its `nprobe` cells — sub-linear per-event
  *     driver of the whole design;
  *   - posting lists stay a cell-keyed TABLE; probes resolve via a
  *     stream-static equi-join on cell id, so each micro-batch routes only
  *     the (tiny) probe rows to the shards — the corpus is never collected,
  *     never broadcast, and each join task holds only its own cells;
  *   - the per-query top-k runs IN-STREAM as a windowed aggregation with
  *     the bounded [[graft.functions.expr.TopKScored]] accumulator
  *     (answer-sized buffer), not a batch post-pass.
  *
  * Shuffle accounting (the 100 TB story): the static side is re-planned per
  * micro-batch, so the gate form pins a SHUFFLE_HASH join (no corpus-sized
  * broadcast — asserted by ShardedAnnServeSpec). In production the postings
  * are a table BUCKETED BY cell (written once per index build, see
  * [[postingsAsBucketedTable]]): the bucketed scan already satisfies the
  * join's hash distribution, the static-side exchange disappears from the
  * per-batch plan, and the only moving data is probes-to-buckets.
  *
  * Arithmetic is term-for-term the q162 serving loop (sequential double
  * dot, separate norms, 9-dp HALF_UP rank quantization with id tiebreaks),
  * so the restricted-recall oracle replays it exactly.
  */
object IvfShardedServe {

  /** Smallest b with 100 · 4^b ≥ n (integer arithmetic — replayed
    * bit-identically by the oracle; see q162's doc for why no float log2).
    */
  def bBitsFor(n: Long): Int = {
    var b0 = 0
    while (100L * (1L << (2 * b0)) < n) b0 += 1
    b0
  }

  /** The composite coarse-cell id as a CATALYST COLUMN — label × the sign
    * bits of the leading `bBits` dimensions, evaluated inside codegen on
    * the executors (the in-service form computes the same cell id from
    * collected rows; this one never collects the corpus).
    */
  def cellColumn(embedding: Column, label: Column, bBits: Int): Column = {
    val bits = (0 until bBits).foldLeft(lit(0L)) { (acc, j) =>
      acc + when(element_at(embedding, j + 1) >= lit(0.0f), lit(1L << j))
        .otherwise(lit(0L))
    }
    label.cast("long") * lit(1L << bBits) + bits
  }

  /** Cell-keyed posting "lists" as a plain DataFrame:
    * (vec_id, embedding, label, cell, nrm). At corpus scale this is the
    * bucketed-by-cell table; the gate keeps it a derived view.
    */
  def buildPostings(emb: DataFrame, bBits: Int): DataFrame = {
    import graft.functions.SimilarityFunctions.{dot, toDouble}
    emb.withColumn("cell", cellColumn(col("embedding"), col("label"), bBits))
      .withColumn("nrm",
        sqrt(dot(toDouble(col("embedding")), toDouble(col("embedding")))))
  }

  /** Per-cell mean vectors, computed DISTRIBUTED but DETERMINISTIC: one
    * shuffle by cell, then a sequential in-partition accumulation in
    * (cell, vec_id) order — the exact summation order of the in-service
    * index build (which sums vectors sorted by vec_id), so centroids are
    * bit-identical to q162's and the shared oracle's 9-dp quantization
    * sees the same values. A plain `avg` aggregate would partial-combine
    * in nondeterministic partition order — harmless for analytics, fatal
    * for a differential gate that compares doubles quantized at 9 dp.
    *
    * Output is cell-count-sized (O(√N)) — the ONLY thing this operator
    * ever collects.
    */
  /** The prepared accumulation input + whether the BUCKET-ALIGNED
    * (exchange-free) path applies (r20, VERDICT r19 item 5). When the
    * postings frame is served by a genuine bucketed-by-cell scan, every cell
    * already lives whole inside one scan partition — the corpus-sized
    * `repartition(cell)` exchange the fallback pays adds nothing, so the
    * aligned path is just the in-partition sort. The guard is PLAN-TIME
    * (Bridge.bucketedScanOn on the exact frame to be executed): anything
    * else — a view, a misconfigured read, a scan auto-demoted to
    * non-bucketed — falls back to the shuffle, never silently splits a cell
    * (a parquet file split mid-cell would corrupt the sequential sums).
    * Callers must evaluate an aligned frame under the same
    * autoBucketedScan=false bracket the guard was checked under —
    * [[buildCentroids]] owns that bracket.
    */
  private[graft] def centroidBuildInput(postings: DataFrame): (DataFrame, Boolean) = {
    import org.apache.spark.sql.graftops.Bridge
    val sel = postings.select(col("cell"), col("vec_id"), col("embedding"))
    val aligned = sel.sortWithinPartitions(col("cell"), col("vec_id"))
    if (Bridge.bucketedScanOn(aligned, "cell")) (aligned, true)
    else (sel.repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id")), false)
  }

  def buildCentroids(postings: DataFrame): Array[(Long, Array[Double])] = {
    val s = postings.sparkSession
    import s.implicits._
    // bracket BOTH the plan-time guard and the execution: with
    // auto-bucketed-scan on, Spark demotes a bucketed read whenever the plan
    // itself shows no required distribution — and an opaque mapPartitions
    // shows none, so the aligned path would never engage (and worse, a
    // demoted scan may SPLIT files and break cell-partition locality)
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = s.conf.getOption(autoKey)
    try {
      s.conf.set(autoKey, "false")
      materializeCentroids(centroidBuildInput(postings)._1)
    } finally prevAuto match {
      case Some(v) => s.conf.set(autoKey, v)
      case None => s.conf.unset(autoKey)
    }
  }

  /** The deterministic per-cell sequential accumulation + collect — shared
    * by both centroid-build paths (identical arithmetic; only the absence of
    * the exchange differs).
    */
  private def materializeCentroids(prepared: DataFrame): Array[(Long, Array[Double])] = {
    val s = prepared.sparkSession
    import s.implicits._
    prepared
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
        var cur = 0L
        var sum: Array[Double] = null
        var cnt = 0L
        def flush(): Unit = if (sum != null) {
          val m = new Array[Double](sum.length)
          var i = 0
          while (i < sum.length) { m(i) = sum(i) / cnt; i += 1 }
          out += ((cur, m.toSeq))
        }
        it.foreach { r =>
          val c = r.getLong(0)
          val v = r.getSeq[Float](2)
          if (sum == null || c != cur) {
            flush(); cur = c; sum = new Array[Double](v.length); cnt = 0L
          }
          var i = 0
          while (i < v.length) { sum(i) += v(i).toDouble; i += 1 }
          cnt += 1
        }
        flush()
        out.iterator
      }
      .collect()
      .map { case (c, m) => (c, m.toArray) }
      .sortBy(_._1)
  }

  /** Centroid-only service state — what a replicated map would hold. */
  final case class CentIndex(cellIds: Array[Long], cents: Array[Array[Double]],
                             norms: Array[Double])

  val probeSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("query_id", LongType),
    StructField("qv", ArrayType(FloatType)),
    StructField("qn", DoubleType),
    StructField("probe_cell", LongType)))

  /** The in-stream probe stage: each event ranks the broadcast centroids
    * (quant9 DESC, cell ASC — the oracle's probe ordering) and fans out to
    * `nprobe` (query, cell) rows. Events with query_id < 0 are watermark
    * sentinels: they emit ONE row with probe_cell = -1 (matches no cell),
    * so their event time still flows through the downstream watermark node
    * while producing no candidates.
    */
  def probe(stream: DataFrame, tsCol: String,
            cents: Array[(Long, Array[Double])], nprobe: Int): DataFrame = {
    val local = cents // serialize only centroids into the closure
    val factory = ServiceFactory(() => {
      val cellIds = local.map(_._1)
      val cs = local.map(_._2)
      val norms = cs.map { c =>
        var s0 = 0.0; var i = 0
        while (i < c.length) { s0 += c(i) * c(i); i += 1 }
        math.sqrt(s0)
      }
      CentIndex(cellIds, cs, norms)
    })
    // spread the probe across the executor pool: the replay/file source
    // yields one-or-two input partitions per micro-batch, and without this
    // the O(cells)-per-event centroid ranking ran on 1-2 tasks while the
    // rest of the box idled (the r18 1000×-rung jstack finding — 30 of 32
    // executor threads parked). The shuffled rows are the answer-sized
    // query events, not the corpus.
    val parts = stream.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    new graft.pipeline.StreamStage(stream.repartition(parts), tsCol)
      .flatMapUsingService(factory, probeSchema) { (svc, r) =>
        val ts = r.getTimestamp(0)
        val qid = r.getLong(1)
        if (qid < 0L) {
          Seq(Row(ts, qid, Seq.empty[Float], 0.0, -1L))
        } else {
          val qv = r.getSeq[Float](2).toArray
          var qn = 0.0
          var i = 0
          while (i < qv.length) { qn += qv(i).toDouble * qv(i).toDouble; i += 1 }
          qn = math.sqrt(qn)
          // bounded top-nprobe selection on the PRIMITIVE quantized key
          // ((quant9 DESC, cell ASC) — quant9Long preserves the BigDecimal
          // ordering exactly): O(cells · nprobe) long compares instead of a
          // full O(cells log cells) sort with BigDecimal comparators, the
          // probe stage's entire hot cost at corpus-scaled query rates
          import graft.functions.SimilarityFunctions.quant9Long
          val n = svc.cellIds.length
          val topCi = new Array[Int](nprobe)
          val topQ = new Array[Long](nprobe)
          var filled = 0
          var ci = 0
          while (ci < n) {
            var d = 0.0
            val c = svc.cents(ci)
            var t = 0
            while (t < c.length) { d += qv(t).toDouble * c(t); t += 1 }
            val denom = qn * svc.norms(ci)
            val cos = d / denom
            val q = quant9Long(if (java.lang.Double.isFinite(cos)) cos else 0.0)
            // rank earlier ⇔ larger q, then smaller cell id (ids are scanned
            // ascending, so on a tie the incumbent — smaller cell — wins)
            var pos = filled
            while (pos > 0 && q > topQ(pos - 1)) pos -= 1
            if (pos < nprobe) {
              val last = math.min(filled, nprobe - 1)
              var j = last
              while (j > pos) { topQ(j) = topQ(j - 1); topCi(j) = topCi(j - 1); j -= 1 }
              topQ(pos) = q
              topCi(pos) = ci
              if (filled < nprobe) filled += 1
            }
            ci += 1
          }
          (0 until filled).map { j =>
            Row(ts, qid, r.getSeq[Float](2), qn, svc.cellIds(topCi(j)))
          }
        }
      }.df
  }

  /** `graft_topk(score, id, k)` as a Column. */
  def topkColumn(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.graftops.Bridge
    Bridge.column(graft.functions.expr.TopKScored(
      Bridge.expression(score), Bridge.expression(id),
      org.apache.spark.sql.catalyst.expressions.Literal(k))
      .toAggregateExpression())
  }

  /** The full sharded serving pipeline on an already-probed stream:
    * stream-static SHUFFLE_HASH join on cell id (never broadcast — the
    * static side at real scale is the corpus), per-candidate cosine in
    * codegen, and the bounded in-stream top-k per query.
    *
    * `windowSize` groups candidates per query by event-time window; query
    * ids are unique per window in the gate fixtures (ts = f(query_id)), so
    * the (window, query_id) group IS the query.
    */
  def serveProbed(probes: DataFrame, postings: DataFrame, k: Int,
                  watermarkDelay: String = "1 second",
                  windowSize: String = "1 second"): DataFrame = {
    import graft.functions.SimilarityFunctions.{dot, toDouble}
    val wm = probes.withWatermark("ts", watermarkDelay)
    val cand = wm.join(postings.hint("shuffle_hash"),
        wm("probe_cell") === postings("cell") &&
          postings("vec_id") =!= wm("query_id"), "inner")
      .select(wm("ts"), wm("query_id"),
        nanvl(dot(toDouble(wm("qv")), toDouble(postings("embedding"))) /
          (wm("qn") * postings("nrm")), lit(0.0)).as("cosine"),
        postings("vec_id").as("neighbor_id"))
    cand.groupBy(window(col("ts"), windowSize), col("query_id"))
      .agg(topkColumn(col("cosine"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("neighbor_id"), col("t.score").as("cosine"))
  }

  // ------------------------------------------------------------------------
  // FIT / SERVE split (r18, VERDICT r17 Next #1): in production the index is
  // built OFFLINE — once, or incrementally — and serving streams against the
  // prebuilt tables; fusing fit into the serving pipeline made the 1000×
  // rung read the fit's corpus pass as serving cost. The split is spec-pinned
  // bit-equal to the fused path (ShardedAnnServeSpec): centroids come from
  // the same deterministic distributed build, so replaying the PREBUILT
  // index produces byte-identical rankings.
  // ------------------------------------------------------------------------

  /** A persisted index: `table` = the cell-bucketed postings, with a small
    * `<table>_centroids` sidecar carrying (cell, centroid, b_bits, buckets).
    * `cents` is the O(√N) broadcastable model state — the replicated-map
    * analog; everything corpus-sized stays in the bucketed table.
    */
  final case class IvfIndex(table: String, bBits: Int, buckets: Int,
                            cents: Array[(Long, Array[Double])]) {
    def postings(s: org.apache.spark.sql.SparkSession): DataFrame = s.table(table)
  }

  def centroidsTable(table: String): String = table + "_centroids"

  /** A deterministic per-dataset index table name (md5 of the data dir) —
    * lets harnesses fit once per fixture and serve many times.
    */
  def tableFor(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_ivf_idx_${md.take(10)}"
  }

  /** FIT — the offline index build: derive the cell rule from the corpus
    * size, write the postings as the cell-bucketed table (the layout whose
    * per-batch serve plan has NO static-side exchange), run the
    * deterministic centroid build, and persist centroids + the frozen cell
    * rule in the sidecar. One corpus pass + one O(√N) collect; serving never
    * pays any of it again.
    */
  def fit(emb: DataFrame, table: String, buckets: Int = 32): IvfIndex = {
    val s = emb.sparkSession
    val bBits = bBitsFor(emb.count())
    val bucketed = postingsAsBucketedTable(buildPostings(emb, bBits), table, buckets)
    val cents = buildCentroids(bucketed)
    // same orphan-dir discipline as postingsAsBucketedTable: the session
    // catalog is in-memory, so a PREVIOUS JVM's sidecar dir survives under
    // the warehouse with no table metadata — a managed CTAS then fails with
    // LOCATION_ALREADY_EXISTS (caught by the full-suite run: spec JVM A fit
    // the index, suite JVM B refit it)
    dropTableAndLocation(s, centroidsTable(table))
    import s.implicits._
    cents.toSeq.map { case (c, m) => (c, m.toSeq, bBits, buckets) }
      .toDF("cell", "centroid", "b_bits", "buckets")
      .write.mode("overwrite").saveAsTable(centroidsTable(table))
    IvfIndex(table, bBits, buckets, cents)
  }

  /** Drop `table` AND its warehouse directory — covers the orphan-dir case
    * (dir present, no catalog entry) that a plain DROP TABLE cannot see.
    */
  private def dropTableAndLocation(s: org.apache.spark.sql.SparkSession,
                                   table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val fsPath = new org.apache.hadoop.fs.Path(new java.net.URI(
      s"${s.conf.get("spark.sql.warehouse.dir")}/$table"))
    val fs = fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(fsPath)) fs.delete(fsPath, true)
    ()
  }

  /** Load a persisted index (None when either table is missing). The
    * centroid collect is O(√N) — model-scale, same boundary as fit's.
    */
  def load(s: org.apache.spark.sql.SparkSession, table: String): Option[IvfIndex] = {
    if (!s.catalog.tableExists(table) ||
        !s.catalog.tableExists(centroidsTable(table))) None
    else {
      val rows = s.table(centroidsTable(table))
        .select(col("cell"), col("centroid"), col("b_bits"), col("buckets"))
        .collect()
      if (rows.isEmpty) None
      else {
        val cents = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        Some(IvfIndex(table, rows.head.getInt(2), rows.head.getInt(3), cents))
      }
    }
  }

  /** INCREMENTAL fit — append new vectors into the FROZEN cell layout:
    * assign cells with the index's frozen `bBits`, append into the bucketed
    * postings table (bucket spec unchanged, so the serve plan keeps reading
    * pre-hashed buckets). Centroids and the cell rule do NOT move — the
    * reference analog is refreshing a replicated map's entries while the
    * lookup topology stays (GeneralStage.java:582-734): the routing model is
    * stable, its routed contents grow. Periodic full re-fit remains the
    * operator's rebalancing story (exactly as IVF deployments re-train
    * coarse quantizers offline); until then every appended vector is
    * IMMEDIATELY servable, since candidate resolution joins the postings
    * table, not the frozen model.
    */
  def append(s: org.apache.spark.sql.SparkSession, idx: IvfIndex,
             newEmb: DataFrame): Unit = {
    buildPostings(newEmb, idx.bBits)
      .repartition(idx.buckets, col("cell")) // one file per bucket per append
      .write.mode("append")
      .bucketBy(idx.buckets, "cell").sortBy("cell")
      .saveAsTable(idx.table)
  }

  /** SERVE — the streaming pipeline against a PREBUILT index: probe the
    * broadcast centroids, shuffle-hash join the bucketed postings, bounded
    * in-stream top-k. Identical arithmetic to the fused path (the split is
    * where the corpus pass happens, not what is computed).
    */
  def serve(s: org.apache.spark.sql.SparkSession, idx: IvfIndex,
            stream: DataFrame, tsCol: String, k: Int, nprobe: Int,
            watermarkDelay: String = "1 second",
            windowSize: String = "1 second"): DataFrame = {
    val probes = probe(stream, tsCol, idx.cents, nprobe)
    serveProbed(probes, idx.postings(s), k, watermarkDelay, windowSize)
  }

  /** Production index layout: the postings persisted as a table BUCKETED BY
    * cell, so the stream-static join's static side reads pre-hashed buckets
    * and the per-micro-batch plan has NO static-side exchange (asserted by
    * ShardedAnnServeSpec). Returns the bucketed table as a DataFrame.
    */
  def postingsAsBucketedTable(postings: DataFrame, table: String,
                              buckets: Int = 32): DataFrame = {
    val s = postings.sparkSession
    dropTableAndLocation(s, table) // incl. orphan dir from a dropped/failed build
    // cluster rows onto their bucket BEFORE the bucketed write: without it
    // every input task writes a file per bucket it touches — at the 100×
    // rung that's 80 tasks × 32 buckets ≈ 2,560 small files whose
    // open/footer cost the stream-static join re-pays EVERY micro-batch
    // (measured: serve at 100× read 352 s; one file per bucket returns it
    // to the view path's shape). repartition and bucketBy hash the same
    // way (Murmur3 pmod n), so each of the `buckets` write tasks holds
    // exactly its own bucket → `buckets` files total, per fit or append.
    postings.repartition(buckets, col("cell"))
      .write.bucketBy(buckets, "cell").sortBy("cell")
      .option("path", s"${s.conf.get("spark.sql.warehouse.dir")}/$table")
      .saveAsTable(table)
    s.table(table)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plan of each headline query with the
  * scale-relevant properties called out. Evidence artifact for the
  * "would this plan survive 1000 executors" review — regenerate with
  * `sbt "runMain graft.Plans"` after plan-affecting changes.
  */
object Plans {

  private val headline = Seq(
    "q01_pricing_summary" -> "two-phase hash agg, pushdown + pruning at the scan",
    "q02_filter_project" -> "all predicates in PushedFilters; 3-column ReadSchema",
    "q04_join_broadcast" -> "dimension broadcast: BroadcastHashJoin, no shuffle of orders",
    "q05_join_multiway" -> "chained broadcasts collapse into one probe-side pipeline",
    "q08_topn_per_key" -> "per-key top-k via window row_number — single shuffle, no group materialization",
    "q17_typed_topn" -> "custom Aggregator (bounded-PQ topN + O(1) linearTrend) still plans partial+final",
    "q21_sliding_window" -> "sliding window() planned frame-first (graft.sql.FrameFirstWindows): one map-side hash per event into (5-min frame, event_type) partials, Expand fans each partial out to its 2 windows, a PartialMerge feeds the one (window, event_type) exchange",
    "q27_pattern_match" -> "CEP via per-key window lag — one shuffle on user_id",
    "q29_tfidf" -> "tf and df aggs + broadcast of the term dictionary",
    "q36_dedup_minhash_lsh" -> "LSH band-key join bounds candidate pairs; no all-pairs cross join",
    "q39_dedup_embedding" -> "bucket-keyed pair join over pre-normalized vectors (dot-only per pair)",
    "q44_ann_ivf_topk" -> "IVF: tiny centroid broadcast, probe reads one cell",
    "q48_training_corpus" -> "quality filter + fingerprint-window dedup + report: three shuffles",
    "q66_sql_mapping_schema" -> "column-list mapping: ReadSchema pruned to exactly the declared columns",
    "q68_decontaminate" -> "benchmark shingle set broadcast; the corpus never shuffles; outer-generate keeps the shingle expression out of pushed filters",
    "q72_pack_sequences" -> "per-source running-sum window + one hash-agg; text dropped before the shuffle",
    "q70_repetition" -> "row-local trigram dup ratio: one md5 pass per row, zero shuffles before the scan-level projection",
    "q79_repeated_spans" -> "ExactSubstr relaxation: positional window hashes, one count shuffle on the hash, semi-join back (AQE broadcast), per-doc sort window for the island merge — no all-pairs, text never shuffles",
    "q80_windowed_coagg" -> "two keyed inputs tag-unioned into ONE windowed hash agg with side-FILTERed aggregates — a single exchange, partial+final, no aggregate-join",
    "q82_sentence_dedup" -> "sentence dedup: the window shuffle carries md5(sentence) (32 bytes fixed), never the sentence text",
    "q86_cross_corpus_dedup" -> "cross-corpus LSH: band-keyed shuffle join of new vs reference signatures — bucket-local candidates, no cartesian",
    "q89_contamination_frac" -> "overlap report: benchmark shingles broadcast, corpus scanned once, left join keeps zero-overlap docs",
    "q92_source_entropy" -> "entropy/KL mix diagnostics: two map-side-partial count aggs, token-keyed join, one ordered-fold agg per source",
    "q98_chunking" -> "fixed-context chunking: pure narrow pipeline (scan → explode → slice/join), ZERO exchanges — scan-bound at any scale",
    "q99_bm25_topk" -> "BM25: query-term filter BEFORE the tf shuffle; df + corpus stats broadcast; only matching tokens ever shuffle",
    "q104_hard_negatives" -> "hard-negative mining: broadcast query set, row-local normalized dot, label filter ahead of the rank window — nothing but the k results shuffle",
    "q105_source_ngram_overlap" -> "source overlap matrix: 64-bit gram-key distinct + gram-keyed self-join (bucket bounded by source count), #sources^2 output",
    "q93_containment" -> "asymmetric near-containment: LSH band-keyed candidates (no all-pairs), per-pair h1-long set ops; the pair-dedup shuffle carries scored pairs only",
    "q95_mix_temperature" -> "temperature mixing: per-source agg first (rows = #sources), then window + broadcast denominator — everything after the one agg shuffle is source-cardinality-sized",
    "q97_token_budget" -> "per-source token budget: one shuffle keyed on source, running-sum window inside each partition; no global sort",
    "q100_vocab_oov" -> "vocab/OOV: token agg builds the 50-term vocab, broadcast back over the token stream — the corpus-side join never shuffles",
    "q101_shard_assign" -> "deterministic shard assignment: row-local md5 projection; the only shuffle is the per-shard ordering window, keyed on shard — shards scale with the cluster",
    "q102_adaptive_quality" -> "per-source relative quality gate: single source-keyed shuffle; rank + count from one window sort, integer-exact 60% cut",
    "q103_bigram_logprob" -> "interpolated bigram LM: doc-keyed lag window + two count aggs; bigram/unigram tables join on token keys, corpus total broadcast",
    "q106_contrastive_pairs" -> "contrastive pairs: q98's zero-shuffle chunker + self-join co-partitioned on (doc_id, chunk_id), bucket size 1 — manifests ship fingerprints, never text",
    "q107_span_excision" -> "span excision: q79's span islands joined back doc-keyed (spans per doc are few), token filter is row-local against the collected span list — the text column never shuffles",
    "q108_nb_classifier" -> "NB classifier: fit = one (token,class) map-side-partial agg, vocab×classes output localCheckpointed so derived stats don't re-tokenize; model broadcast for scoring — the only corpus-keyed exchange is the per-(doc,class) score agg",
    "q109_pq_ann" -> "PQ-ADC: fused product-quantizer fit (ONE corpus pass per iteration for all M subspaces), row-local argmin encoding, broadcast distance tables, exact refine of the broadcast-tiny shortlist; the encoded corpus (~64× smaller) is the artifact a 100 TB deployment persists and scans",
    "q118_audio_decode" -> "audio decode: Width-widened narrow pass with a LOCK-FREE canonical-RIFF parse (AudioSystem's provider registry convoys 32 tasks at ~2 ms/row; the header walk is µs and scales linearly — 20× at 10× data, measured); SPI fallback for non-canonical containers",
    "q117_bpe_merges" -> "BPE training: corpus scanned ONCE (word counts, localCheckpointed); each merge round is a vocabulary-sized pair agg + a 1-row driver argmax — rounds are bounded by vocab, never data",
    "q119_bpe_encode" -> "BPE encode: the k fitted merges ride as LITERALS in the expression tree — transform() over the token array + an integer fold, ZERO exchanges, one row out per row in; at 100 TB the encode pass is scan-bound and embarrassingly parallel",
    "q116_image_phash" -> "image phash: one narrow pass, deliberately NOT widened — ImageIO's registry lock convoys concurrent decodes (32 tasks 4.9 s vs 1 task 1.3 s at 10×, measured); the near-dup join downstream keys on 8 bytes per image; production swaps a native codec via the subprocess seam",
    "q115_gopher_rules" -> "Gopher rule battery: pure row-local projection, ZERO exchanges — the filter fuses into whatever scan feeds it; integer cross-multiplied ratios, no float boundary",
    "q112_ivfadc" -> "IVFADC: broadcast probe bounds candidates to 2 cells, ADC scores them via broadcast code/distance tables, exact refine touches |queries|×32 raw vectors — at 100 TB only the probed cells' 4-byte codes are read",
    "q110_mixture_sample" -> "mixture draw: one narrow tokenize pass materialized (text never moves), source-cardinality rate table broadcast back, row-local seeded accept test, one per-source agg",
    "q120_dsir_select" -> "DSIR selection: gram construction is row-local over the token array (no lag window); the only corpus-sized shuffle carries (doc_id, bucket, count) — text never moves; the fitted distributions are B=1024 rows broadcast back; top-k is a TakeOrdered",
    "q121_pmi_collocations" -> "PMI collocations: bigrams from a row-local transform over the token array (no lag window, text never shuffles); unigram/bigram aggs are vocabulary-bounded with map-side partials; totals broadcast; TakeOrdered top-25",
    "q122_zipf_slope" -> "Zipf slope: one vocabulary-bounded count agg, source-keyed rank window over the VOCAB (not the corpus), 200-row-per-source ordered fold — output is source-cardinality-sized; text never shuffles",
    "q123_hybrid_rrf" -> "hybrid RRF: lexical candidates via inverted-index join (query tokens broadcast, only shared-token pairs shuffle); dense side = q40's broadcast brute contract with q42/q44/q112 as the scale swap; fusion join touches 40 rows per query",
    "q124_vocab_coverage" -> "coverage curve: one vocab-bounded count agg; the global rank window moves the VOCAB (not the corpus) to one partition; 3-row broadcast k-membership join — text never shuffles",
    "q125_split_manifest" -> "stratified split: per-source rank window over (hkey, doc_id) pairs — 48 bytes/doc, text never shuffles; leak audit shuffles 32-hex fingerprints with a min/max-over-fp window; one agg out",
    "q126_curriculum" -> "curriculum: one source-keyed rank window ((n_tokens, doc_id) pairs, text never shuffles) + broadcast source index; the closed-form step formula REPLACES the global ordering window that would funnel the corpus through one partition",
    "q127_funnel" -> "funnel: three user-keyed min-aggs (map-side partials) + user-keyed joins sharing ONE shuffle key — no per-user event-list materialization, no window over the event stream",
    "q128_ccnet_buckets" -> "CCNet buckets: q84's vocab-bounded scoring (text never shuffles) + one lang-keyed rank window over (logprob, doc_id) pairs + a #langs x 3 agg",
    "q129_bitext_margin" -> "bitext margin: broadcast query side, row-local cosines, each side's kNN mean is a keyed window over SCORED PAIRS (never the corpus); ANN family is the candidate-generation swap at scale",
    "q130_dedup_pagerank" -> "dedup PageRank: LSH-bounded edge list localCheckpointed once; each iteration = one edge-keyed join + one node-keyed ordered fold — graph-sized, never corpus-sized; the iterative twin of q47's CC",
    "q131_skew_audit" -> "skew audit: one key-cardinality-bounded count agg per audited column, map-side partials, single stats row out — the measurement feeding the salted-join recipe; fact payload never shuffles",
    "q132_tpch_q3" -> "TPC-H Q3: selective dim filter broadcasts through orders into lineitem, date filters pushed to both scans, one keyed revenue agg, TakeOrdered 10",
    "q134_lsh_recall_audit" -> "LSH recall audit: truth = source-scoped all-pairs (bucket bounded by scope; hash-sampled scopes at 100 TB), detected = exactly q36's banded plan — the measured miss rate behind the sizing arithmetic",
    "q135_assembly_funnel" -> "assembly funnel: row-local gate, 32-hex fingerprint dedup shuffle, q97's source-keyed budget window, source-cardinality report joins — text never shuffles through the whole chain",
    "q136_tpch_q18" -> "TPC-H Q18: the HAVING aggregate runs FIRST, its tiny key set broadcasts into orders before the wide join — aggregate-pushdown a naive 3-table join misses",
    "q138_asof_snapshot" -> "as-of snapshot: cutoff filter pushed to the scan, ONE user-keyed window supplies both latest-row rank and change count — no self-join, no second pass",
    "q133_tpch_q10" -> "TPC-H Q10: quarter filter prunes orders at the scan, returnflag filter prunes lineitem, customer+nation broadcast for report columns only",
    "q137_event_pivot" -> "pivot: one keyed agg with a static pivoted column list — no per-value scan, schema known at plan time",
    "q139_cohort_retention" -> "cohorts: purchase-filtered min-agg builds the user-keyed cohort table, joined back on the user key; matrix agg is (cohort, week)-keyed, sizes broadcast — output is #cohorts x #weeks",
    "q141_dedup_graph_stats" -> "triangle census: LSH-bounded edge list; the 3-way join keys on edge endpoints (degree-bounded by the upstream mega-bucket cap); wedge count is one degree agg — all graph-sized",
    "q111_length_batches" -> "length-bucketed batching: single bucket-keyed ordering window is the only exchange; bucket count is log-bounded — at scale shard the ordering key (bucket, seeded shard) like q101",
    "q142_nexmark_currency" -> "NEXMark Q1: pure row-local projection fused into the scan — zero exchanges at any scale",
    "q143_nexmark_filter" -> "NEXMark Q2: row-local predicate; at scale the auction%123 filter pushes into whatever source carries the bid stream",
    "q144_nexmark_local_item" -> "NEXMark Q3: persons (1/50th of the stream) filtered then BROADCAST into auctions — the big side never shuffles",
    "q145_nexmark_avg_category" -> "NEXMark Q4: bids shuffle ONCE on auction id for the winning-bid max; the category agg is 10 rows; avg over exact integer sums",
    "q146_nexmark_hot_items" -> "NEXMark Q5: sliding window() planned frame-first — bids reduce per (20-min frame, auction), the frame partials expand into their 3 covering windows, then the single (window, auction) exchange; hot filter is a window max over window-cardinality counts",
    "q147_nexmark_avg_seller" -> "NEXMark Q6: per-seller rank window runs over the WINS table (auction-cardinality, ~3/50 of the stream) — raw bids never enter the ranking shuffle",
    "q148_nexmark_highest_bid" -> "NEXMark Q7: one 10-min tumbling max window + tie-keeping filter — a single exchange keyed on the window",
    "q149_nexmark_new_users" -> "NEXMark Q8: join keyed (seller, 12h-window-equality); persons broadcast — auctions never shuffle",
    "q163_batch_stateful_rolling" -> ("BATCH stateful fold (BatchStage" +
      ".rollingAggregate, r10): SECONDARY SORT — one Exchange on the key, " +
      "SortWithinPartitions on (key, order), then a single MapPartitions " +
      "pass resetting state at key boundaries. Per-key runs are contiguous " +
      "so memory is O(state), never O(group); exactly one shuffle at any " +
      "scale, and the sort is partition-local (spillable). Oracle = the " +
      "SQL cumulative window over the same order — every INTERMEDIATE " +
      "state verified, not just finals."))

  // Streaming queries whose result frame is a memory-sink table (the
  // interesting plan is the in-flight streaming one, not the post-replay
  // batch scan): documented as shuffle-shape prose + the micro-batch plan
  // properties PlanSpec pins and BASELINE.md's shuffle audit measured.
  private val streamingNotes = Seq(
    "q94_stream_left_join" ->
      ("time-bounded stream-stream LEFT OUTER join (StreamingQueries.scala:191): " +
        "both sides watermarked, join condition bounds event-time distance, so state " +
        "per side = rate x window — bounded, evicted by watermark; unmatched left rows " +
        "emit NULL-extended on eviction. Shuffle shape: one exchange per side keyed on " +
        "the join key into the join's state store partitions (statefulOperators keep " +
        "HashClusteredDistribution across batches — no re-shuffle between batches). At " +
        "100 TB/day the state bound, not the data volume, sizes the cluster."),
    "q96_stream_static_join" ->
      ("stream-static broadcast enrichment (StreamingQueries.scala:229): the static " +
        "dimension is broadcast per micro-batch, the stream side never shuffles for the " +
        "join. The stream side's only exchange is the downstream agg's. At scale: the " +
        "dimension must stay broadcast-able (<8 GB); beyond that, pre-bucket both sides " +
        "on the key — ScaleRecipes documents the swap."),
    "q113_stream_classify" ->
      ("fit-batch/score-stream classifier serving (StreamingQueries.scala): the NB " +
        "model is fitted batch-side, driver-collected (model-scale boundary, same as " +
        "KMeansLite centroids), broadcast, and each streamed document scores " +
        "row-locally in one typed map — zero shuffles, zero state stores, so " +
        "throughput is scan-bound and scales with executors. Beyond broadcast scale " +
        "the model ships as a keyed store (mapUsingIMap). Oracle = q108's: stream " +
        "scoring reproduces the batch classifier bit-for-bit."),
    "q140_stream_journal" ->
      ("streaming journal materialization (StreamingQueries.scala): the stream " +
        "half of stream-table duality — mapGroupsWithState folds each user's " +
        "latest-(ts,event_id) state + additive change count (order-independent " +
        "by construction, so micro-batch boundaries can't change the answer); " +
        "oracle = q138's batch window query, so the state machine must " +
        "reproduce the table half bit-for-bit. State per key is one row; " +
        "shuffle = the single keyed exchange into the state store."),
    "q114_stream_ingest_dedup" ->
      ("streaming ingestion-time near-dup gate (StreamingQueries.scala): arriving " +
        "documents signature-band row-locally inside the micro-batch (no state), " +
        "stream-static join on the band key against the reference corpus's persisted " +
        "signatures — the 100 TB reference side is hashed ONCE, each batch pays only " +
        "its own row-local hashing + a band-keyed join. Oracle = q86's: in-stream " +
        "dedup finds exactly the pairs the batch pass finds."),
    "q150_stream_nexmark_hot" ->
      ("NEXMark Q5 as a real stream (NexmarkQueries.scala): sliding-window " +
        "(window, auction) counts in update mode — each bid updates 3 window " +
        "states; the hot-auction filter is the batch post-pass over the " +
        "update-mode snapshot (q91 pattern). Oracle = q146's batch suite. " +
        "Rate ceiling for this exact shape: BASELINE.md nexmark_q5_sliding " +
        "(8 M rows/s; the pane-architecture A/B is measured there too)."),
    "q151_stream_nexmark_maxbid" ->
      ("NEXMark Q7 in Jet's own two-stage shape: the stream emits each " +
        "10-minute window's max price (one keyed state row per window); the " +
        "recover-the-bid stage joins the tiny (window, max) table back to " +
        "the bid table BROADCAST — the bid side never shuffles. Oracle = " +
        "q148's."),
    "q155_stream_nexmark_chained" ->
      ("NEXMark Q5 through the PANE ARCHITECTURE: chained stateful " +
        "aggregations (SPARK-40925) — 20-min tumbling pane counts feeding a " +
        "sliding window-of-window sum, the reference's SlidingWindowP " +
        "two-stage frame design as two native windowed aggs. Stage 2's " +
        "input is pane-cardinality, not bid-cardinality; rate ceiling 16 M " +
        "rows/s = 2x the native sliding window (BASELINE.md r8 addendum). " +
        "Append mode + sentinel watermark advance; oracle = q146's batch " +
        "suite, and the final counts hash-match it."),
    "q158_stream_nexmark_hot_instream" ->
      ("NEXMark Q5 fully IN-STREAM (NexmarkQueries.scala / SlidingPanes" +
        ".slidingHotKeysStream): THREE chained stateful aggs — slide-sized " +
        "pane counts (event-cardinality in), sliding window-of-window sum " +
        "(pane-cardinality in), per-window argmax-with-ties grouped by a " +
        "slide-sized tumbling window over window_time(stage-2 window) (a " +
        "bijective window-to-bucket mapping; key-cardinality in) — then a " +
        "STATELESS explode emits the tied hot items, so the streamed rows " +
        "ARE the answer, no batch post-pass. State bound per closed window " +
        "(r10): stage 3 aggregates with graft_argmax_ties, a " +
        "TypedImperativeAggregate whose buffer holds the running max plus " +
        "ONLY the keys tying it — bounded by the tie set (= the answer), " +
        "never by key cardinality. The r9 shape collect_list'd ALL keys " +
        "per window into a single array (the SURVEY 7.2 M6 unbounded-group " +
        "risk at millions of live auctions); the max-then-self-join " +
        "alternative kept rows bounded but re-executed stages 1-2 on both " +
        "join legs — measured 25% rung cost and 2.6x state rows. The " +
        "accumulator keeps the single-pipeline plan: 3 keyed exchanges, " +
        "each stage's input one cardinality class smaller; same-session " +
        "A/B instream=24.0M vs chained=22.9M rows/s, state 90k vs 80k " +
        "(BASELINE.md r10). Oracle = q146's batch suite, hash-matched " +
        "(also under RocksDB)."),
    "q161_stream_ann_serve" ->
      ("Streaming ANN serving (StreamingQueries.q161): query vectors replayed " +
        "as a stream through flatMapUsingService — per-partition service " +
        "holds the BROADCAST index (ids + vectors + precomputed norms), " +
        "each event emits its top-5 cosine neighbors row-locally. ZERO " +
        "exchanges on the serving path (Deserialize -> MapPartitions -> " +
        "Serialize); stateless per event, so the same plan is eligible for " +
        "Trigger.RealTime (measured p99 <= 1 ms for the service path, " +
        "BASELINE.md r9). Index is model-scale state; the brute-force scan " +
        "is O(index) per event — the SCALE-SAFE production form is q162."),
    "q162_stream_ann_ivf_serve" ->
      ("Streaming ANN serving through IVF cells (StreamingQueries.q162) — " +
        "the plan a 100 TB deployment runs, now oracle-gated (VERDICT r9 " +
        "item 1 closed): same zero-exchange flatMapUsingService serving " +
        "path as q161, but the service holds centroids + per-cell posting " +
        "lists; each event scores the ~sqrt(N) centroids, probes its 2 " +
        "nearest cells, ranks ONLY those candidates — O(cells + N/cells) " +
        "= O(sqrt(N)) per event (cell count grows as sqrt(N) by the " +
        "integer rule 100*4^b >= N, the IVF optimum). The DuckDB oracle " +
        "replays the SAME cell restriction (restricted-recall technique, " +
        "q44/q75/q112), so the differential checks the serving loop " +
        "exactly; recall is out of scope by construction. At corpus scale " +
        "the posting lists shard by cell (q44 bucketed layout) and queries " +
        "route to probed shards; the per-event loop is unchanged."),
    "q165_stream_ann_ivf_shard" ->
      ("Streaming ANN serving with the index PARTITIONED (r11, " +
        "operators/IvfShardedServe — VERDICT r10 item 1 closed): centroids " +
        "(O(sqrt N)) are the ONLY broadcast — the replicated-map side of " +
        "the reference's mapUsingReplicatedMap vs mapUsingIMap distinction " +
        "(GeneralStage.java:582-734); posting lists stay a cell-keyed " +
        "table and probes resolve via a stream-static SHUFFLE_HASH join " +
        "on cell id (ShardedAnnServeSpec asserts NO BroadcastExchange; " +
        "the bucketed-table layout drops the static-side exchange " +
        "entirely, leaving only probe rows moving per micro-batch). " +
        "Per-query top-5 runs IN-STREAM via graft_topk, a bounded " +
        "TypedImperativeAggregate (answer-sized buffer, 9-dp HALF_UP " +
        "quantized ordering). Centroid build is distributed-deterministic: " +
        "one shuffle by cell + sequential in-partition accumulation in " +
        "vec_id order — bit-identical to q162's in-service sums. Shares " +
        "q162's restricted-recall oracle. Measured (r11 ScaleTrend, " +
        "within-run ratios): q165 grows 3.9x at 100x data vs q162's 9.3x, " +
        "and wins absolute at 100x (36.9 s vs 55.8 s) despite higher " +
        "fixed cost at 1x — the crossover that makes the sharded form " +
        "the production plan."),
    "q166_stream_kafka_windowed" ->
      ("q50's tumbling windowed agg consumed through the MULTI-PARTITION " +
        "kafka-shaped source (r11): 8 sink tasks hash-route the events " +
        "fixture onto a 4-partition topic transactionally; the DSv2 source " +
        "checkpoints a per-partition offset map, plans one reader per " +
        "partition, and two produce rounds split at the time midpoint " +
        "drive two micro-batches (the second exercises per-partition seek " +
        "against live state). Hash-matches the single-partition q50/q20 " +
        "oracle — partitioning the log cannot change the aggregate. " +
        "Ordering/seek/idle/discovery pinned by KafkaShapedSourceSpec."),
    "q167_sql_stream_job" ->
      ("Windowed streaming aggregate authored ENTIRELY in SQL through " +
        "GraftSql.execute (r11): CREATE JOB ... AS SINK INTO ... SELECT " +
        "window agg FROM TABLE(GENERATE_STREAM(2000)) — Catalyst plans " +
        "the window from the SQL text, the job upserts per-window rows " +
        "keyed on window_start, and the gate suspends + resumes the job " +
        "mid-run; convergence to EXACTLY 1000 aggregated values proves " +
        "checkpointed offset replay and state resume (oracle = windowed " +
        "range(0,1000) in DuckDB)."),
    "q168_grpc_service" ->
      ("Gate rows through a REAL gRPC wire (r11, graft.grpc): every " +
        "orders row rides a bidirectional HTTP/2 gRPC stream (netty frame " +
        "codec, length-prefixed gRPC framing, grpc-status trailers), one " +
        "bidi stream per 256-row batch via mapUsingServiceAsyncBatched, " +
        "channel per partition, 4 streams in flight — the reference's " +
        "GrpcServices.bidirectionalStreamingService shape " +
        "(GrpcServices.java:164). The DuckDB oracle recomputes the " +
        "transform, so any dropped/duplicated/reordered message breaks " +
        "the hash. Result localCheckpoint-materialized before the " +
        "query-scoped server stops."),
    "q159_cdc_mysql_parse" ->
      ("CDC MySQL dialect parse (Cdc.parseMySql): envelope build (to_json) " +
        "and parse (from_json + binlog (file,pos)->monotone-sequence " +
        "encoding + snapshot->SYNC mapping) are both narrow row-local " +
        "projections — ZERO exchanges, scan-bound at any scale; the gate " +
        "oracle derives expected rows independently from orders."),
    "q160_cdc_postgres_parse" ->
      ("CDC Postgres dialect parse (Cdc.parsePostgres): WAL-LSN sequence, " +
        "txId/ts fallbacks, snapshot marker mapping — same zero-exchange " +
        "row-local shape as q159."),
    "q152_stream_nexmark_users" ->
      ("NEXMark Q8 as a stream-stream join: one replayed event stream forked " +
        "into persons/auctions legs (q77 fork pattern), joined on (seller, " +
        "12h-window-equality) — window equality is the state-cleanup " +
        "condition, so each side's state evicts when the watermark passes " +
        "the window. Oracle = q149's."),
    "q169_stream_kinesis_reshard" ->
      ("Kinesis-shaped DSv2 source (r11): md5 hash-range partition-key " +
        "routing onto shards, per-shard checkpointed seek, and a MID-STREAM " +
        "splitShard — child shards become readable only in a strictly later " +
        "batch than the parent's last records (the reference shard-tracker " +
        "rule). Windowed agg across the reshard hash-matches q50/q20's " +
        "oracle: resharding the transport cannot change the aggregate."),
    "q172_elastic_roundtrip" ->
      ("Elastic REST roundtrip (r11): every documents row bulk-indexed over " +
        "real HTTP (_bulk NDJSON, 429 retry/backoff), read back through a " +
        "4-slice sliced scroll — one Spark partition per slice " +
        "(ElasticSourceP.java:78-89's parallel-read contract), independent " +
        "paging per task, scroll contexts cleared. JSON-parse projection is " +
        "row-local; the only distributed structure is the per-slice scan."),
    "q173_rescale_snapshot" ->
      ("Jet's full rescale cycle in SQL (r12): CREATE JOB at parallelism 4 " +
        "-> suspend mid-stream -> CREATE SNAPSHOT -> new job from " +
        "initialSnapshotName at parallelism 9, which triggers the OFFLINE " +
        "state rewrite (StateRescale): one shuffle of the state rows " +
        "re-routed to pmod(murmur3(keys), 9) — the exact distribution the " +
        "resumed operators require — checkpoint bootstrapped at the new " +
        "width with ORIGINAL batch numbering (idempotent sinks dedupe by " +
        "batch id; renumbering silently skips the first post-rescale " +
        "batch). Gate requires the resumed job to report width 9 and " +
        "converge to exactly 1000 values."),
    "q175_proto_roundtrip" ->
      ("Protobuf value format (r12): orders projection encoded row-local " +
        "into REAL wire format (ProtoFormat — varints, fixed64 doubles, " +
        "length-delimited UTF-8), written as length-prefixed message files " +
        "(one file per partition), then CREATE MAPPING ... TYPE protobuf " +
        "reads them back: one task per file via the binaryFile source, " +
        "decode row-local, ZERO shuffles end-to-end. Oracle reads the " +
        "original parquet — any codec asymmetry breaks the hash."))

  // Core-API (DAG) queries: compiled by DagExecutor to RDD stages, so the
  // returned frame's physical plan is a LogicalRDD scan — the TOPOLOGY is
  // the plan, documented here (the DataFrame forms remain the production
  // path; these exist for reference users porting hand-built DAGs).
  private val dagNotes = Seq(
    "q170_dag_wordcount" ->
      ("canonical core-API word count: tokenize (flatMapP) -> " +
        "accumulateByKeyP (LOCAL edge: map-side partials) -> partitioned+" +
        "distributed edge on the word -> combineByKeyP. One real " +
        "HashPartitioner shuffle carrying (word, partial-count) pairs, " +
        "never tokens — the same two-stage shape Catalyst plans for q30."),
    "q171_dag_hash_join" ->
      ("core-API hash join: nation build side rides a BROADCAST edge at " +
        "priority -1 (drained fully before the probe edge — Edge.java:265's " +
        "documented use), probe on ordinal 1 inside one mapPartitions " +
        "stage, then the two-stage keyed aggregate. Only the (name, " +
        "partial) pairs shuffle."),
    "q174_dag_event_time" ->
      ("core-API EVENT-TIME tumbling window (r12): insertWatermarksP " +
        "(throttled to the hour frame, 1h lag) -> accumulateByFrameP " +
        "(local (frame,key) partials, frames close as the coalesced " +
        "watermark passes) -> partitioned edge -> combineToSlidingWindowP. " +
        "Watermark envelopes replicate across the shuffle; items route by " +
        "key. Only (keys x frames) partial rows cross the shuffle — " +
        "MEASURED 1.7x runtime growth at 100x data (ScaleTrend). Shares " +
        "q20/q50's oracle."),
    "q176_dag_session" ->
      ("core-API SESSION windows (r12, aggregateToSessionWindowP): " +
        "single-stage keyed sessions behind one partitioned edge — every " +
        "event shuffles (inherent to sessions; Spark's session_window " +
        "shuffles events too), per-key interval merge with an end-ordered " +
        "index so watermark flushes touch only closing sessions. ~95x " +
        "runtime at 100x data = the full event shuffle + the DAG layer's " +
        "per-event (non-codegen) overhead — the documented escape-hatch " +
        "trade; q51's session_window form is the production path. Shares " +
        "q51's gaps-and-islands oracle."))

  // Driver-composed queries: the distributed pass is consumed by a
  // driver-side collect INSIDE the query (model-scale iteration — the
  // KMeansLite boundary), so the RETURNED frame's physical plan is a
  // LocalTableScan and a headline plan dump would be evidence-free; the
  // shuffle shape is documented as prose instead (the streamingNotes
  // treatment).
  private val driverComposedNotes = Seq(
    "q153_bradley_terry" ->
      ("Bradley-Terry fit: the distributed pass is a per-user lag window + " +
        "(winner, loser) count agg (#types^2 rows collected); the 10 MM " +
        "iterations run driver-side with sorted-item zero-seeded folds " +
        "mirrored by the oracle's recursive CTE."),
    "q154_preference_cycles" ->
      ("preference-cycle audit: same distributed comparison agg as q153; " +
        "majority-edge build and triad/cycle joins run on the model-scale " +
        "tournament graph (#types nodes)."),
    "q156_kcenter_select" ->
      ("k-center selection: selected vectors ride as driver-held literals " +
        "(model-scale); each of k rounds is one row-local native-sqdist " +
        "pass + TakeOrdered(1) — k corpus scans, no shuffle of the corpus."),
    "q157_stream_preferences" ->
      ("q153's STREAM half: comparisons derive in-stream via a per-user " +
        "flatMapGroupsWithState last-event state machine (one state row per " +
        "user; events fold in full-microsecond (ts, event_id) order within " +
        "a batch, state continues the chain across batches), then the " +
        "shared driver-side BT fit runs over the emitted comparison " +
        "stream. Oracle = q153's — the stream must reproduce the batch " +
        "fit bit-for-bit."))

  /** Cheap, stable fingerprint of a query's physical plan SHAPE: the md5 of
    * the depth-annotated operator nodeName tree (AQE stages and reused
    * subtrees walked through), computed on the PRE-EXECUTION plan. Node
    * names carry the load-bearing facts — join strategy, exchange count,
    * codegen spans — while expression ids, paths, and statistics (which
    * differ per run) never enter the hash. Written into PLANS.md's
    * fingerprint table and re-checked by `graft.Verify` (VERDICT r10 item
    * 8): a silent plan regression surfaces as a `[verify] PLAN-DRIFT` line
    * instead of a bench mystery; intentional changes regenerate PLANS.md.
    */
  def fingerprint(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = {
      sb.append("  " * depth).append(p.nodeName).append('\n')
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      kids.foreach(walk(_, depth + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The headline (batch) query names covered by the fingerprint gate. */
  def fingerprinted: Seq[String] = headline.map(_._1)

  /** Parse the fingerprint table out of a PLANS.md text. */
  def parseFingerprints(plansMd: String): Map[String, String] =
    """\| (q\w+) \| ([0-9a-f]{32}) \|""".r.findAllMatchIn(plansMd)
      .map(m => m.group(1) -> m.group(2)).toMap

  /** The latest ScaleTrend artifact's outlier adjudications:
    * (source file, rows of (query, ratio_battery, ratio_isolated)).
    * Source = SPARK_GRAFT_SCALETREND_PRIOR if set, else the newest
    * SCALETREND_r*.json in the working directory; None when neither exists.
    */
  private[graft] def scaletrendOutliers(): Option[(String, Seq[(String, Double, Double)])] = {
    val path = sys.env.get("SPARK_GRAFT_SCALETREND_PRIOR").filter(_.nonEmpty)
      .orElse {
        // sort by the ROUND NUMBER, not the filename (ADVICE r17): lexical
        // order puts SCALETREND_r9 after r17 at every digit-count boundary
        // and would silently surface a stale round's adjudications
        Option(new java.io.File(".").listFiles()).flatMap(
          _.filter(_.getName.matches("SCALETREND_r\\d+\\.json"))
            .sortBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
            .lastOption.map(_.getPath))
      }
    path.flatMap { p =>
      try {
        val txt = Files.readString(Paths.get(p))
        val re = (""""(q\w+)":\s*\{\s*"ratio_battery":\s*([-\d.Ee]+)\s*,\s*""" +
          """"ratio_isolated":\s*([-\d.Ee]+)""").r
        val rows = re.findAllMatchIn(txt)
          .map(m => (m.group(1), m.group(2).toDouble, m.group(3).toDouble))
          .toSeq.distinct.sortBy(_._1)
        Some((new java.io.File(p).getName, rows))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local("graft-plans")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` at $sfDir. The annotations are the\n")
    sb.append("scale property each plan is expected to show; `PlanSpec` asserts the\n")
    sb.append("load-bearing ones on every test run.\n")
    val fingerprints = Seq.newBuilder[(String, String)]
    headline.foreach { case (name, note) =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      fingerprints += (name -> fingerprint(df)) // BEFORE execution (Verify compares pre-execution too)
      df.collect() // let AQE finalize
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(8000))
      sb.append("\n```\n")
    }
    sb.append("\n# Plan fingerprints\n\n")
    sb.append("md5 of the pre-execution operator-shape tree (see `Plans.fingerprint`).\n")
    sb.append("`graft.Verify` warns PLAN-DRIFT when a gate run's shape differs.\n\n")
    sb.append("| query | fingerprint |\n|---|---|\n")
    fingerprints.result().foreach { case (n, f) => sb.append(s"| $n | $f |\n") }
    // ScaleTrend outlier adjudications (r17, VERDICT r16 low item): surface
    // the latest artifact's auto-adjudicated battery outliers next to the
    // fingerprint table, so a reader checking a row's plan also sees that
    // its last battery growth ratio was re-measured in isolation (and what
    // the isolated truth was) instead of digging through SCALETREND jsons.
    scaletrendOutliers() match {
      case Some((src, rows)) if rows.nonEmpty =>
        sb.append(s"\nScaleTrend outlier adjudications (from `$src`; " +
          "battery ratio → isolated re-measure; -1 = isolation refused):\n\n")
        sb.append("| query | ratio_battery | ratio_isolated |\n|---|---|---|\n")
        rows.foreach { case (q, b, i) =>
          sb.append(f"| $q | $b%.2f× | $i%.2f× |\n")
        }
      case Some((src, _)) =>
        sb.append(s"\nScaleTrend outlier adjudications (from `$src`): none — " +
          "no battery row exceeded OutlierK× its prior-round ratio.\n")
      case None => ()
    }
    sb.append("\n# Driver-composed queries (distributed pass consumed pre-collect)\n")
    driverComposedNotes.foreach { case (name, note) =>
      sb.append(s"\n## $name\n\n$note\n")
    }
    sb.append("\n# Streaming queries (micro-batch plans)\n")
    streamingNotes.foreach { case (name, note) =>
      sb.append(s"\n## $name\n\n$note\n")
    }
    sb.append("\n# Core-API (DAG) queries (topology = the plan)\n")
    dagNotes.foreach { case (name, note) =>
      sb.append(s"\n## $name\n\n$note\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${headline.size} batch + " +
      s"${driverComposedNotes.size} driver-composed + ${streamingNotes.size} streaming + " +
      s"${dagNotes.size} dag)")
    spark.stop()
  }
}

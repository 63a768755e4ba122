package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation/selection batch (round 5): token-budget-aware corpus
  * selection, fixed-context chunking with overlap, BM25 retrieval, and
  * tokenizer-vocabulary coverage profiling. These are the "assemble the
  * training set" operators that sit downstream of the hygiene passes
  * (dedup/decontamination/quality in TextQueries/CorpusQueries): once the
  * corpus is clean, a pipeline selects documents against a token budget,
  * packs them into fixed context windows, retrieves eval-relevant slices,
  * and audits tokenizer coverage. Every entry is DuckDB-oracle-checked.
  */
object CurationQueries {

  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)
  private def tokSql = TextQueries.tokSql

  // ------------------------------------------- q97 token-budget selection
  /** Per-source token-budget fill: order each source's documents by a
    * deterministic priority (longest-first as the quality proxy, doc_id
    * tie-break), take documents while the running token total stays within
    * the per-source budget. The standard "give every source at most B
    * tokens" cap used when assembling a mixture from heterogeneous sources.
    *
    * Scale shape: ONE shuffle keyed on source, then a per-source sort for
    * the running-sum window — cumulative state is a single long. A
    * pathologically large source concentrates its sort on one partition;
    * the two-phase refinement (per-partition partial fills + a driver-side
    * merge of partition subtotals) trades exactness of the greedy order for
    * a bounded per-partition sort, but at 100 TB the window sort over ONE
    * source's doc list (not the corpus) is usually acceptable as-is.
    */
  val q97_token_budget: Q = (s, dir) => {
    import s.implicits._
    val budget = 800L
    val docs = t(s, dir, "documents")
      .select($"source", $"doc_id",
        size(T.tokens($"text")).cast("long").as("n_tokens"))
    val w = Window.partitionBy($"source")
      .orderBy($"n_tokens".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum_tokens", sum($"n_tokens").over(w))
      .filter($"cum_tokens" <= budget)
      .select($"source", $"doc_id", $"n_tokens", $"cum_tokens")
  }

  val q97_oracle: String =
    s"""WITH d AS (SELECT source, doc_id, len($tokSql)::BIGINT AS n_tokens
       |  FROM documents),
       |c AS (SELECT source, doc_id, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY n_tokens DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
       |      AS cum_tokens
       |  FROM d)
       |SELECT source, doc_id, n_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= 800""".stripMargin

  // ------------------------------------------- q98 fixed-context chunking
  /** Overlapping fixed-context chunking: split every document into windows
    * of 64 tokens with stride 48 (16-token overlap) — the RAG/pretraining
    * chunker. Chunk ids are derived from the window start (start/stride),
    * so the output is a pure function of the row. A window start past
    * `n - (win - stride)` would add no tokens beyond the previous chunk's
    * coverage (the whole window lies inside the overlap region), so such
    * degenerate trailing chunks are not emitted: every non-final chunk is
    * exactly `win` tokens and every token is covered exactly once outside
    * the overlap regions.
    *
    * Scale shape: ZERO shuffle — scan → per-row explode of window starts →
    * slice/join projections, all narrow, fully pipelined inside one
    * whole-stage-codegen span. At 100 TB this is scan-bound by
    * construction; output row count is ~n_tokens/stride per doc.
    */
  val q98_chunking: Q = (s, dir) => {
    import s.implicits._
    val (win, stride) = (64, 48)
    t(s, dir, "documents")
      .select($"doc_id", T.tokens($"text").as("ts"))
      .withColumn("n", size($"ts"))
      .filter($"n" > 0)
      .withColumn("start",
        explode(filter(sequence(lit(0), $"n" - 1, lit(stride)),
          st => st === 0 || st < $"n" - lit(win - stride))))
      .select($"doc_id",
        ($"start" / stride).cast("long").as("chunk_id"),
        slice($"ts", $"start" + 1, lit(win)).as("chunk"))
      .select($"doc_id", $"chunk_id",
        size($"chunk").as("n_chunk_tokens"),
        array_join($"chunk", " ").as("chunk_text"))
  }

  val q98_oracle: String =
    s"""WITH tk AS (SELECT doc_id, $tokSql AS ts FROM documents),
       |nz AS (SELECT doc_id, ts, len(ts) AS n FROM tk WHERE len(ts) > 0),
       |st AS (SELECT doc_id, ts, n, unnest(list_filter(
       |      generate_series(0, n - 1, 48),
       |      s -> s = 0 OR s < n - 16)) AS start FROM nz),
       |ch AS (SELECT doc_id, (start // 48)::BIGINT AS chunk_id,
       |    list_slice(ts, start + 1, least(start + 64, n)) AS chunk FROM st)
       |SELECT doc_id, chunk_id, len(chunk) AS n_chunk_tokens,
       |  array_to_string(chunk, ' ') AS chunk_text FROM ch""".stripMargin

  // ------------------------------------------------- q99 BM25 top-k docs
  /** BM25 retrieval (Lucene's idf form, k1=1.2, b=0.75) of the top-10
    * documents for a fixed query-term set — the "pull eval-adjacent
    * training docs" / relevance-slice operator.
    *
    * Float determinism contract (the q84/q92 class): per-term idf and the
    * per-(doc,term) contribution are rounded to 9 dp, the per-doc sum is
    * an ORDERED fold over the query terms, and the final score rounds to
    * 6 dp before the (score DESC, doc_id) rank.
    *
    * Scale shape: the term filter runs BEFORE any shuffle (only rows whose
    * token is in the 3-term query survive the explode), so the tf agg
    * shuffles query-matching tokens only; corpus stats (N, avgdl) and the
    * df side are model-sized broadcasts; top-k is a global sort of the
    * scored matches — docs with zero matching terms never enter the plan.
    */
  val q99_bm25_topk: Q = (s, dir) => {
    import s.implicits._
    val terms = Seq("spark", "join", "window")
    val (k1, b) = (1.2, 0.75)
    val docs = t(s, dir, "documents")
      .select($"doc_id", T.tokens($"text").as("ts"))
      .select($"doc_id", size($"ts").cast("long").as("dl"), $"ts")
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      (sum($"dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select($"doc_id", $"dl", explode($"ts").as("tok"))
      .filter($"tok".isin(terms: _*))
      .groupBy($"doc_id", $"dl", $"tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "tok").crossJoin(broadcast(stats))
      .withColumn("idf",
        round(log(lit(1.0) +
          ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5)), 9))
      .withColumn("contrib",
        round($"idf" * ($"tf" * lit(k1 + 1)) /
          ($"tf" + lit(k1) * (lit(1 - b) + lit(b) * $"dl" / $"avgdl")), 9))
    scored.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        sort_array(collect_list(struct($"tok", $"contrib"))).as("cs"))
      .select($"doc_id", $"n_terms_hit",
        round(aggregate(transform($"cs", x => x.getField("contrib")),
          lit(0.0), (a, c) => a + c), 6).as("score"))
      .orderBy($"score".desc, $"doc_id")
      .limit(10)
  }

  val q99_oracle: String =
    s"""WITH tk AS (SELECT doc_id, $tokSql AS ts FROM documents),
       |d AS (SELECT doc_id, len(ts)::BIGINT AS dl, ts FROM tk),
       |stats AS (SELECT count(*)::BIGINT AS n_docs,
       |    sum(dl)::DOUBLE / count(*) AS avgdl FROM d),
       |tf AS (SELECT doc_id, dl, tok, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, dl, unnest(ts) AS tok FROM d)
       |  WHERE tok IN ('spark', 'join', 'window')
       |  GROUP BY doc_id, dl, tok),
       |dfq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
       |sc AS (SELECT tf.doc_id, tf.tok,
       |    round(ln(1.0 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)), 9)
       |      AS idf,
       |    tf.tf, tf.dl, s.avgdl
       |  FROM tf JOIN dfq USING (tok) CROSS JOIN stats s),
       |con AS (SELECT doc_id, tok,
       |    round(idf * (tf * 2.2)
       |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 9) AS contrib
       |  FROM sc),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
       |    round(list_reduce(list_prepend(0.0, list(contrib ORDER BY tok)),
       |      (a, c) -> a + c), 6) AS score
       |  FROM con GROUP BY doc_id)
       |SELECT doc_id, n_terms_hit, score FROM agg
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  // --------------------------------------------- q100 vocab coverage / OOV
  /** Tokenizer-vocabulary coverage audit: build the top-50 corpus vocabulary
    * by frequency ((count DESC, token ASC) — fully deterministic cut), then
    * report every document's out-of-vocabulary token count and rate. The signal
    * a tokenizer/vocab choice is validated with before a training run.
    *
    * Scale shape: the vocab is a model-sized artifact (one map-side-partial
    * count agg + a global top-V) broadcast to the per-doc pass; the per-doc
    * OOV counts are one map-side-partial agg keyed on doc_id. No corpus
    * data ever shuffles by token except the V-row vocab build.
    */
  val q100_vocab_oov: Q = (s, dir) => {
    import s.implicits._
    val toks = Tables.fanOutScan(t(s, dir, "documents"))
      .select($"doc_id", explode(T.tokens($"text")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"tok").limit(50)
      .select($"tok", lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
      .select($"doc_id", $"n_tokens", $"n_oov",
        round($"n_oov".cast("double") / $"n_tokens", 6).as("oov_rate"))
  }

  val q100_oracle: String =
    s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents),
       |v AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tok GROUP BY tok
       |    ORDER BY c DESC, tok LIMIT 50)),
       |j AS (SELECT t.doc_id, t.tok, v.tok AS vt
       |  FROM tok t LEFT JOIN v ON t.tok = v.tok)
       |SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |  sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       |  round(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*), 6) AS oov_rate
       |FROM j GROUP BY doc_id""".stripMargin

  // ------------------------------------------- q101 shard assignment
  /** Deterministic training-data shuffle + shard assignment: every document
    * gets a pseudo-random but reproducible position via md5 over a seeded
    * key, a shard from the hash's first 8 hex digits (row-local — no global
    * coordination), and an ordinal within its shard (the write position in
    * that shard's training file). The standard "shuffle once, shard for N
    * data-loader workers" step before serializing a corpus.
    *
    * Scale shape: shard assignment is a pure projection; the only shuffle is
    * the per-shard ordering window, keyed on shard — grow the shard count
    * with the cluster (shards are independent, so the window never sees more
    * than one shard's rows). No global sort, no driver state.
    */
  val q101_shard_assign: Q = (s, dir) => {
    import s.implicits._
    val nShards = 8
    val keyed = t(s, dir, "documents")
      .select($"doc_id",
        md5(concat(lit("shuf42:"), $"doc_id".cast("string"))).as("hkey"))
      .withColumn("shard",
        pmod(conv(substring($"hkey", 1, 8), 16, 10).cast("long"),
          lit(nShards)))
    val w = Window.partitionBy($"shard").orderBy($"hkey", $"doc_id")
    keyed.withColumn("pos_in_shard", row_number().over(w) - 1)
      .select($"doc_id", $"shard", $"pos_in_shard")
  }

  val q101_oracle: String =
    s"""WITH k AS (SELECT doc_id,
       |    md5('shuf42:' || doc_id::VARCHAR) AS hkey FROM documents),
       |sh AS (SELECT doc_id, hkey,
       |    ('0x' || substr(hkey, 1, 8))::BIGINT % 8 AS shard FROM k)
       |SELECT doc_id, shard,
       |  row_number() OVER (PARTITION BY shard ORDER BY hkey, doc_id) - 1
       |    AS pos_in_shard
       |FROM sh""".stripMargin

  // --------------------------------- q102 per-source adaptive quality gate
  /** Relative (per-source) quality selection: keep each source's top 60% of
    * documents by lexical diversity (distinct-token count, doc_id
    * tie-break). Absolute quality thresholds don't transfer across sources
    * with different registers; the relative gate is the recipe when a fixed
    * cut would empty one source and pass another wholesale. The 60% cut is
    * integer-exact (10·rank ≤ 6·count — no float threshold).
    *
    * Scale shape: one shuffle keyed on source; rank + count come from the
    * same window sort; the kept rows stream out without re-aggregation.
    */
  val q102_adaptive_quality: Q = (s, dir) => {
    import s.implicits._
    val scored = t(s, dir, "documents")
      .select($"source", $"doc_id",
        size(array_distinct(T.tokens($"text"))).as("n_distinct"))
    val w = Window.partitionBy($"source").orderBy($"n_distinct".desc, $"doc_id")
    val wc = Window.partitionBy($"source")
    scored.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wc))
      .filter($"rn" * 10 <= $"cnt" * 6)
      .select($"source", $"doc_id", $"n_distinct")
  }

  val q102_oracle: String =
    s"""WITH sc AS (SELECT source, doc_id,
       |    len(list_distinct($tokSql)) AS n_distinct FROM documents),
       |r AS (SELECT source, doc_id, n_distinct,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n_distinct DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY source) AS cnt FROM sc)
       |SELECT source, doc_id, n_distinct FROM r
       |WHERE rn * 10 <= cnt * 6""".stripMargin

  // --------------------------------------- q103 interpolated bigram LM score
  /** Bigram-LM quality scoring with unigram interpolation: train bigram and
    * unigram counts on the corpus itself, score every document by its mean
    * interpolated token log-probability
    * `log(0.7·c(prev,cur)/c(prev) + 0.3·c(cur)/total)` over positions 2..n.
    * The step up from q84's unigram proxy: word-order-destroying garbage
    * (shuffled tokens, keyword stuffing) keeps its unigram score but craters
    * here, which is why bigram perplexity is the classic cheap fluency gate.
    *
    * Determinism contract (the q84/q92/q99 class): per-bigram log-probs are
    * rounded to 6 dp, then summed by an ORDERED fold over token positions on
    * both engines; interpolation weights are the exact literals 0.7/0.3 (no
    * derived `1 - λ`, whose double value differs from the 0.3 literal).
    *
    * Scale shape: one doc-keyed window for the lag (the chunking/window
    * shuffle every positional op pays once), token- and bigram-keyed count
    * aggs with map-side partials, a bigram-keyed join for the numerator (the
    * bigram table is corpus-vocabulary-sized, not corpus-sized), and a final
    * doc-keyed fold agg.
    */
  val q103_bigram_logprob: Q = (s, dir) => {
    import s.implicits._
    // NO fanOutScan here (measured r20): q103 with the scan fan-out read
    // +13-24% on repeated warm A/Bs — its two passes each feed an agg AND a
    // join, and the extra round-robin exchange costs more than the widened
    // tokenize saves on this shape. The only fanned query family is the one
    // that measured faster; see OPTIMIZATION_r20.md C7.
    val tok = t(s, dir, "documents")
      .select($"doc_id", posexplode_outer(T.tokens($"text")).as(Seq("pos", "tok")))
      .filter($"tok".isNotNull)
    val uni = tok.groupBy($"tok").agg(count(lit(1)).as("ucnt"))
    val total = uni.agg(sum($"ucnt").cast("double").as("total"))
    // bigrams ARRAY-LOCALLY from the token array (r19): (prev, tok) at
    // 0-based position p is just (ts[p], ts[p+1]) — the former lag() over a
    // doc-keyed window paid a full exchange + sort on (doc_id, pos) for
    // adjacency the tokenizer's output array already has, and paid it TWICE
    // (this frame feeds both the score join and the bigram-count agg).
    // Two-level select so the tokenize runs once per subtree, not once per
    // element_at reference (the q70 generate-inlining lesson). Same rows,
    // same pos values; the oracle's lag() replay is unchanged.
    val big = t(s, dir, "documents")
      .select($"doc_id", T.tokens($"text").as("ts"))
      .select($"doc_id", when(size($"ts") >= 2,
        transform(sequence(lit(1), size($"ts") - 1), i =>
          struct(element_at($"ts", i).as("prev"), element_at($"ts", i + 1).as("tok"))))
        .otherwise(array().cast("array<struct<prev:string,tok:string>>")).as("bs"))
      .select($"doc_id", posexplode_outer($"bs").as(Seq("p0", "b")))
      .filter($"b".isNotNull)
      .select($"doc_id", ($"p0" + 1).as("pos"), $"b.prev".as("prev"), $"b.tok".as("tok"))
    val bcnt = big.groupBy($"prev", $"tok").agg(count(lit(1)).as("bcnt"))
    big.join(bcnt, Seq("prev", "tok"))
      .join(uni.select($"tok".as("prev"), $"ucnt".as("pcnt")), "prev")
      .join(uni, "tok")
      .crossJoin(broadcast(total))
      .withColumn("lp", round(log(
        lit(0.7) * ($"bcnt".cast("double") / $"pcnt") +
          lit(0.3) * ($"ucnt".cast("double") / $"total")), 6))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"pos", $"lp"))).as("lps"))
      .select($"doc_id", size($"lps").as("n_bigrams"),
        round(aggregate(transform($"lps", x => x.getField("lp")),
          lit(0.0), (a, b) => a + b) / size($"lps"), 6).as("logprob2"))
  }

  val q103_oracle: String =
    s"""WITH tokl AS (SELECT doc_id, $tokSql AS ts FROM documents),
       |tok AS (SELECT doc_id, ts[i] AS tok, i AS pos
       |        FROM tokl, unnest(generate_series(1, len(ts))) u(i)),
       |uni AS (SELECT tok, count(*) AS ucnt FROM tok GROUP BY tok),
       |tot AS (SELECT sum(ucnt)::DOUBLE AS total FROM uni),
       |bg AS (SELECT doc_id, pos, tok,
       |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM tok),
       |bgf AS (SELECT * FROM bg WHERE prev IS NOT NULL),
       |bcnt AS (SELECT prev, tok, count(*) AS bcnt FROM bgf GROUP BY prev, tok),
       |lp AS (SELECT b.doc_id, b.pos,
       |    round(ln(0.7 * (bc.bcnt::DOUBLE / up.ucnt)
       |           + 0.3 * (uc.ucnt::DOUBLE / tot.total)), 6) AS lp
       |  FROM bgf b
       |  JOIN bcnt bc ON b.prev = bc.prev AND b.tok = bc.tok
       |  JOIN uni up ON b.prev = up.tok
       |  JOIN uni uc ON b.tok = uc.tok
       |  CROSS JOIN tot),
       |agg AS (SELECT doc_id, list(lp ORDER BY pos) AS lps FROM lp GROUP BY doc_id)
       |SELECT doc_id, len(lps) AS n_bigrams,
       |  round(list_reduce(list_prepend(0.0, lps), (a, b) -> a + b)
       |    / len(lps), 6) AS logprob2
       |FROM agg""".stripMargin

  // ------------------------------------- q105 inter-source n-gram overlap
  /** Source-overlap contamination matrix: for every pair of sources, how many
    * distinct token-5-grams they share. The pre-mixing diagnostic that
    * catches "these two crawls are partly the same corpus" before mixture
    * weights (q71/q95) are computed over double-counted text — document-level
    * dedup misses this when the shared text is embedded in different docs.
    *
    * Scale shape: the 5-gram explode is narrow; the (source, gram) distinct
    * is one shuffle with map-side partials; the self-join key is the gram,
    * whose bucket is bounded by the SOURCE COUNT (not corpus size), so the
    * join cannot go quadratic in rows; the output is a #sources² matrix —
    * model-sized. The gram key is the 64-bit md5 PREFIX, not the full hash:
    * a shuffle audit (BASELINE.md, round 5 q101–q106 batch) measured the
    * full-hex key at 9.2 MB shuffled per 0.003 MB of input (read twice by
    * the self-join) — the 16-hex-char truncation halves that, and both
    * engines truncate identically so any collision perturbs both counts the
    * same way (the differential check stays exact).
    */
  val q105_source_ngram_overlap: Q = (s, dir) => {
    import s.implicits._
    val n = 5
    val g = Tables.fanOutScan(t(s, dir, "documents"))
      .select($"source", T.tokens($"text").as("ts"))
      .filter(size($"ts") >= n)
      .withColumn("i", explode(sequence(lit(1), size($"ts") - (n - 1))))
      .select($"source",
        substring(md5(array_join(slice($"ts", $"i", lit(n)), " ")), 1, 16).as("gram"))
      .distinct()
    g.select($"gram", $"source".as("src_a"))
      .join(g.select($"gram", $"source".as("src_b")), "gram")
      .filter($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  val q105_oracle: String =
    s"""WITH tk AS (SELECT source, $tokSql AS ts FROM documents),
       |nz AS (SELECT source, ts, len(ts) AS n FROM tk WHERE len(ts) >= 5),
       |g AS (SELECT DISTINCT source,
       |    substr(md5(array_to_string(list_slice(ts, i, i + 4), ' ')), 1, 16) AS gram
       |  FROM nz, unnest(generate_series(1, n - 4)) u(i))
       |SELECT a.source AS src_a, b.source AS src_b,
       |  count(*)::BIGINT AS n_shared_grams
       |FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  // ------------------------------------ q106 contrastive positive pairs
  /** Anchor/positive pair manifest for contrastive pretraining: adjacent
    * overlapping chunks of the same document (from q98's stride-48/window-64
    * chunker) form naturally-aligned positive pairs — the standard
    * self-supervised construction when no labeled pairs exist. Emits
    * fingerprints, not text: the manifest is what ships to the trainer, and
    * a pair manifest carrying full duplicate text would double the corpus.
    *
    * Scale shape: the chunker is q98's zero-shuffle narrow pipeline; pairing
    * is a single self-join keyed on (doc_id, chunk_id) — co-partitioned by
    * construction, bucket size 1, no fan-out.
    */
  val q106_contrastive_pairs: Q = (s, dir) => {
    import s.implicits._
    val chunks = q98_chunking(s, dir)
    val a = chunks.select($"doc_id", $"chunk_id",
      md5($"chunk_text").as("anchor_fp"))
    val b = chunks.select($"doc_id", ($"chunk_id" - 1).as("chunk_id"),
      md5($"chunk_text").as("positive_fp"))
    a.join(b, Seq("doc_id", "chunk_id"))
      .select($"doc_id", $"chunk_id".as("anchor_chunk"),
        $"anchor_fp", $"positive_fp")
  }

  val q106_oracle: String =
    s"""WITH tk AS (SELECT doc_id, $tokSql AS ts FROM documents),
       |nz AS (SELECT doc_id, ts, len(ts) AS n FROM tk WHERE len(ts) > 0),
       |st AS (SELECT doc_id, ts, n, unnest(list_filter(
       |      generate_series(0, n - 1, 48),
       |      s -> s = 0 OR s < n - 16)) AS start FROM nz),
       |ch AS (SELECT doc_id, (start // 48)::BIGINT AS chunk_id,
       |    md5(array_to_string(
       |      list_slice(ts, start + 1, least(start + 64, n)), ' ')) AS fp
       |  FROM st)
       |SELECT a.doc_id, a.chunk_id AS anchor_chunk,
       |  a.fp AS anchor_fp, b.fp AS positive_fp
       |FROM ch a JOIN ch b
       |  ON a.doc_id = b.doc_id AND b.chunk_id = a.chunk_id + 1""".stripMargin

  // ----------------------------------------- q108 Naive-Bayes classifier
  /** Trainable corpus classifier, trained and applied in one pipeline: a
    * multinomial Naive Bayes over token counts with the document `lang` as
    * the class — the same shape as the fastText/logistic quality classifiers
    * used to filter web corpora (class = "high quality" vs "low"), exercised
    * here on the label the fixtures carry. Complements q33's n-gram heuristic
    * lang-id: q33 is zero-shot rules, q108 LEARNS from labeled data.
    *
    * Training is two aggregations: per-(token, class) counts (one map-side
    * partial agg shuffle, output is vocabulary×classes-sized) and per-class
    * token totals derived from it (no second corpus scan). The fitted model —
    * add-one-smoothed log-likelihood per (token, class) plus class log-priors
    * — is model-sized, so scoring BROADCASTS it (q100's model-sized-broadcast
    * pattern): the corpus never shuffles for the lookup; the only corpus-keyed
    * exchange is the per-(doc, class) score aggregation. The token grid is
    * tokens × n_classes rows (classes is a small constant), narrow columns.
    *
    * Determinism contract (q84's): per-token log-likelihoods and class priors
    * are rounded to 6 dp, summed by an ORDERED fold over token positions on
    * both engines, and the argmax tie-breaks on class name.
    */
  val q108_nb_classifier: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.fanOutScan(t(s, dir, "documents"))
    // NOT widened: the Width.widen A/B on tokenize-bound passes (BASELINE.md
    // r7) reproduces here — 6.6 s widened vs 6.0 s narrow at sf0.1
    val tok = docs
      .select($"doc_id", $"lang", posexplode_outer(T.tokens($"text")).as(Seq("pos", "tok")))
      .filter($"tok".isNotNull)
    // fit: token-class counts + class totals + vocab size + class priors.
    // The counts table is the FIT ARTIFACT every later step derives from —
    // materialize it once (it's vocab×classes-sized, never corpus-sized) so
    // langtot/vocabSize/the broadcast don't each re-run the corpus tokenize
    // (profiled: 3 redundant ~2 s single-pass scans at sf0.1 without this).
    // localCheckpoint, not cache: blocks are freed when the frame is GC'd.
    // The scoring pass below still re-tokenizes once — at 100 TB you
    // re-tokenize rather than materialize a corpus-sized token grid.
    val tokc = tok.groupBy($"tok", $"lang").agg(count(lit(1)).as("cnt"))
      .withColumnRenamed("lang", "clang").localCheckpoint(true)
    val langtot = tokc.groupBy($"clang").agg(sum($"cnt").cast("double").as("tot"))
    val vocabSize = tokc.agg(countDistinct($"tok").cast("double").as("v"))
    val priors = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).cast("double").as("nd"))))
      .select($"lang".as("clang"), round(log($"n" / $"nd"), 6).as("prior"))
    // score: every document against every class; absent (token, class) pairs
    // fall back to the add-one smoothing mass via the LEFT broadcast join
    val scored = tok.select($"doc_id", $"pos", $"tok")
      .crossJoin(broadcast(langtot))
      .crossJoin(broadcast(vocabSize))
      .join(broadcast(tokc), Seq("tok", "clang"), "left")
      .withColumn("ll",
        round(log((coalesce($"cnt", lit(0L)) + 1) / ($"tot" + $"v")), 6))
      .groupBy($"doc_id", $"clang")
      .agg(sort_array(collect_list(struct($"pos", $"ll"))).as("lls"))
      .join(broadcast(priors), "clang")
      .select($"doc_id", $"clang",
        round(
          aggregate(transform($"lls", x => x.getField("ll")), lit(0.0), (a, b) => a + b)
            + $"prior", 6).as("score"))
    // per-doc argmax as ONE hash aggregate (r19): the former row_number()
    // window paid a doc-keyed exchange + FULL SORT of the (doc × classes)
    // score table just to keep one row per doc. min_by over the composite
    // order key struct(-score, clang) is the same (score DESC, clang ASC)
    // pick — scores are 6-dp-rounded doubles, ties break on clang, and the
    // key is unique per group so the winner is deterministic — computed with
    // map-side partials and no sort. FINITE-SCORE assumption (ADVICE r19):
    // a NaN score would diverge from the replaced window (desc ordering
    // ranks NaN first; -NaN sorts LAST under min) — unreachable here because
    // scores are finite log-sums of add-1-smoothed ratios plus a finite
    // prior, recorded in case the scoring ever changes.
    scored.groupBy($"doc_id")
      .agg(min_by(struct($"clang", $"score"), struct((-$"score").as("ns"), $"clang")).as("b"))
      .select($"doc_id", $"b.clang".as("pred_lang"), $"b.score".as("score"))
  }

  val q108_oracle: String =
    s"""WITH tokl AS (SELECT doc_id, $tokSql AS ts FROM documents),
       |tok AS (SELECT doc_id, ts[i] AS tok, i AS pos
       |        FROM tokl, unnest(generate_series(1, len(ts))) u(i)),
       |lab AS (SELECT doc_id, lang FROM documents),
       |tokc AS (SELECT t.tok, l.lang, count(*) AS cnt
       |         FROM tok t JOIN lab l USING (doc_id) GROUP BY t.tok, l.lang),
       |langtot AS (SELECT lang, sum(cnt)::DOUBLE AS tot FROM tokc GROUP BY lang),
       |voc AS (SELECT count(DISTINCT tok)::DOUBLE AS v FROM tokc),
       |nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
       |prior AS (SELECT lang, round(ln(count(*) / nd.n), 6) AS prior
       |          FROM documents CROSS JOIN nd GROUP BY lang, nd.n),
       |ll AS (SELECT t.doc_id, t.pos, lt.lang,
       |         round(ln((coalesce(c.cnt, 0) + 1) / (lt.tot + voc.v)), 6) AS ll
       |       FROM tok t CROSS JOIN langtot lt CROSS JOIN voc
       |       LEFT JOIN tokc c ON c.tok = t.tok AND c.lang = lt.lang),
       |agg AS (SELECT doc_id, lang, list(ll ORDER BY pos) AS lls
       |        FROM ll GROUP BY doc_id, lang),
       |sc AS (SELECT a.doc_id, a.lang,
       |         round(list_reduce(list_prepend(0.0, a.lls), (x, y) -> x + y)
       |           + p.prior, 6) AS score
       |       FROM agg a JOIN prior p ON a.lang = p.lang),
       |rk AS (SELECT doc_id, lang, score,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY score DESC, lang ASC) AS rn FROM sc)
       |SELECT doc_id, lang AS pred_lang, score FROM rk WHERE rn = 1""".stripMargin

  // ----------------------------------------- q111 length-bucketed batching
  /** Dynamic-batching manifest: group documents into training batches of
    * B=8 by LENGTH BUCKET so each batch pads to its own max length instead
    * of the global one — the standard padding-efficiency move for
    * variable-length sequence training. Bucket = bit-length of the token
    * count (power-of-two bands; integer-exact on both engines via
    * `length(bin(n))` — no float log). Within a bucket, documents take a
    * deterministic doc_id order and chunk into batches of B; each batch
    * reports its max length and padding waste (B·max − Σlen for full
    * batches; partial tail batches count their actual size).
    *
    * Scale shape: the only exchange is the bucket-keyed ordering window.
    * Bucket count is small (log of the max length), so at 100 TB the
    * within-bucket sort is the bottleneck — shard the ordering key to
    * (bucket, q101-style seeded shard) and batches stay deterministic while
    * the sort spreads; the single-key window here keeps the oracle exact.
    */
  val q111_length_batches: Q = (s, dir) => {
    import s.implicits._
    val docTok = t(s, dir, "documents")
      .select($"doc_id", size(T.tokens($"text")).cast("long").as("n_tokens"))
      .filter($"n_tokens" > 0)
      .withColumn("bucket", length(bin($"n_tokens")).cast("long"))
    val w = Window.partitionBy($"bucket").orderBy($"doc_id".asc)
    docTok
      .withColumn("batch_id", floor((row_number().over(w) - 1) / 8).cast("long"))
      .groupBy($"bucket", $"batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max($"n_tokens").as("max_len"),
        (max($"n_tokens") * count(lit(1)) - sum($"n_tokens")).cast("long")
          .as("padding_waste"))
  }

  val q111_oracle: String =
    s"""WITH dt AS (SELECT doc_id, len($tokSql)::BIGINT AS n_tokens FROM documents),
       |b AS (SELECT doc_id, n_tokens, length(bin(n_tokens))::BIGINT AS bucket
       |      FROM dt WHERE n_tokens > 0),
       |r AS (SELECT doc_id, n_tokens, bucket,
       |        (row_number() OVER (PARTITION BY bucket ORDER BY doc_id ASC) - 1) // 8
       |          AS batch_id
       |      FROM b)
       |SELECT bucket, batch_id, count(*) AS n_docs,
       |  max(n_tokens) AS max_len,
       |  (max(n_tokens) * count(*) - sum(n_tokens))::BIGINT AS padding_waste
       |FROM r GROUP BY bucket, batch_id""".stripMargin

  // ------------------------------------------- q117 BPE merge training
  /** Distributed BPE tokenizer training (Sennrich et al. 2016) — the merge
    * loop that produces a subword vocabulary, run as a Spark fit: words and
    * their corpus frequencies are the (vocabulary-sized, NOT corpus-sized)
    * working set; each round counts adjacent symbol pairs weighted by word
    * frequency (one map-side-partial agg over the vocab), picks the argmax
    * (deterministic tie-break: count desc, then pair lexicographic), and
    * applies the merge to every word's symbol sequence. The merge is a
    * sentinel-delimited string replace — `<S>a<S>b<S>` → `<S>ab<S>` (<S> =
    * U+0001; the tokenizer emits alnum-only symbols, so the sentinel cannot
    * occur in data) — with non-overlapping left-to-right semantics that are
    * IDENTICAL in Spark's `replace` and DuckDB's, so the two engines can
    * never diverge. Within a run of repeated symbols this merges ALTERNATE
    * pairs (each match consumes the shared delimiter: `aaa → [aa, a]`,
    * `aaaa → [aa, a, a]`) — a deterministic variant of rescan-greedy BPE
    * (which would give `aaaa → [aa, aa]`); the difference is confined to
    * same-symbol runs and Round7OpsSpec pins it so neither side gets
    * "fixed" alone. Output = the
    * 3-round merge TRACE (round, left, right, pair_count); the oracle
    * replays the entire training loop in SQL, so the differential check
    * covers the learning dynamics, not just one count.
    *
    * 100 TB shape: the corpus is touched ONCE (word counts); every round
    * after that runs over distinct words — bounded by vocabulary, not data.
    * k merges = k vocab-sized aggregations + k driver-collected argmax rows
    * (the fit-artifact boundary, as KMeansLite/q113).
    */
  private[queries] val BpeSep = "\u0001"

  /** Shared BPE fit (q117 trace / q119 encode): one corpus pass for word
    * counts, then `rounds` merge rounds over the vocabulary. Returns the
    * merge trace (round, left, right, pair_count) and the final symbolized
    * vocabulary (cnt, sym -- sentinel-delimited).
    */
  private def bpeFit(s: SparkSession, dir: String, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import s.implicits._
    val SEP = BpeSep
    def symPairs(sym: org.apache.spark.sql.Column) = {
      val toks = filter(split(sym, SEP), t => length(t) > 0)
      when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => struct(element_at(toks, i).as("l"), element_at(toks, i + 1).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
    }
    var cur = t(s, dir, "documents")
      .select(explode(T.tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select($"cnt", concat(lit(SEP),
        concat_ws(SEP, filter(split($"w", ""), c => length(c) > 0)), lit(SEP)).as("sym"))
      .localCheckpoint(true) // corpus touched once; rounds run on the vocab
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (round <- 1 to rounds) {
      val best = cur
        .select($"cnt", explode_outer(symPairs($"sym")).as("p"))
        .filter($"p".isNotNull)
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"cnt").as("pair_count"))
        .orderBy($"pair_count".desc, $"l".asc, $"r".asc)
        .limit(1).collect()(0)
      val (l, r, c) = (best.getString(0), best.getString(1), best.getLong(2))
      trace += ((round, l, r, c))
      cur = cur.withColumn("sym",
        replace($"sym", lit(SEP + l + SEP + r + SEP), lit(SEP + l + r + SEP)))
    }
    (trace.toSeq, cur)
  }

  val q117_bpe_merges: Q = (s, dir) => {
    import s.implicits._
    bpeFit(s, dir, 3)._1.toDF("round", "left_sym", "right_sym", "pair_count")
  }

  /** DuckDB replay of the BPE merge loop: WITH-chain through `rounds` rounds
    * (w, s0, then p_i/b_i/s_i per round). b_i = the round-i merge pair;
    * s_i = the vocabulary after applying it. Shared by q117 (trace) and
    * q119 (encode).
    */
  private def bpeOracleWith(rounds: Int): String = {
    def pairLayer(p: String, src: String) =
      s"""$p AS (SELECT t[i] AS l, t[i + 1] AS r, sum(cnt)::BIGINT AS pair_count
         |  FROM (SELECT cnt, list_filter(string_split(sym, chr(1)), x -> x <> '') AS t
         |        FROM $src),
         |    unnest(generate_series(1, len(t) - 1)) u(i)
         |  GROUP BY l, r)""".stripMargin
    def bestLayer(b: String, p: String) =
      s"$b AS (SELECT l, r, pair_count FROM $p ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1)"
    def applyLayer(sNext: String, sPrev: String, b: String) =
      s"""$sNext AS (SELECT cnt, replace(sym,
         |    chr(1) || (SELECT l FROM $b) || chr(1) || (SELECT r FROM $b) || chr(1),
         |    chr(1) || (SELECT l FROM $b) || (SELECT r FROM $b) || chr(1)) AS sym
         |  FROM $sPrev)""".stripMargin
    val layers = (1 to rounds).map { i =>
      val prev = s"s${i - 1}"
      Seq(pairLayer(s"p$i", prev), bestLayer(s"b$i", s"p$i"),
        applyLayer(s"s$i", prev, s"b$i")).mkString(",\n")
    }.mkString(",\n")
    s"""WITH w AS (SELECT w, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest($tokSql) AS w FROM documents) GROUP BY w),
       |s0 AS (SELECT cnt, chr(1) ||
       |    array_to_string(list_filter(string_split(w, ''), x -> x <> ''), chr(1))
       |    || chr(1) AS sym FROM w),
       |$layers""".stripMargin
  }

  val q117_oracle: String =
    bpeOracleWith(3) + "\n" +
      """SELECT 1 AS round, l AS left_sym, r AS right_sym, pair_count FROM b1
        |UNION ALL SELECT 2, l, r, pair_count FROM b2
        |UNION ALL SELECT 3, l, r, pair_count FROM b3""".stripMargin

  // ---------------------------------------------- q119 BPE corpus encode
  /** The APPLY half of the tokenizer loop (q117 trains, this encodes): every
    * document is segmented with the trained merge list, producing the
    * per-document subword count a batch-assembly pass (q110/q111) budgets
    * with. The k fitted merges are driver-scale rows (the fit-artifact
    * boundary, as KMeansLite/q113); encoding embeds them as LITERALS in the
    * expression tree -- each word is symbolized and the k sentinel-replaces
    * run in merge order, row-locally, inside whole-stage codegen. Sentinel
    * semantics identical to q117 (and pinned by Round7OpsSpec), so the two
    * engines segment identically. The oracle replays training AND encoding:
    * a divergence anywhere in the loop (wrong merge learned, wrong
    * application order, overlap handling) shifts subword counts and fails
    * the hash.
    *
    * 100 TB shape: fit cost is q117's (corpus touched once, rounds bounded
    * by vocabulary); the encode pass is ZERO-shuffle -- transform() over the
    * token array + an integer fold, one row out per row in, no explode, no
    * aggregation. The scan stays columnar and the merge chain is k string
    * replaces per word.
    */
  val q119_bpe_encode: Q = (s, dir) => {
    import s.implicits._
    val SEP = BpeSep
    val merges = bpeFit(s, dir, 3)._1.map { case (_, l, r, _) => (l, r) }
    t(s, dir, "documents")
      .select($"doc_id", T.tokens($"text").as("ws"))
      .filter(size($"ws") > 0)
      .withColumn("subs", transform($"ws", w => {
        val sym0 = concat(lit(SEP),
          concat_ws(SEP, filter(split(w, ""), c => length(c) > 0)), lit(SEP))
        val symN = merges.foldLeft(sym0) { case (sc, (l, r)) =>
          replace(sc, lit(SEP + l + SEP + r + SEP), lit(SEP + l + r + SEP))
        }
        size(filter(split(symN, SEP), t => length(t) > 0)).cast("long")
      }))
      .select($"doc_id", size($"ws").cast("long").as("n_words"),
        aggregate($"subs", lit(0L), (a, b) => a + b).as("n_subwords"))
  }

  val q119_oracle: String =
    bpeOracleWith(3) + ",\n" +
    s"""encd AS (SELECT doc_id, chr(1) ||
       |    array_to_string(list_filter(string_split(w, ''), x -> x <> ''), chr(1))
       |    || chr(1) AS sym
       |  FROM (SELECT doc_id, unnest($tokSql) AS w FROM documents)),
       |e1 AS (SELECT doc_id, replace(sym,
       |    chr(1) || (SELECT l FROM b1) || chr(1) || (SELECT r FROM b1) || chr(1),
       |    chr(1) || (SELECT l FROM b1) || (SELECT r FROM b1) || chr(1)) AS sym FROM encd),
       |e2 AS (SELECT doc_id, replace(sym,
       |    chr(1) || (SELECT l FROM b2) || chr(1) || (SELECT r FROM b2) || chr(1),
       |    chr(1) || (SELECT l FROM b2) || (SELECT r FROM b2) || chr(1)) AS sym FROM e1),
       |e3 AS (SELECT doc_id, replace(sym,
       |    chr(1) || (SELECT l FROM b3) || chr(1) || (SELECT r FROM b3) || chr(1),
       |    chr(1) || (SELECT l FROM b3) || (SELECT r FROM b3) || chr(1)) AS sym FROM e2)
       |SELECT doc_id, count(*)::BIGINT AS n_words,
       |  sum(len(list_filter(string_split(sym, chr(1)), x -> x <> '')))::BIGINT
       |    AS n_subwords
       |FROM e3 GROUP BY doc_id""".stripMargin

  // --------------------------------------- q120 DSIR importance selection
  /** Data Selection via Importance Resampling (Xie et al. 2023): score every
    * document by how much more likely its hashed-n-gram bag is under a
    * TARGET distribution than under the raw-corpus distribution, then keep
    * the top-k. Features = unigrams + space-joined bigrams hashed into
    * B=1024 buckets (md5-prefix bucket, the q101 recipe, identical in both
    * engines); the two feature distributions are add-1-smoothed bucket
    * histograms; log w(doc) = sum_b c_b * log(p_tgt(b)/p_raw(b)). Target
    * here = the lang='en' slice (standing in for the paper's formal-text
    * target corpus). Selection is the deterministic top-k-by-weight variant
    * (the paper's resampling draw adds Gumbel noise; ranking is the
    * noise-free limit and keeps the oracle exact). Float discipline: the
    * per-bucket log-ratio rounds to 6dp; each doc's weight is an ordered
    * fold over its buckets ASC (the q103 contract), rounded at output.
    *
    * 100 TB shape: the corpus is touched once (gram construction is
    * ROW-LOCAL over the token array -- no lag window); the only corpus-sized
    * shuffle carries (doc_id, bucket, count) -- text and grams never move;
    * the fitted model is B rows, broadcast back; the final top-k is a
    * TakeOrdered. The learned-filter analog of q108 with a bounded feature
    * space instead of a vocabulary.
    */
  val q120_dsir_select: Q = (s, dir) => {
    import s.implicits._
    val B = 1024
    val grams = Tables.fanOutScan(t(s, dir, "documents"))
      .select($"doc_id", $"lang", T.tokens($"text").as("ws"))
      .filter(size($"ws") > 0)
      .select($"doc_id", $"lang", explode(concat($"ws",
        when(size($"ws") >= 2, transform(sequence(lit(1), size($"ws") - 1),
          i => concat_ws(" ", element_at($"ws", i), element_at($"ws", i + 1))))
          .otherwise(array().cast("array<string>")))).as("gram"))
      .withColumn("bucket",
        pmod(T.md5PrefixLong($"gram"), lit(B)))
    // ONE pass over the exploded grams (r19): the bucket features are plain
    // integer sums of the per-(doc, bucket) counts — `craw = Σ c`,
    // `ctgt = Σ c where lang = en` (lang is doc-level, so it rides the
    // doc-keyed agg for free) — so deriving them from docBucket removes the
    // second full tokenize + unigram/bigram explode + md5 pass the separate
    // `grams.groupBy(bucket)` paid. Integer-exact: same counts, same lr.
    // materialized ONCE (localCheckpoint): three consumers stand on it (the
    // doc-side score join, feat for lr, feat for totals) and AQE's stage
    // reuse does not fire across the broadcast-subquery boundary — measured
    // r19: without the checkpoint the gram pass ran per consumer. The
    // intermediate is (docs × ≤1024)-bounded — orders of magnitude smaller
    // than the exploded gram stream it replaces. Eager, not lazy or none:
    // the three sit within warm noise at sf0.1, and "none" re-runs the gram
    // pass once per consumer — a full corpus scan each at scale
    // (OPTIMIZATION_r20.md C5).
    val docBucket0 = grams.groupBy($"doc_id", $"lang", $"bucket")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val docBucket = docBucket0.select($"doc_id", $"bucket", $"c")
    val feat = docBucket0.groupBy($"bucket").agg(
      sum($"c").as("craw"),
      sum(when($"lang" === "en", $"c").otherwise(0L)).as("ctgt"))
    val totals = feat.agg(sum($"craw").as("traw"), sum($"ctgt").as("ttgt"))
    val lr = feat.crossJoin(broadcast(totals))
      .select($"bucket", round(log(
        (($"ctgt" + 1).cast("double") * ($"traw" + B)) /
          (($"craw" + 1).cast("double") * ($"ttgt" + B))), 6).as("lr"))
    docBucket.join(broadcast(lr), "bucket")
      .withColumn("term", $"c".cast("double") * $"lr")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"bucket", $"term"))).as("ts"))
      .select($"doc_id", round(aggregate(transform($"ts", x => x.getField("term")),
        lit(0.0), (a, b) => a + b), 6).as("logw"))
      .orderBy($"logw".desc, $"doc_id".asc)
      .limit(50)
  }

  val q120_oracle: String =
    s"""WITH tokl AS (SELECT doc_id, lang, $tokSql AS ts FROM documents),
       |tok AS (SELECT doc_id, lang, ts[i] AS tok,
       |    CASE WHEN i < len(ts) THEN ts[i + 1] ELSE NULL END AS nxt
       |  FROM tokl, unnest(generate_series(1, len(ts))) u(i)),
       |grams AS (
       |  SELECT doc_id, lang, tok AS gram FROM tok
       |  UNION ALL
       |  SELECT doc_id, lang, tok || ' ' || nxt FROM tok WHERE nxt IS NOT NULL),
       |bkt AS (SELECT doc_id, lang,
       |    ('0x' || substr(md5(gram), 1, 8))::BIGINT % 1024 AS bucket FROM grams),
       |db AS (SELECT doc_id, bucket, count(*)::BIGINT AS c FROM bkt GROUP BY 1, 2),
       |feat AS (SELECT bucket, count(*)::BIGINT AS craw,
       |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ctgt
       |  FROM bkt GROUP BY 1),
       |tot AS (SELECT sum(craw)::BIGINT AS traw, sum(ctgt)::BIGINT AS ttgt FROM feat),
       |lr AS (SELECT bucket,
       |    round(ln(((ctgt + 1)::DOUBLE * (traw + 1024)) /
       |             ((craw + 1)::DOUBLE * (ttgt + 1024))), 6) AS lr
       |  FROM feat CROSS JOIN tot),
       |terms AS (SELECT db.doc_id, db.bucket, db.c::DOUBLE * lr.lr AS term
       |  FROM db JOIN lr ON db.bucket = lr.bucket),
       |agg AS (SELECT doc_id, list(term ORDER BY bucket) AS ts FROM terms GROUP BY doc_id)
       |SELECT doc_id, round(list_reduce(list_prepend(0.0, ts), (a, b) -> a + b), 6)
       |    AS logw
       |FROM agg ORDER BY logw DESC, doc_id LIMIT 50""".stripMargin

  // ------------------------------------------ q124 vocab coverage curve
  /** Vocabulary-size coverage curve: what fraction of corpus token
    * OCCURRENCES the top-k vocabulary covers, for candidate sizes
    * k in {10, 100, 1000} — the sizing curve a tokenizer budget decision
    * reads (the complement of q100's fixed-vocab OOV audit). Integer-exact:
    * covered and total are BIGINT occurrence sums; the ratio rounds at
    * output. Rank tie-break (count desc, token asc) is total, so the curve
    * is deterministic.
    *
    * 100 TB shape: one vocabulary-bounded count agg; the global rank window
    * moves the VOCAB (not the corpus) to one partition — bounded by
    * vocabulary size by construction; the k-membership join is a 3-row
    * broadcast. Text never shuffles.
    */
  val q124_vocab_coverage: Q = (s, dir) => {
    import s.implicits._
    val cnt = t(s, dir, "documents")
      .select(explode(T.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
    val w = Window.orderBy($"c".desc, $"tok".asc)
    val ranked = cnt.withColumn("r", row_number().over(w))
    val total = cnt.agg(sum($"c").as("total_tokens"))
    val ks = Seq(10L, 100L, 1000L).toDF("vocab_size")
    ranked.crossJoin(broadcast(ks))
      .groupBy($"vocab_size")
      .agg(sum(when($"r" <= $"vocab_size", $"c").otherwise(0L)).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select($"vocab_size", $"covered_tokens", $"total_tokens",
        round($"covered_tokens".cast("double") / $"total_tokens", 6).as("coverage"))
  }

  val q124_oracle: String =
    s"""WITH cnt AS (SELECT t AS tok, count(*)::BIGINT AS c
       |  FROM (SELECT unnest($tokSql) AS t FROM documents) GROUP BY 1),
       |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM cnt),
       |tot AS (SELECT sum(c)::BIGINT AS total_tokens FROM cnt),
       |ks AS (SELECT unnest([10, 100, 1000])::BIGINT AS vocab_size)
       |SELECT k.vocab_size,
       |  sum(CASE WHEN rk.r <= k.vocab_size THEN rk.c ELSE 0 END)::BIGINT
       |    AS covered_tokens,
       |  (SELECT total_tokens FROM tot) AS total_tokens,
       |  round(sum(CASE WHEN rk.r <= k.vocab_size THEN rk.c ELSE 0 END)::DOUBLE
       |    / (SELECT total_tokens FROM tot), 6) AS coverage
       |FROM ks k CROSS JOIN rk GROUP BY 1""".stripMargin

  // --------------------------------------------- q126 curriculum manifest
  /** Curriculum-learning order manifest: every document gets a deterministic
    * training step so the corpus streams easy-to-hard (length as the
    * difficulty proxy — the standard starting curriculum) with sources
    * INTERLEAVED so no domain clumps. The step is a closed-form formula,
    * not a global sort: step = (r - 1) * S + src_idx, where r = the doc's
    * difficulty rank within its source (n_tokens asc, doc_id tie-break),
    * S = source count, src_idx = the source's dense index — an exact
    * round-robin whose step numbers simply leave gaps once a smaller source
    * exhausts. Fully integer-exact.
    *
    * 100 TB shape: ONE source-keyed rank window (per-source sort of
    * (n_tokens, doc_id) pairs — text never shuffles) + a broadcast
    * source-index table; there is deliberately NO corpus-wide ordering
    * window — the formula replaces the global sort that would funnel 100 TB
    * through one partition.
    */
  val q126_curriculum: Q = (s, dir) => {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select($"doc_id", $"source", size(T.tokens($"text")).cast("long").as("n_tokens"))
    val srcIdx = docs.select($"source").distinct()
      .withColumn("src_idx", row_number().over(Window.orderBy($"source")).cast("long"))
    val nSrc = srcIdx.count()
    val wR = Window.partitionBy($"source").orderBy($"n_tokens".asc, $"doc_id".asc)
    docs.withColumn("r", row_number().over(wR).cast("long"))
      .join(broadcast(srcIdx), "source")
      .select((($"r" - 1L) * nSrc + $"src_idx").as("step"),
        $"doc_id", $"source", $"n_tokens")
  }

  val q126_oracle: String =
    s"""WITH d AS (SELECT doc_id, source, len($tokSql)::BIGINT AS n_tokens
       |  FROM documents),
       |si AS (SELECT source, row_number() OVER (ORDER BY source)::BIGINT AS src_idx
       |  FROM (SELECT DISTINCT source FROM d)),
       |ns AS (SELECT count(*)::BIGINT AS s FROM si),
       |rk AS (SELECT doc_id, source, n_tokens,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n_tokens ASC, doc_id ASC)::BIGINT AS r
       |  FROM d)
       |SELECT (rk.r - 1) * ns.s + si.src_idx AS step,
       |  rk.doc_id, rk.source, rk.n_tokens
       |FROM rk JOIN si ON rk.source = si.source CROSS JOIN ns""".stripMargin

  // ------------------------------------ q153 Bradley–Terry preference fit
  /** Preference-strength aggregation for pairwise comparison data — the
    * reward-modeling data-prep step of an RLHF pipeline: given (winner,
    * loser) comparisons, fit Bradley–Terry strengths with the classic MM
    * update (Hunter 2004): p_i ← W_i / Σ_j g_ij/(p_i+p_j), normalized to
    * sum 1, fixed 10 iterations (no convergence float-compare — the q122/
    * KMeansLite determinism discipline).
    *
    * Comparisons derive deterministically from the event journal: per user,
    * each consecutive event pair (ts, event_id order) with differing types
    * is one comparison, later type beating earlier — a behavioral
    * "upgraded-to" preference signal.
    *
    * Execution shape: the DISTRIBUTED work is the per-user lag window + the
    * (winner, loser) count agg — #types² output. The MM iteration runs on
    * the driver over that model-scale matrix (the KMeansLite centroid
    * boundary: #items² doubles, never corpus rows). Float discipline: every
    * Σ_j and the normalizing total fold in sorted-item order with a 0.0
    * seed, mirrored exactly by the oracle's list_reduce over ORDER BY
    * lists, so the doubles match bit-for-bit; strengths round at output.
    */
  /** The (winner, loser) comparison derivation q153/q154 share (and whose
    * stream-batch equivalence q157 is gated on): per user, each consecutive
    * event pair (full-microsecond ts, event_id order) with differing types,
    * later type beating earlier.
    */
  private[queries] def comparisons(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wSeq = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    t(s, dir, "events")
      .filter($"user_id".isNotNull)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(wSeq))
      .filter($"prev".isNotNull && $"prev" =!= $"event_type")
      .select($"event_type".as("winner"), $"prev".as("loser"))
  }

  /** The MM fit over a (winner, loser) comparison frame — shared by the
    * batch derivation (q153) and the streaming journal derivation (q157),
    * which must produce bit-identical strengths because they share one
    * oracle.
    */
  private[queries] def bradleyTerryFit(s: SparkSession,
                                       comps: DataFrame): DataFrame = {
    import s.implicits._
    val winCount: Map[(String, String), Long] = comps
      .groupBy($"winner", $"loser").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val items = winCount.keysIterator
      .flatMap { case (a, b) => Iterator(a, b) }.toSeq.distinct.sorted.toArray
    val nI = items.length
    val wins = Array.tabulate(nI)(i =>
      winCount.collect { case ((w, _), n) if w == items(i) => n }.sum)
    val g = Array.tabulate(nI, nI)((i, j) =>
      if (i == j) 0.0
      else (winCount.getOrElse((items(i), items(j)), 0L) +
        winCount.getOrElse((items(j), items(i)), 0L)).toDouble)
    var p = Array.fill(nI)(1.0)
    for (_ <- 1 to 10) {
      val pn = Array.tabulate(nI) { i =>
        var denom = 0.0
        var j = 0
        while (j < nI) {
          denom += (if (j == i) 0.0 else g(i)(j) / (p(i) + p(j)))
          j += 1
        }
        wins(i).toDouble / denom
      }
      var tot = 0.0
      var j = 0
      while (j < nI) { tot += pn(j); j += 1 }
      p = pn.map(_ / tot)
    }
    val games = Array.tabulate(nI)(i =>
      (0 until nI).map(j => g(i)(j).toLong).sum)
    val rows = items.indices.map(i => (items(i), p(i), wins(i), games(i)))
    s.createDataFrame(rows).toDF("item", "strength_raw", "wins", "games")
      .select($"item", round($"strength_raw", 6).as("strength"),
        $"wins", $"games")
  }

  val q153_bradley_terry: Q = (s, dir) =>
    bradleyTerryFit(s, comparisons(s, dir))

  val q153_oracle: String =
    """WITH RECURSIVE
      |seqd AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev
      |  FROM events WHERE user_id IS NOT NULL),
      |comps AS (SELECT event_type AS winner, prev AS loser FROM seqd
      |          WHERE prev IS NOT NULL AND prev <> event_type),
      |pairs AS (SELECT winner, loser, count(*)::BIGINT AS n
      |          FROM comps GROUP BY 1, 2),
      |idx AS (SELECT item, row_number() OVER (ORDER BY item) AS i FROM
      |  (SELECT DISTINCT item FROM
      |    (SELECT winner AS item FROM pairs
      |     UNION SELECT loser FROM pairs))),
      |gm AS (SELECT a.i AS ai, b.i AS bi,
      |    CASE WHEN a.i = b.i THEN 0.0 ELSE
      |      (coalesce((SELECT n FROM pairs
      |         WHERE winner = a.item AND loser = b.item), 0)
      |     + coalesce((SELECT n FROM pairs
      |         WHERE winner = b.item AND loser = a.item), 0))::DOUBLE END AS g
      |  FROM idx a CROSS JOIN idx b),
      |state0 AS (SELECT
      |    (SELECT list(item ORDER BY i) FROM idx) AS its,
      |    (SELECT list(coalesce((SELECT sum(n) FROM pairs
      |        WHERE winner = idx.item), 0)::DOUBLE ORDER BY i) FROM idx) AS ws,
      |    (SELECT list(gr ORDER BY ai) FROM
      |      (SELECT ai, list(g ORDER BY bi) AS gr FROM gm GROUP BY ai)) AS g),
      |bt AS (
      |  SELECT 0 AS k, its, ws, g,
      |    list_transform(its, x -> 1.0::DOUBLE) AS p
      |  FROM state0
      |  UNION ALL
      |  SELECT k + 1, its, ws, g,
      |    list_transform(pn,
      |      x -> x / list_reduce(list_prepend(0.0, pn), (a, b) -> a + b)) AS p
      |  FROM (
      |    SELECT k, its, ws, g,
      |      list_transform(range(1, len(its) + 1),
      |        i -> ws[i] / list_reduce(list_prepend(0.0,
      |               list_transform(range(1, len(its) + 1),
      |                 j -> CASE WHEN j = i THEN 0.0
      |                      ELSE g[i][j] / (p[i] + p[j]) END)),
      |               (a, b) -> a + b)) AS pn
      |    FROM bt WHERE k < 10) s),
      |fin AS (SELECT unnest(its) AS item,
      |          unnest(list_transform(p, x -> round(x, 6))) AS strength
      |        FROM bt WHERE k = 10),
      |wtot AS (SELECT idx.item, coalesce((SELECT sum(n) FROM pairs
      |           WHERE winner = idx.item), 0)::BIGINT AS wins FROM idx),
      |gtot AS (SELECT a.item, coalesce((SELECT sum(n) FROM pairs
      |           WHERE winner = a.item OR loser = a.item), 0)::BIGINT AS games
      |         FROM idx a)
      |SELECT f.item, f.strength, w.wins, gt.games
      |FROM fin f JOIN wtot w ON w.item = f.item
      |JOIN gtot gt ON gt.item = f.item""".stripMargin

  // --------------------------------- q154 preference-cycle consistency audit
  /** Consistency audit of the pairwise-preference data q153 fits: build the
    * MAJORITY tournament (one directed edge per unordered item pair, won by
    * the side with more comparisons; exact ties carry no edge), then count
    * cyclic vs transitive triads. A high cycle rate means the comparisons
    * are too inconsistent for a scalar strength model (Bradley–Terry
    * assumes a total order) — the standard sanity gate before reward-model
    * training. All-integer counts; one ratio at the end.
    *
    * Execution shape: the distributed pass is the same (winner, loser)
    * count agg as q153 (#types² rows); edge/triad joins run on the
    * model-scale majority graph.
    */
  val q154_preference_cycles: Q = (s, dir) => {
    import s.implicits._
    val pc = comparisons(s, dir)
      .groupBy($"winner", $"loser").agg(count(lit(1)).as("n"))
    val und = pc
      .select(least($"winner", $"loser").as("a"),
        greatest($"winner", $"loser").as("b"),
        when($"winner" < $"loser", $"n").otherwise(0L).as("w_ab"),
        when($"winner" > $"loser", $"n").otherwise(0L).as("w_ba"))
      .groupBy($"a", $"b")
      .agg(sum($"w_ab").as("n_ab"), sum($"w_ba").as("n_ba"))
    val edges = und.filter($"n_ab" =!= $"n_ba")
      .select(when($"n_ab" > $"n_ba", $"a").otherwise($"b").as("src"),
        when($"n_ab" > $"n_ba", $"b").otherwise($"a").as("dst"))
      .localCheckpoint(true) // model-scale (#types² edges), reused 6×
    val eu = edges.select(least($"src", $"dst").as("a"),
      greatest($"src", $"dst").as("b"))
    val nTriads = eu.as("p1")
      .join(eu.as("p2"), col("p1.b") === col("p2.a"))
      .join(eu.as("p3"),
        col("p3.a") === col("p1.a") && col("p3.b") === col("p2.b"))
      .count()
    // each directed 3-cycle is found once per rotation start → count DIV 3
    val nCycleRot = edges.as("e1")
      .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
      .join(edges.as("e3"),
        col("e2.dst") === col("e3.src") && col("e3.dst") === col("e1.src"))
      .count()
    val nCycles = nCycleRot / 3
    val nItems = edges.select($"src".as("x"))
      .unionAll(edges.select($"dst".as("x"))).distinct().count()
    val nEdges = edges.count()
    val nTrans = nTriads - nCycles
    s.createDataFrame(Seq((nItems, nEdges, nTriads, nCycles, nTrans)))
      .toDF("n_items", "n_edges", "n_triads", "n_cycles", "n_transitive")
      // same round() as the oracle's (the engine-pair equivalence every
      // float-emitting query relies on); NULL when no triad exists
      .withColumn("transitivity",
        when($"n_triads" =!= 0L,
          round($"n_transitive".cast("double") / $"n_triads", 6)))
  }

  val q154_oracle: String =
    """WITH seqd AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev
      |  FROM events WHERE user_id IS NOT NULL),
      |comps AS (SELECT event_type AS winner, prev AS loser FROM seqd
      |          WHERE prev IS NOT NULL AND prev <> event_type),
      |pc AS (SELECT winner, loser, count(*)::BIGINT AS n
      |       FROM comps GROUP BY 1, 2),
      |und AS (SELECT least(winner, loser) AS a, greatest(winner, loser) AS b,
      |    sum(CASE WHEN winner < loser THEN n ELSE 0 END)::BIGINT AS n_ab,
      |    sum(CASE WHEN winner > loser THEN n ELSE 0 END)::BIGINT AS n_ba
      |  FROM pc GROUP BY 1, 2),
      |edges AS (SELECT CASE WHEN n_ab > n_ba THEN a ELSE b END AS src,
      |                 CASE WHEN n_ab > n_ba THEN b ELSE a END AS dst
      |          FROM und WHERE n_ab <> n_ba),
      |eu AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
      |triads AS (SELECT count(*)::BIGINT AS n FROM eu p1
      |  JOIN eu p2 ON p1.b = p2.a
      |  JOIN eu p3 ON p3.a = p1.a AND p3.b = p2.b),
      |cyc AS (SELECT (count(*) // 3)::BIGINT AS n FROM edges e1
      |  JOIN edges e2 ON e1.dst = e2.src
      |  JOIN edges e3 ON e2.dst = e3.src AND e3.dst = e1.src),
      |nodes AS (SELECT count(DISTINCT x)::BIGINT AS n FROM
      |  (SELECT src AS x FROM edges UNION ALL SELECT dst FROM edges)),
      |ne AS (SELECT count(*)::BIGINT AS n FROM edges)
      |SELECT nodes.n AS n_items, ne.n AS n_edges, triads.n AS n_triads,
      |  cyc.n AS n_cycles, (triads.n - cyc.n)::BIGINT AS n_transitive,
      |  round((triads.n - cyc.n)::DOUBLE / nullif(triads.n, 0), 6)
      |    AS transitivity
      |FROM nodes, ne, triads, cyc""".stripMargin

  // ------------------------------------------------------------- registry
  val entries: Map[String, Q] = Map(
    "q153_bradley_terry" -> q153_bradley_terry,
    "q154_preference_cycles" -> q154_preference_cycles,
    "q97_token_budget" -> q97_token_budget,
    "q98_chunking" -> q98_chunking,
    "q99_bm25_topk" -> q99_bm25_topk,
    "q100_vocab_oov" -> q100_vocab_oov,
    "q101_shard_assign" -> q101_shard_assign,
    "q102_adaptive_quality" -> q102_adaptive_quality,
    "q103_bigram_logprob" -> q103_bigram_logprob,
    "q105_source_ngram_overlap" -> q105_source_ngram_overlap,
    "q106_contrastive_pairs" -> q106_contrastive_pairs,
    "q108_nb_classifier" -> q108_nb_classifier,
    "q111_length_batches" -> q111_length_batches,
    "q117_bpe_merges" -> q117_bpe_merges,
    "q119_bpe_encode" -> q119_bpe_encode,
    "q120_dsir_select" -> q120_dsir_select,
    "q124_vocab_coverage" -> q124_vocab_coverage,
    "q126_curriculum" -> q126_curriculum)

  val oracles: Map[String, String] = Map(
    "q153_bradley_terry" -> q153_oracle,
    "q154_preference_cycles" -> q154_oracle,
    "q97_token_budget" -> q97_oracle,
    "q98_chunking" -> q98_oracle,
    "q99_bm25_topk" -> q99_oracle,
    "q100_vocab_oov" -> q100_oracle,
    "q101_shard_assign" -> q101_oracle,
    "q102_adaptive_quality" -> q102_oracle,
    "q103_bigram_logprob" -> q103_oracle,
    "q105_source_ngram_overlap" -> q105_oracle,
    "q106_contrastive_pairs" -> q106_oracle,
    "q108_nb_classifier" -> q108_oracle,
    "q111_length_batches" -> q111_oracle,
    "q117_bpe_merges" -> q117_oracle,
    "q119_bpe_encode" -> q119_oracle,
    "q120_dsir_select" -> q120_oracle,
    "q124_vocab_coverage" -> q124_oracle,
    "q126_curriculum" -> q126_oracle)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.Bridge

/** Text-analysis column functions for large-scale training-data pipelines.
  *
  * Everything here is built from `org.apache.spark.sql.functions` primitives
  * (higher-order array functions + regex), so every call stays inside whole-stage
  * codegen — no UDFs, no serialization walls. All operations are row-local
  * (no shuffle), which is what makes them safe at 100 TB: they scale linearly
  * with input splits.
  */
object TextFunctions {

  /** Lowercased alphanumeric tokens: the maximal `[a-z0-9]` runs of
    * `lower(text)`, as the native expr.Tokens (one byte scan, codegen'd;
    * equal to the composed `filter(split(lower(text), "[^a-z0-9]+"), _ != "")`
    * that the oracles replay — TokensSpec). Row-side code tokenizes with
    * expr.TokensKernel.tokens, the same kernel.
    */
  def tokens(text: Column): Column =
    Bridge.column(graft.functions.expr.Tokens(Bridge.expression(text)))

  /** Distinct token set (for Jaccard / MinHash style dedup). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Sentence segmentation: split after sentence-ending punctuation followed by
    * whitespace, trim, drop empties. Deliberately regex-only (replace the
    * boundary with an unused control char, then split on it) so the DuckDB
    * oracle — whose RE2 engine has no lookbehind — can replay it verbatim.
    * Row-local, stays in codegen.
    */
  def sentences(text: Column): Column =
    filter(
      transform(
        split(regexp_replace(text, "([.!?])[ \\t\\n\\f\\r]+", "$1\u0001"), "\u0001"),
        s => trim(s)),
      s => s =!= "")

  /** Unicode NFC normalization — Column wrapper over the native codegen
    * expression (same pattern as SimilarityFunctions.dot over DotProduct:
    * callers never touch the Bridge glue). ASCII rows return by reference
    * without allocation; see expr.NfcHelper.
    */
  def nfcNormalize(text: Column): Column =
    Bridge.column(graft.functions.expr.NfcNormalize(Bridge.expression(text)))

  /** Whitespace token count — the "wc -w" notion of tokens. */
  def wsTokenCount(text: Column): Column =
    // explicit class, not \s: Java \s includes vertical tab \x0B, RE2 (the
    // DuckDB oracle's regex engine) does not — the explicit class means both
    // engines split identically on any input
    size(filter(split(text, "[ \\t\\n\\f\\r]+"), t => t =!= ""))

  /** Word k-grams ("shingles") of the token sequence, joined by single spaces.
    * Documents with fewer than k tokens yield an empty array — the guard matters:
    * `sequence(0, size-k)` with size < k would build a descending sequence and
    * index past the array.
    */
  def shingles(text: Column, k: Int): Column = {
    val ts = tokens(text)
    when(size(ts) >= k,
      array_distinct(transform(
        sequence(lit(0), size(ts) - k),
        i => concat_ws(" ", slice(ts, i + 1, lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-token 32-bit md5 hash (long). Materialize as its own column — the
    * shingle step reads it many times per row. Native one-digest-pass form
    * (expr.Md5Half), bit-identical to the composed
    * `conv(substring(md5(t), 1, 8), 16, 10).cast(long)` chain (Md5HalfSpec;
    * OPTIMIZATION_r19.md has the measurements).
    */
  def tokenLongHashes(text: Column): Column =
    Bridge.column(graft.functions.expr.Md5Half(Bridge.expression(tokens(text))))

  /** Scalar md5-prefix hash: the first `nibbles` hex digits of md5(s) as a
    * long — the engine's deterministic slot/bucket hash
    * (`conv(substring(md5(s), 1, n), 16, 10).cast(long)`), as the native
    * expr.Md5PrefixLong (bit-identical; Md5HalfSpec pins it against the
    * composed chain; OPTIMIZATION_r20.md has the measurements).
    */
  def md5PrefixLong(s: Column, nibbles: Int = 8): Column =
    Bridge.column(graft.functions.expr.Md5PrefixLong(Bridge.expression(s), nibbles))

  /** Distinct word-trigram hashes from a precomputed `tokenLongHashes` column:
    * trigram = h[i]·4099 + h[i+1]·31 + h[i+2] (< 2^45, exact in any engine's
    * BIGINT). Set ops over longs are several times cheaper than over
    * concatenated-string shingles at 100 TB pair counts; hash collisions are
    * deterministic and engine-identical, so differential checks stay exact.
    */
  def shingleHashesFrom(th: Column, k: Int = 3): Column =
    when(size(th) >= k,
      array_distinct(transform(
        sequence(lit(0), size(th) - k),
        i => element_at(th, i + 1) * 4099L + element_at(th, i + 2) * 31L + element_at(th, i + 3))))
      .otherwise(array().cast("array<bigint>"))

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))

  /** PII redaction for training corpora (public recipe: the C4/Dolma-style
    * scrub pass): replace emails, phone numbers, and IPv4 addresses with typed
    * placeholder tokens. Pure row-local `regexp_replace` chain — codegen'd,
    * no shuffle, linear scan at any corpus size. Patterns are RE2-safe so the
    * DuckDB oracle replays them verbatim.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]")
    // longest phone shape first: a 2-3-3-4 number contains a 3-3-4 suffix
    val phoneIntl = regexp_replace(email,
      "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]")
    val phoneParen = regexp_replace(phoneIntl,
      "\\([0-9]{3}\\)\\s?[0-9]{3}[-.][0-9]{4}", "[PHONE]")
    val phoneUs = regexp_replace(phoneParen,
      "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b", "[PHONE]")
    regexp_replace(phoneUs,
      "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "[IP]")
  }

  /** Quality score in [0,1]: penalizes extreme lengths, high punctuation density
    * and low stopword density (Gopher/C4-style heuristics, public recipe).
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    qualityScoreFrom(tokens(text), text, stopwords)

  /** `qualityScore` over a PRECOMPUTED tokens column — use when the caller
    * already materialized `tokens(text)` for other derivations (fingerprint,
    * shingles): tokenizing is the expensive part, one regex split per row.
    */
  def qualityScoreFrom(ts: Column, text: Column, stopwords: Seq[String]): Column = {
    val nTok = size(ts).cast("double")
    val stopHits = size(filter(ts, t => t.isin(stopwords.map(x => x: Any): _*))).cast("double")
    val stopRatio = when(nTok > 0, stopHits / nTok).otherwise(0.0)
    val punctRatio = when(length(text) > 0,
      punctCount(text).cast("double") / length(text)).otherwise(0.0)
    val lenScore = when(nTok >= 10 && nTok <= 10000, 1.0)
      .when(nTok > 0, 0.5).otherwise(0.0)
    // weighted blend, clamped to [0,1]
    least(lit(1.0), greatest(lit(0.0),
      lit(0.4) * lenScore + lit(0.4) * least(lit(1.0), stopRatio * 5) +
        lit(0.2) * (lit(1.0) - least(lit(1.0), punctRatio * 10))))
  }

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small + deterministic (public common-word lists).
    */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "en", "un", "du", "une", "que"),
    // pinyin romanizations chosen NOT to collide with the Romance lists
    // ("de"/"le" are also Spanish/French stopwords — a Spanish text heavy in
    // "de" must not score as Chinese); es/fr still share genuine cognates
    // (la, en, un, que), where the deterministic tie-break applies
    "zh" -> Seq("bu", "shi", "dou", "wo", "ni", "ta", "men", "zai", "you", "hen"))

  /** Language-ID: hit-count each language's stopword list over the token bag;
    * argmax with lexicographic tie-break ("und" = undetermined when no hits).
    * Row-local, codegen-friendly; at scale this is a pure map stage.
    */
  def langId(text: Column): Column = {
    val ts = tokens(text)
    val scored = langStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(ts, t => t.isin(words.map(x => x: Any): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*) // struct compare: hits first, then lang desc? no — lexicographic
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** 64-bit-ish polynomial rolling fingerprint over the token sequence.
    * Each token contributes the first four hex chars of its md5; the rolling
    * state is `(acc * 1000003 + tokVal) mod 2^31-1`. Deterministic and
    * reproducible in any engine with md5 + a fold (DuckDB: list_reduce).
    */
  def rollingFingerprint(text: Column): Column = {
    val ts = tokens(text)
    aggregate(ts, lit(0L),
      (acc, tok) => {
        val h = md5(tok)
        val v = (instr(lit("0123456789abcdef"), substring(h, 1, 1)) - 1) * 4096 +
          (instr(lit("0123456789abcdef"), substring(h, 2, 1)) - 1) * 256 +
          (instr(lit("0123456789abcdef"), substring(h, 3, 1)) - 1) * 16 +
          (instr(lit("0123456789abcdef"), substring(h, 4, 1)) - 1)
        pmod(acc * 1000003L + v.cast("long"), lit(2147483647L))
      })
  }

  /** Exact-duplicate fingerprint: md5 of the normalized (tokenized re-joined)
    * text — whitespace/punctuation-insensitive exact dedup key.
    */
  def exactFingerprint(text: Column): Column =
    // NULL text -> NULL fingerprint (concat_ws would silently yield md5('')
    // while any SQL oracle's md5(NULL) is NULL — the join/count semantics of
    // a missing document must match a missing fingerprint)
    when(text.isNotNull, exactFingerprintFrom(tokens(text)))

  /** `exactFingerprint` over a precomputed tokens column. */
  def exactFingerprintFrom(ts: Column): Column =
    when(ts.isNotNull, md5(concat_ws(" ", ts)))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming sliding-window aggregation through frame partials, as chained
  * stateful aggregations — the reference's own architecture
  * (accumulateByFrameP, Processors.java:474 + combineToSlidingWindowP,
  * Processors.java:528; SlidingWindowP.java frame-granular accumulators with
  * `combineFn` across frames): stage 1 reduces events to ONE partial
  * accumulator per (key, frame), where a frame is a tumbling window of the
  * slide size; stage 2 fans each frame partial out to the size/slide sliding
  * windows that contain it and combines.
  *
  * A batch sliding aggregate needs none of this: `window(ts, size, slide)`
  * is planned frame-first by [[graft.sql.FrameFirstWindows]], which reduces
  * events per (frame, key) before the window expansion. The streaming forms
  * here keep frame partials in state (append mode), where the native plan
  * keeps one state row per (window, key) and emits updates.
  *
  * This is also the role of the reference's `deductFn`
  * (AggregateOperation.java:61) — avoiding recompute across overlapping
  * windows — achieved by pane sharing instead of incremental subtraction
  * (deduction needs an invertible accumulator; pane combine only needs
  * associativity, so it also covers min/max/topN, which deductFn cannot).
  *
  * Requires `size` to be an integer multiple of `slide` (same constraint as
  * the reference's frame mapping, SlidingWindowDefinition.java:41-56).
  */
object SlidingPanes {

  /** One aggregate computed pane-wise: `partial` reduces raw events inside a
    * frame; `combine` merges frame partials across a window; `name` is the
    * output column. E.g. count: (count(*), sum); sum: (sum(x), sum);
    * min: (min(x), min); avg: two PaneAggs (sum + count) finished afterwards.
    */
  final case class PaneAgg(partial: Column, combine: Column => Column, name: String)

  /** Parse any interval string Spark's own `window()` accepts ("20 minutes",
    * "1 hour 30 minutes", "500 milliseconds", "2 weeks") to microseconds for
    * the size/slide divisibility check — misaligned frames would bin into
    * windows they only partially overlap, silently corrupting aggregates.
    * Month/year units are rejected: they are not fixed-length, so frame
    * alignment is undefined for them (Spark's `window()` rejects them too).
    */
  private def intervalMicros(s: String): Long = {
    import org.apache.spark.sql.catalyst.util.IntervalUtils
    import org.apache.spark.unsafe.types.UTF8String
    val iv =
      try IntervalUtils.stringToInterval(UTF8String.fromString(s))
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"unparseable interval '$s': ${e.getMessage}", e)
      }
    require(iv.months == 0,
      s"interval '$s' uses month/year units, which are not fixed-length — " +
        "sliding pane frames cannot align to them")
    iv.days * 86400000000L + iv.microseconds
  }

  private def requireAligned(size: String, slide: String): Unit = {
    val (sz, sl) = (intervalMicros(size), intervalMicros(slide))
    require(sl > 0 && sz % sl == 0,
      s"sliding pane aggregation requires size ('$size') to be an integer " +
        s"multiple of slide ('$slide') — misaligned frames would silently " +
        "corrupt window aggregates (SlidingWindowDefinition.java:41-56 has " +
        "the same constraint)")
  }

  /** The STREAMING pane path — the two-stage frame architecture over an
    * unbounded watermarked stream, via Spark 3.4+ chained stateful
    * aggregations (SPARK-40925): stage 1 is a slide-sized tumbling windowed
    * agg (frame partials, stateful op #1), stage 2 a sliding
    * window-of-window combine whose input is FRAME-cardinality, not
    * event-cardinality (stateful op #2), so each event updates one state
    * row. Measured at 2× the native sliding `window()`'s sustained rate on
    * the NEXMark Q5 shape (16 M vs 8 M rows/s, BASELINE.md r8 addendum),
    * before the native plan combined events per frame on its map side.
    *
    * Contract: `df` must already carry a watermark on `tsCol`; the chained
    * plan requires APPEND output mode, so results emit when the watermark
    * closes a window (pane-finalization latency = watermark delay + one
    * slide — the same trade the reference's per-slide pane emission makes).
    * Correctness is oracle-gated: q155 runs this exact shape against the
    * batch suite's oracle. Checkpoint recovery of both state stores is
    * spec-pinned (CheckpointRestartSpec).
    */
  def slidingAggStream(df: DataFrame, tsCol: String, size: String, slide: String,
                       keys: Seq[Column], aggs: Seq[PaneAgg]): DataFrame = {
    requireAligned(size, slide)
    val partialCols = aggs.map(a => a.partial.as(s"__p_${a.name}"))
    val panes = df
      .groupBy(window(col(tsCol), slide).as("__frame") +: keys: _*)
      .agg(partialCols.head, partialCols.tail: _*)
    val combineCols = aggs.map(a => a.combine(col(s"__p_${a.name}")).as(a.name))
    panes
      .groupBy(window(col("__frame"), size, slide).as("window") +: keys: _*)
      .agg(combineCols.head, combineCols.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
  }

  /** NEXMark Q5 fully IN-STREAM: per-sliding-window hot keys (the keys whose
    * pane-combined count ties the window maximum) emitted by the stream
    * itself — no batch post-pass over collected output. Three chained
    * stateful stages (Spark 3.4+ multi-stateful-operator support), the
    * stream analog of the reference's Q5 pipeline (slidingWindow →
    * aggregate counts → maxBy stage):
    *
    *   1. slide-sized tumbling PANE counts per key      (event-cardinality in)
    *   2. sliding window-of-window sum                  (pane-cardinality in)
    *   3. per-window argmax WITH TIES                   (key-cardinality in)
    *
    * Stage 3 groups by a slide-sized tumbling window over
    * `window_time(stage-2 window)` (= window end − 1 µs). Sliding windows
    * start on the slide grid, so their ends do too — each sliding window
    * maps to EXACTLY one slide-sized bucket and no two share one: the
    * grouping is per-sliding-window without leaving event-time semantics
    * (grouping by a bare timestamp column would lose the watermark).
    *
    * The tie set comes from the BOUNDED [[graft.functions.expr.ArgmaxTies]]
    * accumulator — buffer = the running max plus ONLY the keys tying it, so
    * per-window state is bounded by the tie set (= the answer), never by
    * key cardinality. Two rejected shapes, both measured: the r9
    * `collect_list(struct(n, key))` + post-filter buffered ALL keys of a
    * window in one aggregation row (the SURVEY §7.2 M6 unbounded-group risk
    * at millions of live auctions per window), and a max-then-self-join
    * (two aggregated streams joined on window equality, SPARK-40925) kept
    * rows bounded but re-executed stages 1–2 on both join legs — 25% rate
    * cost and 2.6× state rows on the Q5 MaxRate rung. The accumulator keeps
    * the r9 single-pipeline plan (3 keyed exchanges, no join) and fixes the
    * buffer bound.
    *
    * Scale: stage-3 state per live window = max + tie keys (answer-sized);
    * stages 1–2 remain bounded by key-cardinality × live windows, the same
    * working set as the reference's per-window accumulator map
    * (SlidingWindowP keeps a key→acc map per live frame); every window's
    * state evicts at watermark + slide.
    *
    * Output (append, on window close): window_start, window_end (timestamps),
    * `keyName`, `nName`.
    */
  def slidingHotKeysStream(df: DataFrame, tsCol: String, size: String,
                           slide: String, key: Column, keyName: String = "key",
                           nName: String = "n"): DataFrame = {
    requireAligned(size, slide)
    val panes = df
      .groupBy(window(col(tsCol), slide).as("__frame"), key.as(keyName))
      .agg(count(lit(1)).as("__pn"))
    val winCounts = panes
      .groupBy(window(col("__frame"), size, slide).as("__w"), col(keyName))
      .agg(sum(col("__pn")).as(nName))
    val perWindow = winCounts
      .groupBy(window(window_time(col("__w")), slide).as("__w3"))
      .agg(argmaxTies(col(nName), col(keyName)).as("__am"),
        // every row in a __w3 group shares the same __w (the mapping is
        // bijective); max() is just a deterministic pick
        max(col("__w.start")).as("window_start"),
        max(col("__w.end")).as("window_end"))
    perWindow
      .select(col("window_start"), col("window_end"),
        explode(col("__am.keys")).as(keyName), col("__am.max").as(nName))
      .select(col("window_start"), col("window_end"), col(keyName), col(nName))
  }

  /** `argmax_ties(n, key)` as a Column (struct(max, keys)) — see
    * [[graft.functions.expr.ArgmaxTies]].
    */
  private def argmaxTies(n: Column, key: Column): Column = {
    import org.apache.spark.sql.graftops.Bridge
    Bridge.column(graft.functions.expr.ArgmaxTies(
      Bridge.expression(n), Bridge.expression(key)).toAggregateExpression())
  }
}

package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time operator inventory over the `events` fixture (SURVEY.md §2.7–2.9):
  * tumbling/sliding/session windows and per-key running state, expressed as batch
  * queries so the DuckDB oracle can check them. The same logic runs as real
  * Structured Streaming in `graft.streaming` (stream–batch equivalence is asserted
  * in the ScalaTest suites, mirroring the reference's processor tests).
  *
  * Window starts are emitted as epoch seconds (BIGINT) — parquet timestamp
  * encodings differ between Spark (INT96/isAdjustedToUTC) and DuckDB, so scalar
  * epochs keep the driver's hash comparison stable.
  */
object EventQueries {

  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ------------------------------------------------------ q20 tumbling window
  /** Jet tumbling window (`WindowDefinition.tumbling`, SlidingWindowP.java) →
    * Spark `window()`; at scale this is a single hash-agg shuffle on
    * (window, key).
    */
  val q20_tumbling_window: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
      .select(unix_timestamp($"w.start").as("window_start"),
        $"event_type", $"n", $"sum_value")
  }

  val q20_oracle: String =
    """SELECT epoch(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)))::BIGINT AS window_start,
      |  event_type, count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------- q21 sliding window
  /** Jet sliding window (`WindowDefinition.sliding(size, slideBy)`) → Spark
    * `window(ts, size, slide)`; each event lands in size/slide panes. The oracle
    * reproduces the pane assignment by unnesting the two 5-minute panes each
    * event belongs to.
    */
  val q21_sliding_window: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"w.start").as("pane_start"), $"event_type", $"n")
  }

  val q21_oracle: String =
    """SELECT pane_start, event_type, count(*) AS n FROM (
      |  SELECT epoch(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)))::BIGINT
      |         - 300 * k AS pane_start,
      |         event_type
      |  FROM events, unnest([0, 1]) AS u(k))
      |GROUP BY 1, 2""".stripMargin

  // -------------------------------------------- q76 pane-based sliding window
  /** The pane (frame) architecture of the reference — accumulateByFrameP +
    * combineToSlidingWindowP, its answer to `deductFn` — is how the planner
    * runs every aligned sliding `window()` ([[graft.sql.FrameFirstWindows]]):
    * events reduce once per (5-minute frame, event_type) and the frame
    * partials fan out to their two windows before the shuffle. So q76 is
    * q21's query, and q21's oracle.
    */
  val q76_sliding_panes: Q = q21_sliding_window

  // ------------------------------------------------------- q22 session window
  /** Jet session windows (`SessionWindowDefinition`, SessionWindowP.java:83-84
    * merging) → batch sessionization: a session break is a gap > 30 min per user.
    * Classic gaps-and-islands — one shuffle on user_id, sort within partitions.
    * The streaming twin uses `session_window()` (graft.streaming).
    */
  val q22_sessionize: Q = (s, dir) => {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    t(s, dir, "events")
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
          unix_micros($"ts") - unix_micros($"prev_ts") > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_id", sum($"new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(unix_micros(min($"ts")).as("session_start_us"),
        unix_micros(max($"ts")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        round(sum($"value"), 4).as("sum_value"))
      .select($"user_id", $"session_id".cast("long").as("session_id"),
        $"session_start_us", $"session_end_us", $"n_events", $"sum_value")
  }

  val q22_oracle: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |numbered AS (
      |  SELECT user_id, ts, value,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id::BIGINT AS session_id,
      |  epoch_us(CAST(min(ts) AS TIMESTAMP)) AS session_start_us,
      |  epoch_us(CAST(max(ts) AS TIMESTAMP)) AS session_end_us,
      |  count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM numbered GROUP BY user_id, session_id""".stripMargin

  // ------------------------------------------------------ q23 rolling aggregate
  /** Jet `rollingAggregate` (StreamStageWithKey.java:256-292): running value per
    * key in event order. Batch analog: a cumulative window frame — one shuffle on
    * the key. The streaming twin is flatMapGroupsWithState (graft.streaming).
    */
  val q23_rolling_agg: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select($"event_id", $"user_id",
        // rounded like every other cross-engine float aggregate: prefix sums
        // accumulate in different orders (sequential vs segment-tree) and an
        // unrounded double per OUTPUT ROW is maximum exposure to last-ulp
        // drift at a 6-significant-digit canon boundary
        round(sum($"value").over(w), 4).as("running_sum"),
        count(lit(1)).over(w).as("running_count"))
  }

  val q23_oracle: String =
    """SELECT event_id, user_id,
      |  round(sum(value) OVER w, 4) AS running_sum,
      |  count(*) OVER w AS running_count
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  // ---------------------------------------------------------- q24 json extract
  /** Jet JSON support (`jet/json/JsonUtil.java`) → `get_json_object`/`from_json`.
    * Extraction happens in the scan stage (codegen'd), no shuffle until the agg.
    */
  val q24_json_extract: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .withColumn("k", get_json_object($"props", "$.k").cast("int"))
      .groupBy($"event_type")
      .agg(sum($"k").as("sum_k"), max($"k").as("max_k"), count(lit(1)).as("n"))
  }

  val q24_oracle: String =
    """SELECT event_type, sum(json_extract_string(props, '$.k')::INT)::BIGINT AS sum_k,
      |  max(json_extract_string(props, '$.k')::INT) AS max_k, count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  // ----------------------------------------------------- q25 per-type profile
  /** Distinct-count + min/max timestamps per key: the Jet `allOf` composite
    * aggregate (AggregateOperations.java:1337) — multiple aggregates in one pass.
    */
  val q25_type_profile: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("n_users"),
        unix_micros(min($"ts")).as("first_seen_us"),
        unix_micros(max($"ts")).as("last_seen_us"),
        round(avg($"value"), 6).as("avg_value"))
  }

  val q25_oracle: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      |  epoch_us(CAST(min(ts) AS TIMESTAMP)) AS first_seen_us,
      |  epoch_us(CAST(max(ts) AS TIMESTAMP)) AS last_seen_us,
      |  round(avg(value), 6) AS avg_value
      |FROM events GROUP BY event_type""".stripMargin

  // ------------------------------------------------------ q26 linear trend
  /** Jet `linearTrend` (AggregateOperations.java:471): least-squares slope +
    * intercept per key. Built from explicit moment sums (n, Σx, Σy, Σxy, Σxx)
    * exactly as the Jet accumulator does — and, unlike `regr_slope` whose
    * internal algorithm differs between engines at the last digits, the same
    * closed-form formula runs on both sides of the oracle. x is centered on the
    * fixture epoch (2024-01-01) to avoid catastrophic cancellation.
    */
  val q26_linear_trend: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .withColumn("x", (unix_micros($"ts") - lit(1704067200000000L)).cast("double") / 1e6)
      .groupBy($"event_type")
      .agg(count(lit(1)).cast("double").as("n"), sum($"x").as("sx"),
        sum($"value").as("sy"), sum($"x" * $"value").as("sxy"),
        sum($"x" * $"x").as("sxx"))
      .select($"event_type",
        round(($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx"), 10).as("slope"),
        round(($"sy" - ($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx") * $"sx") / $"n", 10).as("intercept"))
  }

  val q26_oracle: String =
    """WITH m AS (
      |  SELECT event_type, count(*)::DOUBLE AS n,
      |    sum(x) AS sx, sum(value) AS sy, sum(x * value) AS sxy, sum(x * x) AS sxx
      |  FROM (SELECT event_type, value,
      |          (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)::DOUBLE / 1e6 AS x
      |        FROM events)
      |  GROUP BY event_type)
      |SELECT event_type,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 10) AS slope,
      |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 10) AS intercept
      |FROM m""".stripMargin

  // -------------------------------------------------- q28 windowed distinct
  /** Jet windowed `distinct` (StageWithKeyAndWindow.java:71, windowed
    * pickAny-style agg): one row per (window, user) regardless of how many
    * events the user produced in that hour — `dropDuplicates` on the window
    * key, a single shuffle.
    */
  val q28_windowed_distinct: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      // NULL user_ids excluded to match count(DISTINCT user_id), which skips
      // nulls — count(*) over the deduped rows would count a null as a user
      .filter($"user_id".isNotNull)
      .select(window($"ts", "1 hour").as("w"), $"user_id")
      .dropDuplicates("w", "user_id")
      .groupBy(unix_timestamp($"w.start").as("window_start"))
      .agg(count(lit(1)).as("active_users"))
  }

  val q28_oracle: String =
    """SELECT epoch(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)))::BIGINT AS window_start,
      |  count(DISTINCT user_id) AS active_users
      |FROM events GROUP BY 1""".stripMargin

  // ------------------------------------------------- q27 CEP pattern match
  /** Jet pattern matching (reference: examples/pattern-matching/, built on
    * `mapStateful` — SURVEY §2.9): detect a `view → purchase` sequence per user
    * within 15 minutes. Batch form: one shuffle on `user_id`, then a window
    * `lag` over the per-user event sequence — no state larger than a row. The
    * streaming form (identical semantics via `StatefulOps.mapStateful` with
    * last-view state per key) is asserted in `CepStreamingSpec`.
    */
  val q27_pattern_match: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    t(s, dir, "events")
      .filter($"event_type".isin("view", "purchase"))
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .filter($"event_type" === "purchase" && $"prev_type" === "view" &&
        unix_timestamp($"ts") - unix_timestamp($"prev_ts") <= 900)
      .select($"user_id", $"event_id".as("purchase_event"),
        unix_timestamp($"prev_ts").as("view_epoch"),
        unix_timestamp($"ts").as("purchase_epoch"))
  }

  val q27_oracle: String =
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    lag(event_type) OVER w AS prev_type,
      |    lag(CAST(ts AS TIMESTAMP)) OVER w AS prev_ts
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, event_id AS purchase_event,
      |  (epoch_us(prev_ts) // 1000000) AS view_epoch,
      |  (epoch_us(ts) // 1000000) AS purchase_epoch
      |FROM seq
      |WHERE event_type = 'purchase' AND prev_type = 'view'
      |  AND (epoch_us(ts) // 1000000) - (epoch_us(prev_ts) // 1000000) <= 900""".stripMargin

  // --------------------------------------------- q80 windowed co-aggregation
  /** Jet `StageWithKeyAndWindow.aggregate2` (StageWithKeyAndWindow.java:136):
    * two keyed streams co-aggregated in the same tumbling window — view/click
    * traffic (count) against purchase revenue (count + sum) per user bucket.
    * Runs through the pipeline API's `aggregate2`, whose Spark shape is a
    * tag-union into ONE windowed hash agg with side-filtered aggregates (one
    * shuffle — see StreamStage.scala), not a join of two aggregations.
    * Outer semantics match Jet: a (window, bucket) with only one side present
    * still emits, the absent side counting 0 / summing null.
    */
  val q80_windowed_coagg: Q = (s, dir) => {
    import s.implicits._
    import graft.pipeline.{AggregateOperations => A, StreamStage, WindowDefinition}
    val ev = t(s, dir, "events")
    val traffic = new StreamStage(
      ev.filter($"event_type".isin("view", "click")), "ts")
      .groupingKey(($"user_id" % 100).as("bucket"))
    val purchases = new StreamStage(
      ev.filter($"event_type" === "purchase"), "ts")
      .groupingKey(($"user_id" % 100).as("bucket"))
    traffic.window(WindowDefinition.Tumbling("1 hour"))
      .aggregate2(
        A.counting("n_views"),
        purchases,
        A.counting("n_purchases").and(A.summingDouble($"value", "sum_purchase_raw")))
      .select(unix_timestamp($"window_start").as("window_start"), $"bucket",
        $"n_views", $"n_purchases", round($"sum_purchase_raw", 4).as("sum_purchase"))
  }

  val q80_oracle: String =
    """SELECT epoch(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)))::BIGINT AS window_start,
      |  user_id % 100 AS bucket,
      |  count(*) FILTER (WHERE event_type IN ('view', 'click')) AS n_views,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
      |  round(sum(value) FILTER (WHERE event_type = 'purchase'), 4) AS sum_purchase
      |FROM events
      |WHERE event_type IN ('view', 'click', 'purchase')
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------- registry
  // ------------------------------------------------ q127 funnel analysis
  /** Strict-sequence funnel: how many users progress view -> click ->
    * purchase in TIME ORDER, each stage strictly after the user's earliest
    * completion of the previous one AND within a 24-hour conversion window
    * of it — the conversion query behind every product-analytics dashboard,
    * and the eventually-follows complement of q27's adjacency CEP. Per
    * user: earliest view, earliest qualifying click, earliest qualifying
    * purchase; output = users surviving each stage. Integer counts,
    * timestamp comparisons only.
    *
    * 100 TB shape: each stage is a user-keyed min-agg (map-side partial)
    * followed by a user-keyed join — the three shuffles share the
    * user_id key so AQE/bucketing co-locates them; no per-user event-list
    * materialization and no window over the full event stream.
    */
  val q127_funnel: Q = (s, dir) => {
    import s.implicits._
    val ev = t(s, dir, "events")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" > $"t_view" && $"ts" <= $"t_view" + expr("INTERVAL 24 HOURS"))
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val pu = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" > $"t_click" && $"ts" <= $"t_click" + expr("INTERVAL 24 HOURS"))
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    v.agg(count(lit(1)).as("users")).select(lit(1L).as("stage"),
        lit("view").as("event_type"), $"users")
      .unionByName(c.agg(count(lit(1)).as("users")).select(lit(2L).as("stage"),
        lit("click_after_view").as("event_type"), $"users"))
      .unionByName(pu.agg(count(lit(1)).as("users")).select(lit(3L).as("stage"),
        lit("purchase_after_click").as("event_type"), $"users"))
  }

  val q127_oracle: String =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view
      |    AND e.ts <= v.t_view + INTERVAL 24 HOURS GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |    AND e.ts <= c.t_click + INTERVAL 24 HOURS GROUP BY 1)
      |SELECT 1::BIGINT AS stage, 'view' AS event_type,
      |  (SELECT count(*) FROM v)::BIGINT AS users
      |UNION ALL SELECT 2, 'click_after_view', (SELECT count(*) FROM c)::BIGINT
      |UNION ALL SELECT 3, 'purchase_after_click',
      |  (SELECT count(*) FROM p)::BIGINT""".stripMargin

  // -------------------------------------------- q138 as-of journal snapshot
  /** Temporal as-of snapshot: treat the event stream as an upsert journal
    * and reconstruct each key's state AS OF a cutoff — the latest event per
    * user at/before T plus the change count to that point. This is the
    * query form of mapJournal materialization (KeyedStore) and the
    * table-side half of stream-table duality: any keyed journal replays to
    * a snapshot with one window. Tie-break (ts desc, event_id desc) makes
    * "latest" total.
    *
    * Plan shape: cutoff filter pushed to the scan, ONE user-keyed window
    * supplying both the latest-row rank and the change count — no
    * self-join, no second aggregation pass.
    */
  val q138_asof_snapshot: Q = (s, dir) => {
    import s.implicits._
    val cut = lit("2024-01-15").cast("timestamp")
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val wAll = Window.partitionBy($"user_id")
    // user_id IS NOT NULL matches the streaming twin q140 (a null key can't
    // address mapGroupsWithState state); the ts <= cut predicate already
    // drops null timestamps on both sides. Kept in the oracle too so the
    // shared-hash contract holds even on a null-bearing fixture.
    t(s, dir, "events").filter($"ts" <= cut && $"user_id".isNotNull)
      .withColumn("rk", row_number().over(w))
      .withColumn("n_changes", count(lit(1)).over(wAll))
      .filter($"rk" === 1)
      .select($"user_id", $"event_id".as("last_event_id"),
        $"event_type".as("last_event_type"), $"value".as("last_value"),
        $"n_changes")
  }

  val q138_oracle: String =
    """SELECT user_id, event_id AS last_event_id,
      |  event_type AS last_event_type, value AS last_value, n_changes
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rk,
      |    count(*) OVER (PARTITION BY user_id)::BIGINT AS n_changes
      |  FROM events
      |  WHERE ts <= TIMESTAMP '2024-01-15' AND user_id IS NOT NULL)
      |WHERE rk = 1""".stripMargin

  // ------------------------------------------- q139 cohort retention matrix
  /** Cohort retention: users cohorted by their first-purchase day, activity
    * bucketed into week offsets from that day — the (cohort, week) matrix of
    * distinct active users over cohort size that every growth dashboard
    * draws. Pure integer counts over date arithmetic; DISTINCT de-dupes
    * multi-event weeks.
    *
    * Plan shape: one purchase-filtered min-agg builds the cohort table
    * (user-keyed, map-side partial), joined back user-keyed; the matrix agg
    * is (cohort_day, wk)-keyed — output is #cohorts x #weeks, cohort sizes
    * broadcast for the denominator.
    */
  val q139_cohort_retention: Q = (s, dir) => {
    import s.implicits._
    val ev = t(s, dir, "events")
    val fp = ev.filter($"event_type" === "purchase").groupBy($"user_id")
      .agg(to_date(min($"ts")).as("cohort_day"))
    val size = fp.groupBy($"cohort_day")
      .agg(countDistinct($"user_id").as("n_cohort"))
    ev.join(fp, "user_id")
      .filter(to_date($"ts") >= $"cohort_day")
      .select($"user_id", $"cohort_day",
        floor(datediff(to_date($"ts"), $"cohort_day") / 7.0).cast("long").as("wk"))
      .distinct()
      .groupBy($"cohort_day", $"wk")
      .agg(countDistinct($"user_id").as("n_active"))
      .join(broadcast(size), "cohort_day")
      .select($"cohort_day", $"wk", $"n_active", $"n_cohort")
  }

  val q139_oracle: String =
    """WITH fp AS (SELECT user_id, date_trunc('day', min(ts))::DATE AS cohort_day
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |sz AS (SELECT cohort_day, count(DISTINCT user_id)::BIGINT AS n_cohort
      |  FROM fp GROUP BY 1),
      |act AS (SELECT DISTINCT e.user_id, fp.cohort_day,
      |    floor(date_diff('day', fp.cohort_day, date_trunc('day', e.ts)::DATE)
      |      / 7.0)::BIGINT AS wk
      |  FROM events e JOIN fp ON e.user_id = fp.user_id
      |  WHERE date_trunc('day', e.ts)::DATE >= fp.cohort_day)
      |SELECT a.cohort_day, a.wk, count(DISTINCT a.user_id)::BIGINT AS n_active,
      |  sz.n_cohort
      |FROM act a JOIN sz ON a.cohort_day = sz.cohort_day
      |GROUP BY a.cohort_day, a.wk, sz.n_cohort""".stripMargin

  // --------------------------- q163 BATCH stateful fold (secondary sort)
  /** The r10 BATCH stateful family (BatchStage.mapStateful/rollingAggregate
    * — Jet's GeneralStage stateful trio on batch stages) oracle-gated: a
    * per-user running (count, sum) folded in event_id order through the
    * SECONDARY-SORT plan (repartition by key, sortWithinPartitions on
    * (key, order), one streaming pass with per-key-run state — memory is
    * O(state), never O(group)). The explicit order makes the fold
    * deterministic, so the oracle is the SQL cumulative window — the
    * running-state analog of q23's final-state check, but verifying EVERY
    * intermediate state, not just the last one.
    */
  val q163_batch_stateful_rolling: Q = (s, dir) => {
    import s.implicits._
    val events = t(s, dir, "events")
      .filter($"user_id".isNotNull && $"value".isNotNull && $"event_id".isNotNull)
      .select($"user_id", $"event_id", $"value")
      .as[(Long, Long, Double)]
    new graft.pipeline.BatchStage(events)
      .rollingAggregate[Long, (Long, Double), (Long, Long, Long, Double)](
        _._1, () => (0L, 0.0), _._2)(
        accumulate = (a, t) => (a._1 + 1, a._2 + t._3),
        export = (k, a, t) => (k, t._2, a._1, a._2))
      .ds.toDF("user_id", "event_id", "running_n", "running_sum")
      .select($"user_id", $"event_id", $"running_n",
        round($"running_sum", 4).as("running_sum"))
  }

  val q163_oracle: String =
    """SELECT user_id, event_id,
      |  count(*) OVER w AS running_n,
      |  round(sum(value) OVER w, 4) AS running_sum
      |FROM events
      |WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_id IS NOT NULL
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  val entries: Map[String, Q] = Map(
    "q163_batch_stateful_rolling" -> q163_batch_stateful_rolling,
    "q127_funnel" -> q127_funnel,
    "q139_cohort_retention" -> q139_cohort_retention,
    "q138_asof_snapshot" -> q138_asof_snapshot,
    "q20_tumbling_window" -> q20_tumbling_window,
    "q21_sliding_window" -> q21_sliding_window,
    "q22_sessionize" -> q22_sessionize,
    "q23_rolling_agg" -> q23_rolling_agg,
    "q24_json_extract" -> q24_json_extract,
    "q25_type_profile" -> q25_type_profile,
    "q26_linear_trend" -> q26_linear_trend,
    "q27_pattern_match" -> q27_pattern_match,
    "q28_windowed_distinct" -> q28_windowed_distinct,
    "q76_sliding_panes" -> q76_sliding_panes,
    "q80_windowed_coagg" -> q80_windowed_coagg)

  val oracles: Map[String, String] = Map(
    "q163_batch_stateful_rolling" -> q163_oracle,
    "q127_funnel" -> q127_oracle,
    "q138_asof_snapshot" -> q138_oracle,
    "q139_cohort_retention" -> q139_oracle,
    "q20_tumbling_window" -> q20_oracle,
    "q21_sliding_window" -> q21_oracle,
    "q22_sessionize" -> q22_oracle,
    "q23_rolling_agg" -> q23_oracle,
    "q24_json_extract" -> q24_oracle,
    "q25_type_profile" -> q25_oracle,
    "q26_linear_trend" -> q26_oracle,
    "q27_pattern_match" -> q27_oracle,
    "q28_windowed_distinct" -> q28_oracle,
    "q76_sliding_panes" -> q21_oracle,
    "q80_windowed_coagg" -> q80_oracle)
}

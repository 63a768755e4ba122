package graft.queries

import graft.Tables
import graft.streaming.StreamRunner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's OWN published benchmark suite: NEXMark (reference:
  * site/website/blog/2021-03-17-billion-events-per-second.md:19-30 — "we
  * implemented the vendor-neutral NEXMark benchmark suite, consisting of 8
  * streaming queries"; the PDX NiagaraST NEXMark spec defines Q1–Q8 over an
  * auctions/persons/bids domain). Implementing the same eight query shapes as
  * oracle-checked gate queries converts the BASELINE throughput comparison
  * from "analogous workload" to "the reference's actual suite".
  *
  * Fixture: NEXMark's generator emits ONE interleaved stream of
  * Person/Auction/Bid events with a fixed per-50 ratio (1 person : 3
  * auctions : 46 bids) where each new event references entities already
  * emitted. The same design is reproduced here as a pure DETERMINISTIC
  * function of the `events` table, expressed identically in Spark SQL and in
  * the DuckDB oracle dialect, so both sides derive bit-identical
  * persons/auctions/bids tables at any sf:
  *   - event_id % 50 == 0      → Person  (id = event_id div 50)
  *   - event_id % 50 in {1,2,3} → Auction (dense id = 3*(div 50) + mod - 1)
  *   - event_id % 50 >= 4      → Bid
  * References to "an entity emitted so far" use a small LCG-ish hash modulo
  * the entity count emitted up to that event id (persons so far =
  * event_id div 50 + 1; auctions so far = 3*(event_id div 50) + 3) — the
  * overflow-safe integer arithmetic is exactly representable in both
  * engines. Prices derive from the events `value` column via
  * floor(value*100)+100 (integral double → identical cast in both engines).
  *
  * 100 TB shape notes are per query below; the common property is that the
  * entity derivation is ROW-LOCAL (no shuffle to build the fixture — it
  * inherits the event source's partitioning), so each query's cost is its
  * own join/agg shape, not the generator's.
  */
object NexmarkQueries {

  type Q = (SparkSession, String) => DataFrame

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select("event_id", "ts", "value")

  private[graft] def persons(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).filter("event_id % 50 = 0").selectExpr(
      "event_id DIV 50 AS id",
      "concat('person_', event_id DIV 50) AS name",
      "concat('city_', (event_id DIV 50) % 37) AS city",
      "element_at(array('OR','ID','CA','WA','NV','AZ','NY','TX','GA','MA'), " +
        "CAST((event_id DIV 50) % 10 AS INT) + 1) AS state",
      "ts")

  private[graft] def auctions(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).filter("event_id % 50 IN (1, 2, 3)").selectExpr(
      "(event_id DIV 50) * 3 + (event_id % 50) - 1 AS id",
      "(event_id * 131 + 7) % ((event_id DIV 50) + 1) AS seller",
      "((event_id DIV 50) * 3 + (event_id % 50) - 1) % 10 AS category",
      "CAST(floor(value * 100) AS BIGINT) + 100 AS initial_price",
      "ts",
      "ts + make_dt_interval(0, CAST(1 + (((event_id DIV 50) * 3 + " +
        "(event_id % 50) - 1) % 48) AS INT), 0, 0) AS expires")

  private[graft] def bids(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).filter("event_id % 50 >= 4").selectExpr(
      "(event_id * 131 + 7) % ((event_id DIV 50) * 3 + 3) AS auction",
      "(event_id * 137 + 11) % ((event_id DIV 50) + 1) AS bidder",
      "CAST(floor(value * 100) AS BIGINT) + 100 AS price",
      "ts")

  /** Shared oracle prelude: the same three derivations in DuckDB SQL. */
  private val fixtureSql: String =
    """WITH persons AS (
      |  SELECT event_id // 50 AS id,
      |    'person_' || (event_id // 50) AS name,
      |    'city_' || ((event_id // 50) % 37) AS city,
      |    ['OR','ID','CA','WA','NV','AZ','NY','TX','GA','MA']
      |      [CAST(((event_id // 50) % 10) + 1 AS INT)] AS state,
      |    ts
      |  FROM events WHERE event_id % 50 = 0),
      |auctions AS (
      |  SELECT (event_id // 50) * 3 + (event_id % 50) - 1 AS id,
      |    (event_id * 131 + 7) % ((event_id // 50) + 1) AS seller,
      |    ((event_id // 50) * 3 + (event_id % 50) - 1) % 10 AS category,
      |    CAST(floor(value * 100) AS BIGINT) + 100 AS initial_price,
      |    ts,
      |    ts + to_hours(1 + (((event_id // 50) * 3 + (event_id % 50) - 1) % 48))
      |      AS expires
      |  FROM events WHERE event_id % 50 IN (1, 2, 3)),
      |bids AS (
      |  SELECT (event_id * 131 + 7) % ((event_id // 50) * 3 + 3) AS auction,
      |    (event_id * 137 + 11) % ((event_id // 50) + 1) AS bidder,
      |    CAST(floor(value * 100) AS BIGINT) + 100 AS price,
      |    ts
      |  FROM events WHERE event_id % 50 >= 4)""".stripMargin

  // --------------------------------------------- q142 NEXMark Q1: currency
  /** NEXMark Q1 "currency conversion": map every bid's dollar price to
    * euros. Pure row-local projection — zero shuffle at any scale; the
    * benchmark's stateless-throughput floor.
    */
  val q142_nexmark_currency: Q = (s, dir) =>
    bids(s, dir).selectExpr("auction", "bidder",
      "CAST(price AS DOUBLE) * 0.89 AS price_eur", "unix_micros(ts) AS ts_us")

  val q142_oracle: String =
    fixtureSql + "\n" +
      """SELECT auction, bidder, CAST(price AS DOUBLE) * 0.89 AS price_eur,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |FROM bids""".stripMargin

  // --------------------------------------------- q143 NEXMark Q2: selection
  /** NEXMark Q2 "selection": bids on a watched set of auctions (spec uses
    * `auction % 123 == 0`). Row-local predicate; at scale the filter pushes
    * into the scan of whatever source carries the bid stream.
    */
  val q143_nexmark_filter: Q = (s, dir) =>
    bids(s, dir).filter("auction % 123 = 0").selectExpr("auction", "price")

  val q143_oracle: String =
    fixtureSql + "\nSELECT auction, price FROM bids WHERE auction % 123 = 0"

  // ----------------------------------- q144 NEXMark Q3: local item suggestion
  /** NEXMark Q3 "local item suggestion": sellers from OR/ID/CA with open
    * auctions in category 4 — the incremental-join query. Persons is the
    * small dimension (1/50th of the stream): broadcast it, so the big
    * auctions side never shuffles.
    */
  val q144_nexmark_local_item: Q = (s, dir) => {
    import s.implicits._
    val p = persons(s, dir)
      .filter($"state".isin("OR", "ID", "CA"))
      .select($"id".as("p_id"), $"name", $"city", $"state")
    auctions(s, dir).filter($"category" === 4)
      .join(broadcast(p), $"seller" === $"p_id")
      .select($"name", $"city", $"state", $"id".as("auction"))
  }

  val q144_oracle: String =
    fixtureSql + "\n" +
      """SELECT p.name, p.city, p.state, a.id AS auction
        |FROM auctions a JOIN persons p ON a.seller = p.id
        |WHERE a.category = 4 AND p.state IN ('OR', 'ID', 'CA')""".stripMargin

  /** Winning bid per auction: highest bid placed while the auction was open
    * ([ts, expires)) — the shared building block of Q4 and Q6, exactly the
    * reference's WinningBids intermediate stream.
    */
  private def wins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = auctions(s, dir)
      .select($"id", $"seller", $"category", $"ts".as("open_ts"), $"expires")
    bids(s, dir).join(a,
        $"auction" === $"id" && $"ts" >= $"open_ts" && $"ts" < $"expires")
      .groupBy($"id", $"seller", $"category", $"expires")
      .agg(max($"price").as("final_price"))
  }

  private val winsSql: String =
    """wins AS (
      |  SELECT a.id, a.seller, a.category, a.expires,
      |    max(b.price) AS final_price
      |  FROM auctions a JOIN bids b
      |    ON b.auction = a.id AND b.ts >= a.ts AND b.ts < a.expires
      |  GROUP BY a.id, a.seller, a.category, a.expires)""".stripMargin

  // ------------------------------ q145 NEXMark Q4: average price per category
  /** NEXMark Q4 "average price for a category": mean winning-bid price per
    * auction category. Two hash-aggs: per-auction max (keyed on auction id —
    * the bids join shuffles on auction id once), then a 10-row category agg.
    * avg over BIGINT sums exactly in both engines (Spark long sum, DuckDB
    * int128), so the double division is bit-identical.
    */
  val q145_nexmark_avg_category: Q = (s, dir) => {
    import s.implicits._
    wins(s, dir).groupBy($"category")
      .agg(avg($"final_price").as("avg_price"))
  }

  val q145_oracle: String =
    fixtureSql + ",\n" + winsSql + "\n" +
      "SELECT category, avg(final_price) AS avg_price FROM wins GROUP BY category"

  // ----------------------------------------- q146 NEXMark Q5: hot items
  /** NEXMark Q5 "hot items": which auctions have the most bids in the last
    * hour, updated every 20 minutes — the sliding-window count + windowed
    * max the reference calls its toughest query (blog:110-113: "This is
    * Query 5, which showed a 99.99% latency 16 milliseconds in a 20-node
    * cluster"; single-node 25 M events/s). Batch form: Spark's sliding
    * `window()`, planned frame-first ([[graft.sql.FrameFirstWindows]]): bids
    * reduce per (20-minute frame, auction), each frame partial fans out to
    * its 3 covering windows (the oracle unnests k ∈ {0,1,2} per bid
    * explicitly), one (window, auction) hash-agg, then a per-window max
    * filter. Ties keep every hot auction — deterministic.
    */
  val q146_nexmark_hot_items: Q = (s, dir) => {
    import s.implicits._
    val counted = bids(s, dir)
      .groupBy(window($"ts", "1 hour", "20 minutes").as("w"), $"auction")
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"w.start").as("window_start"), $"auction", $"n")
    val byW = Window.partitionBy($"window_start")
    counted.withColumn("mx", max($"n").over(byW))
      .filter($"n" === $"mx")
      .select($"window_start", $"auction", $"n")
  }

  val q146_oracle: String =
    fixtureSql + ",\n" +
      """slid AS (
        |  SELECT epoch(time_bucket(INTERVAL '20 minutes', CAST(b.ts AS TIMESTAMP))
        |      - k.k * INTERVAL '20 minutes')::BIGINT AS window_start,
        |    b.auction
        |  FROM bids b, (SELECT unnest([0, 1, 2]) AS k) k),
        |c AS (SELECT window_start, auction, count(*) AS n
        |      FROM slid GROUP BY 1, 2),
        |m AS (SELECT window_start, auction, n,
        |        max(n) OVER (PARTITION BY window_start) AS mx FROM c)
        |SELECT window_start, auction, n FROM m WHERE n = mx""".stripMargin

  // ------------------------------ q147 NEXMark Q6: average price per seller
  /** NEXMark Q6 "average selling price by seller": mean of each seller's
    * last 10 closing prices. Winning bids ranked per seller by close time
    * (expires desc, auction id desc as the total tie-break), top 10
    * averaged. The rank is a per-seller window over the wins table (auction-
    * cardinality, ~3/50 of the stream) — the raw bids never enter the
    * ranking shuffle.
    */
  val q147_nexmark_avg_seller: Q = (s, dir) => {
    import s.implicits._
    val bySeller = Window.partitionBy($"seller")
      .orderBy($"expires".desc, $"id".desc)
    wins(s, dir).withColumn("rn", row_number().over(bySeller))
      .filter($"rn" <= 10)
      .groupBy($"seller")
      .agg(avg($"final_price").as("avg_last10"),
        count(lit(1)).as("n_closed"))
  }

  val q147_oracle: String =
    fixtureSql + ",\n" + winsSql + ",\n" +
      """r AS (SELECT seller, final_price,
        |        row_number() OVER (PARTITION BY seller
        |          ORDER BY expires DESC, id DESC) AS rn
        |      FROM wins)
        |SELECT seller, avg(final_price) AS avg_last10,
        |  count(*)::BIGINT AS n_closed
        |FROM r WHERE rn <= 10 GROUP BY seller""".stripMargin

  // --------------------------------------- q148 NEXMark Q7: highest bid
  /** NEXMark Q7 "highest bid": the bid(s) achieving the maximum price in
    * each 10-minute tumbling window. One (window) max + a filter keeping
    * every tied bid; Jet implements this as a two-stage maxBid-then-filter
    * plan, which the streaming twin q151 mirrors.
    */
  val q148_nexmark_highest_bid: Q = (s, dir) => {
    import s.implicits._
    val c = bids(s, dir)
      .select(unix_timestamp(window($"ts", "10 minutes")("start"))
        .as("window_start"), $"auction", $"bidder", $"price")
    val byW = Window.partitionBy($"window_start")
    c.withColumn("mx", max($"price").over(byW))
      .filter($"price" === $"mx")
      .select($"window_start", $"auction", $"bidder", $"price")
  }

  val q148_oracle: String =
    fixtureSql + ",\n" +
      """c AS (SELECT epoch(time_bucket(INTERVAL '10 minutes',
        |          CAST(ts AS TIMESTAMP)))::BIGINT AS window_start,
        |        auction, bidder, price FROM bids),
        |m AS (SELECT window_start, auction, bidder, price,
        |        max(price) OVER (PARTITION BY window_start) AS mx FROM c)
        |SELECT window_start, auction, bidder, price FROM m
        |WHERE price = mx""".stripMargin

  // ------------------------------------ q149 NEXMark Q8: monitor new users
  /** NEXMark Q8 "monitor new users": persons who registered AND opened an
    * auction within the same 12-hour window — the tumbling-window
    * stream-stream join. Batch form joins on (seller = person id, equal
    * 12h window); persons is the broadcast side.
    */
  val q149_nexmark_new_users: Q = (s, dir) => {
    import s.implicits._
    val p = persons(s, dir).select($"id".as("p_id"), $"name",
      window($"ts", "12 hours").as("pw"))
    auctions(s, dir)
      .select($"id".as("auction"), $"seller", window($"ts", "12 hours").as("aw"))
      .join(broadcast(p), $"seller" === $"p_id" && $"aw" === $"pw")
      .select(unix_timestamp($"pw.start").as("window_start"),
        $"p_id".as("person"), $"name", $"auction")
  }

  val q149_oracle: String =
    fixtureSql + "\n" +
      """SELECT epoch(time_bucket(INTERVAL '12 hours',
        |    CAST(p.ts AS TIMESTAMP)))::BIGINT AS window_start,
        |  p.id AS person, p.name, a.id AS auction
        |FROM persons p JOIN auctions a ON a.seller = p.id
        |  AND time_bucket(INTERVAL '12 hours', CAST(a.ts AS TIMESTAMP))
        |    = time_bucket(INTERVAL '12 hours', CAST(p.ts AS TIMESTAMP))""".stripMargin

  // ------------------------- q150 streaming twin of Q5 (hot items)
  /** Q5 as a REAL stream — the reference's headline query (25 M events/s
    * single-node) replayed through Structured Streaming: sliding-window
    * (window, auction) counts in update mode; the final hot-auction filter
    * is the batch post-pass over the update-mode snapshot (each key's final
    * revision is its largest count — the q91 pattern). Shares q146's oracle:
    * the stream must find exactly the batch's hot items.
    */
  val q150_stream_nexmark_hot: Q = (s, dir) => {
    import s.implicits._
    val raw = StreamRunner.replayFiles(s, bids(s, dir), "ts", "update") { df =>
      df.withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour", "20 minutes").as("w"), $"auction")
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp($"w.start").as("window_start"), $"auction", $"n")
    }
    val finals = raw.groupBy($"window_start", $"auction").agg(max($"n").as("n"))
    val byW = Window.partitionBy($"window_start")
    finals.withColumn("mx", max($"n").over(byW))
      .filter($"n" === $"mx")
      .select($"window_start", $"auction", $"n")
  }

  // ------------------------- q151 streaming twin of Q7 (highest bid)
  /** Q7 as a real stream, in Jet's own two-stage shape (its Q7 pipeline
    * computes the per-window max bid price, then a second stage re-joins the
    * bid stream to recover the winning bid itself): the stream emits each
    * 10-minute window's max price (update mode — final revision per window
    * is the true max); the recover-the-bid stage joins back to the bid table
    * keyed on (window, price), keeping every tied winner. Shares q148's
    * oracle.
    */
  val q151_stream_nexmark_maxbid: Q = (s, dir) => {
    import s.implicits._
    val raw = StreamRunner.replayFiles(s, bids(s, dir), "ts", "update") { df =>
      df.withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "10 minutes").as("w"))
        .agg(max($"price").as("p"))
        .select(unix_timestamp($"w.start").as("window_start"), $"p")
    }
    val mx = raw.groupBy($"window_start").agg(max($"p").as("mx"))
    bids(s, dir)
      .select(unix_timestamp(window($"ts", "10 minutes")("start"))
        .as("bw"), $"auction", $"bidder", $"price")
      .join(broadcast(mx), $"bw" === $"window_start" && $"price" === $"mx")
      .select($"window_start", $"auction", $"bidder", $"price")
  }

  // ------------------------- q152 streaming twin of Q8 (monitor new users)
  /** Q8 as a real STREAM-STREAM join: one replayed event stream forked into
    * a persons leg and an auctions leg (the q77 fork pattern), joined on
    * (seller = person id, equal 12-hour window) — window equality is the
    * state-cleanup condition Structured Streaming requires, so each side's
    * state evicts as the watermark passes the window. Shares q149's oracle.
    */
  val q152_stream_nexmark_users: Q = (s, dir) => {
    import s.implicits._
    StreamRunner.replayFiles(s, ev(s, dir), "ts", "append") { df =>
      val wm = df.withWatermark("ts", "1 hour")
      val p = wm.filter("event_id % 50 = 0").selectExpr(
          "event_id DIV 50 AS p_id", "concat('person_', event_id DIV 50) AS name", "ts")
        .select($"p_id", $"name", window($"ts", "12 hours").as("pw"))
      val a = wm.filter("event_id % 50 IN (1, 2, 3)").selectExpr(
          "(event_id DIV 50) * 3 + (event_id % 50) - 1 AS auction",
          "(event_id * 131 + 7) % ((event_id DIV 50) + 1) AS seller", "ts")
        .select($"auction", $"seller", window($"ts", "12 hours").as("aw"))
      a.join(p, $"seller" === $"p_id" && $"aw" === $"pw")
        .select(unix_timestamp($"pw.start").as("window_start"),
          $"p_id".as("person"), $"name", $"auction")
    }
  }

  // --------------- q155 Q5 via chained stateful aggs (the pane architecture)
  /** Q5 through the PANE ARCHITECTURE, declaratively: Spark 3.4+ chained
    * stateful aggregations (SPARK-40925) — a 20-minute tumbling PANE count
    * feeding a sliding window-of-window sum, exactly the reference's
    * SlidingWindowP two-stage frame design (panes = the slide; windows
    * combine panes). The second stage's input is pane-cardinality, not
    * bid-cardinality — measured at 2× the native sliding window's sustained
    * rate (BASELINE.md r8: nexmark_q5_chained 16 M rows/s vs
    * nexmark_q5_sliding 8 M). Chaining requires APPEND mode: two far-future
    * sentinel chunks advance the watermark so both stages flush their final
    * windows deterministically; the final counts must equal the batch
    * suite's — shares q146's oracle.
    */
  val q155_stream_nexmark_chained: Q = (s, dir) => {
    import s.implicits._
    def sentinel(maxTs: java.sql.Timestamp, offsetSec: Long) =
      Seq((-1L, -1L, 0L, new java.sql.Timestamp(maxTs.getTime + offsetSec * 1000L)))
        .toDF("auction", "bidder", "price", "ts")
    import graft.operators.SlidingPanes
    val raw = StreamRunner.replayFiles(s, bids(s, dir), "ts", "append",
      tails = Some(maxTs =>
        Seq(sentinel(maxTs, 4 * 3600), sentinel(maxTs, 4 * 3600 + 60)))) { df =>
      SlidingPanes.slidingAggStream(df.withWatermark("ts", "1 hour"), "ts",
          size = "1 hour", slide = "20 minutes", keys = Seq($"auction"),
          aggs = Seq(SlidingPanes.PaneAgg(count(lit(1)), sum, "n")))
        .select(unix_timestamp($"window_start").as("window_start"),
          $"auction", $"n")
    }
    val finals = raw.filter(!($"auction" <=> lit(-1L)))
    val byW = Window.partitionBy($"window_start")
    finals.withColumn("mx", max($"n").over(byW))
      .filter($"n" === $"mx")
      .select($"window_start", $"auction", $"n")
  }

  // ------- q158 Q5 fully in-stream (3 chained stages, hot items in-band)
  /** Q5 with the hot-items argmax INSIDE the stream — closing the honest
    * delta q150/q155 left: those streamed the (window, auction) counts but
    * found the per-window max in a batch post-pass over the collected
    * output. Here [[graft.operators.SlidingPanes.slidingHotKeysStream]]
    * chains a third stateful stage — grouped by a slide-sized tumbling
    * window over `window_time` of the stage-2 window (a bijective
    * window↔bucket mapping) — whose aggregate is the bounded
    * `graft_argmax_ties` accumulator ([[graft.functions.expr.ArgmaxTies]]):
    * per-window state = the running max plus ONLY the keys tying it, so
    * the streamed rows ARE the hot items WITH ties and no operator ever
    * buffers a window's full candidate set (and no stream-stream join
    * re-executes stages 1–2 — that shape was measured and rejected, see
    * SlidingPanes.scala); the reference's own Q5 topology (sliding count →
    * maxBy vertex, benchmark blog:105-113) as chained declarative stateful
    * ops in one pipeline. The
    * watermark-advancing sentinel rows flow through the stages (their
    * far-future windows never close) and are dropped by a STATELESS filter
    * on the streamed output — still inside the streaming query. The filter
    * must sit ABOVE the stateful stages: a pre-aggregation `auction != -1`
    * predicate gets pushed below the EventTimeWatermark node by Catalyst
    * (it does not reference the event-time column), silently stopping the
    * sentinels from ever advancing the watermark — measured as exactly the
    * last 2h/slide windows never flushing. (Verified after the r10
    * ArgmaxTies rework: the oracle still hash-matches, so the
    * post-aggregation filter stays above the watermark assignment.)
    * Shares q146's oracle.
    */
  val q158_stream_nexmark_hot_instream: Q = (s, dir) => {
    import s.implicits._
    def sentinel(maxTs: java.sql.Timestamp, offsetSec: Long) =
      Seq((-1L, -1L, 0L, new java.sql.Timestamp(maxTs.getTime + offsetSec * 1000L)))
        .toDF("auction", "bidder", "price", "ts")
    import graft.operators.SlidingPanes
    StreamRunner.replayFiles(s, bids(s, dir), "ts", "append",
      tails = Some(maxTs =>
        Seq(sentinel(maxTs, 4 * 3600), sentinel(maxTs, 4 * 3600 + 60)))) { df =>
      SlidingPanes.slidingHotKeysStream(df.withWatermark("ts", "1 hour"), "ts",
          size = "1 hour", slide = "20 minutes",
          key = $"auction", keyName = "auction", nName = "n")
        .filter($"auction" =!= -1L) // sentinel windows, in-stream (see above)
        .select(unix_timestamp($"window_start").as("window_start"),
          $"auction", $"n")
    }
  }

  // ------------------------------------------------------------- registry
  val entries: Map[String, Q] = Map(
    "q142_nexmark_currency" -> q142_nexmark_currency,
    "q143_nexmark_filter" -> q143_nexmark_filter,
    "q144_nexmark_local_item" -> q144_nexmark_local_item,
    "q145_nexmark_avg_category" -> q145_nexmark_avg_category,
    "q146_nexmark_hot_items" -> q146_nexmark_hot_items,
    "q147_nexmark_avg_seller" -> q147_nexmark_avg_seller,
    "q148_nexmark_highest_bid" -> q148_nexmark_highest_bid,
    "q149_nexmark_new_users" -> q149_nexmark_new_users,
    "q150_stream_nexmark_hot" -> q150_stream_nexmark_hot,
    "q151_stream_nexmark_maxbid" -> q151_stream_nexmark_maxbid,
    "q152_stream_nexmark_users" -> q152_stream_nexmark_users,
    "q155_stream_nexmark_chained" -> q155_stream_nexmark_chained,
    "q158_stream_nexmark_hot_instream" -> q158_stream_nexmark_hot_instream)

  val oracles: Map[String, String] = Map(
    "q142_nexmark_currency" -> q142_oracle,
    "q143_nexmark_filter" -> q143_oracle,
    "q144_nexmark_local_item" -> q144_oracle,
    "q145_nexmark_avg_category" -> q145_oracle,
    "q146_nexmark_hot_items" -> q146_oracle,
    "q147_nexmark_avg_seller" -> q147_oracle,
    "q148_nexmark_highest_bid" -> q148_oracle,
    "q149_nexmark_new_users" -> q149_oracle,
    // streaming twins must reproduce the batch suite exactly
    "q150_stream_nexmark_hot" -> q146_oracle,
    "q151_stream_nexmark_maxbid" -> q148_oracle,
    "q152_stream_nexmark_users" -> q149_oracle,
    // the chained-pane path must produce exactly the batch suite's counts
    "q155_stream_nexmark_chained" -> q146_oracle,
    // the fully in-stream 3-stage plan must stream exactly the hot items
    "q158_stream_nexmark_hot_instream" -> q146_oracle)
}

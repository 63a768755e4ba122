package graft.queries

import graft.Tables
import graft.core._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Gate queries authored through the CORE DAG API (SURVEY.md §3.3; reference:
  * hazelcast-jet-core/src/main/java/com/hazelcast/jet/core/DAG.java) — the
  * power-user layer a reference user would port a hand-built topology to.
  * Both queries compile through [[graft.core.DagExecutor]]: vertices run as
  * one Processor per partition inside `mapPartitions`, partitioned edges are
  * HashPartitioner shuffles, broadcast edges are guarded driver broadcasts.
  *
  * These exist to prove the layer end-to-end against the DuckDB oracle; the
  * DataFrame forms of the same queries (q30, q04) remain the production path
  * — Catalyst plans those with codegen and two-phase aggregation, which the
  * DAG layer (like the reference's core API) bypasses by design.
  */
object DagQueries {

  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ------------------------------------------- q170 core-API word-count DAG
  /** The canonical Jet core-API word count (reference docs' hello-world of
    * DAG.java; processors from core/processor/Processors.java): tokenize →
    * accumulateByKeyP (local) → partitioned+distributed edge → combineByKeyP.
    * Tokenizer is q30's: TextFunctions.tokens' kernel, called row-side.
    */
  val q170_dag_wordcount: Q = (s, dir) => {
    val text: RDD[Any] = t(s, dir, "documents")
      .select("text").rdd.map(r => r.getString(0): Any)

    val dag = new DAG
    val tokenize = dag.newVertex("tokenize",
      Processors.flatMapP((line: String) =>
        Traversers.traverseArray(graft.functions.expr.TokensKernel.tokens(line))))
    val accumulate = dag.newVertex("accumulate",
      Processors.accumulateByKeyP((w: Any) => w, AggregateOp.counting))
    val combine = dag.newVertex("combine",
      Processors.combineByKeyP[Any, Long, Long](
        AggregateOp.counting, (k, n) => Row(k, n)))
    dag
      .edge(Edge.between(tokenize, accumulate)) // local: map-side partials
      .edge(Edge.between(accumulate, combine)
        .partitioned(_.asInstanceOf[(Any, Long)]._1).distributed())

    DagExecutor.toDataFrame(s, dag, "combine",
      StructType(Seq(StructField("word", StringType), StructField("n", LongType))),
      inputs = Map("tokenize" -> text))
  }

  val q170_oracle: String =
    """SELECT word, count(*) AS n FROM (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                            x -> x <> '')) AS word
      |  FROM documents)
      |GROUP BY word""".stripMargin

  // --------------------------------------- q171 core-API hash-join DAG
  /** The canonical core-API hash join: build side on a BROADCAST edge at
    * priority -1 (drained fully before the probe edge — Edge.java:265's
    * documented use), probe on ordinal 1, then the two-stage keyed aggregate
    * over the join output. Mirrors the HashJoinP pattern
    * (impl/processor/HashJoinP.java) re-expressed on this engine's executor.
    */
  val q171_dag_hash_join: Q = (s, dir) => {
    val nation: RDD[Any] = t(s, dir, "nation")
      .select("n_nationkey", "n_name").rdd
      .map(r => (r.getInt(0), r.getString(1)): Any)
    val customer: RDD[Any] = t(s, dir, "customer")
      .select("c_nationkey", "c_acctbal").rdd
      .map(r => (r.getInt(0), r.getDouble(1)): Any)

    val joinP: () => Processor = () =>
      new AbstractProcessor {
        private val names = mutable.HashMap.empty[Int, String]
        override protected def tryProcess(ordinal: Int, item: Any): Boolean =
          ordinal match {
            case 0 =>
              val (k, v) = item.asInstanceOf[(Int, String)]
              names.update(k, v); true
            case 1 =>
              val (k, bal) = item.asInstanceOf[(Int, Double)]
              names.get(k) match {
                case Some(name) => tryEmit((name, bal))
                case None       => true // inner join
              }
          }
      }

    // (count, sum) accumulator over (name, bal) pairs
    val countSum = AggregateOp[(Long, Double), (Long, Double)](
      createFn = () => (0L, 0.0),
      accumulateFn = (a, t) => (a._1 + 1L, a._2 + t.asInstanceOf[(String, Double)]._2),
      combineFn = (x, y) => (x._1 + y._1, x._2 + y._2),
      exportFn = identity)

    val dag = new DAG
    val build = dag.newVertex("build", Processors.mapP((x: Any) => x))
    val probe = dag.newVertex("probe", Processors.mapP((x: Any) => x))
    val join = dag.newVertex("join", joinP)
    val accumulate = dag.newVertex("accumulate",
      Processors.accumulateByKeyP(_.asInstanceOf[(String, Double)]._1, countSum))
    val combine = dag.newVertex("combine",
      Processors.combineByKeyP[Any, (Long, Double), (Long, Double)](
        countSum, (k, r) => Row(k, r._1, r._2)))
    dag
      .edge(Edge.from(build).to(join, 0).broadcast().priority(-1))
      .edge(Edge.from(probe).to(join, 1))
      .edge(Edge.between(join, accumulate))
      .edge(Edge.between(accumulate, combine)
        .partitioned(_.asInstanceOf[(Any, (Long, Double))]._1).distributed())

    val raw = DagExecutor.toDataFrame(s, dag, "combine",
      StructType(Seq(
        StructField("n_name", StringType),
        StructField("n_cust", LongType),
        StructField("sum_bal_raw", DoubleType))),
      inputs = Map("build" -> nation, "probe" -> customer))
    raw.select(col("n_name"), col("n_cust"),
      round(col("sum_bal_raw"), 2).as("sum_bal"))
  }

  val q171_oracle: String =
    """SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  // ----------------------------------- q174 core-API event-time tumbling window
  /** The reference's canonical EVENT-TIME topology on the core API
    * (InsertWatermarksP + accumulateByFrameP + combineToSlidingWindowP,
    * core/processor/Processors.java:474,528; Watermark at core/Watermark.java):
    * events → insertWatermarksP (throttled to the hour frame) →
    * accumulateByFrameP (local partials per (frame, event_type)) →
    * distributed partitioned edge on the key → combineToSlidingWindowP
    * emitting per closed window as the coalesced watermark passes it.
    * Tumbling 1 h count+sum per event_type — q20/q50's aggregate, SAME
    * oracle, so the DAG layer's windows cannot drift from the Catalyst and
    * Structured Streaming forms. Frame partials keep the distributed edge
    * answer-sized: (keys × frames) rows cross the shuffle, never events.
    */
  val q174_dag_event_time: Q = (s, dir) => {
    val frame = 3600L // 1 hour, in epoch seconds
    // per-partition time order before entering the DAG: watermark lag models
    // BOUNDED source disorder (Jet's EventTimePolicy contract — events later
    // than the lag drop by design), and scaled replicas interleave copies
    // within files. sortWithinPartitions is a local spill-aware sort, no
    // exchange — the "roughly ordered source" a real deployment reads.
    val events: RDD[Any] = t(s, dir, "events")
      .select(col("ts").cast("long").as("ts"), col("event_type"), col("value"))
      .sortWithinPartitions("ts").rdd
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)): Any)

    val countSum = AggregateOp[(Long, Double), (Long, Double)](
      createFn = () => (0L, 0.0),
      accumulateFn = (a, t) =>
        (a._1 + 1L, a._2 + t.asInstanceOf[(Long, String, Double)]._3),
      combineFn = (x, y) => (x._1 + y._1, x._2 + y._2),
      exportFn = identity)

    val dag = new DAG
    // lag = one frame (the q50 watermark-delay analog): intra-partition
    // disorder up to an hour never drops — the same tolerance the
    // Structured Streaming form runs with
    val wm = dag.newVertex("wm",
      Processors.insertWatermarksP[(Long, String, Double)](
        _._1, lag = frame, throttleFrame = frame))
    val acc = dag.newVertex("accframe",
      Processors.accumulateByFrameP[String, (Long, Double)](
        keyFn = _.asInstanceOf[(Long, String, Double)]._2,
        tsFn = _.asInstanceOf[(Long, String, Double)]._1,
        frameLen = frame, countSum))
    val comb = dag.newVertex("combine",
      Processors.combineToSlidingWindowP[String, (Long, Double), (Long, Double)](
        frameLen = frame, windowLen = frame, countSum,
        (we, k, r) => Row(we - frame, k, r._1, r._2)))
    dag
      .edge(Edge.between(wm, acc))
      .edge(Edge.between(acc, comb)
        .partitioned(_.asInstanceOf[(Long, String, (Long, Double))]._2)
        .distributed())

    val raw = DagExecutor.toDataFrame(s, dag, "combine",
      StructType(Seq(
        StructField("window_start", LongType),
        StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("sum_raw", DoubleType))),
      inputs = Map("wm" -> events))
    raw.select(col("window_start"), col("event_type"), col("n"),
      round(col("sum_raw"), 4).as("sum_value"))
  }

  // same oracle as the Catalyst (q20) and Structured Streaming (q50) forms
  val q174_oracle: String = EventQueries.q20_oracle

  // --------------------------------------- q176 core-API SESSION windows
  /** `aggregateToSessionWindowP` (core/processor/Processors.java:640,
    * SessionWindowP.java) carrying a gate: per-user sessions with a 30-minute
    * gap over events, single-stage behind a partitioned edge on the key —
    * q51's aggregate with q51's oracle, so the core-API session semantics
    * (interval overlap, bridge-merge, end = last event + gap, strict
    * boundary) cannot drift from the Structured Streaming `session_window`
    * form. Watermark lag = 1 h, the same tolerance q51 runs with.
    */
  val q176_dag_session: Q = (s, dir) => {
    val timeoutUs = 1800L * 1000000L // 30 min
    val lagUs = 3600L * 1000000L // 1 h, q51's watermark delay
    // same bounded-disorder contract as q174: local time sort, no exchange
    val events: RDD[Any] = t(s, dir, "events")
      .select(unix_micros(col("ts")).as("ts_us"), col("user_id"), col("value"))
      .sortWithinPartitions("ts_us").rdd
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
        r.getDouble(2)): Any)

    val countSum = AggregateOp[(Long, Double), (Long, Double)](
      createFn = () => (0L, 0.0),
      accumulateFn = (a, t) =>
        (a._1 + 1L, a._2 + t.asInstanceOf[(Long, java.lang.Long, Double)]._3),
      combineFn = (x, y) => (x._1 + y._1, x._2 + y._2),
      exportFn = identity)

    val dag = new DAG
    val wm = dag.newVertex("wm",
      Processors.insertWatermarksP[(Long, java.lang.Long, Double)](
        _._1, lag = lagUs, throttleFrame = timeoutUs))
    val sess = dag.newVertex("session",
      Processors.aggregateToSessionWindowP[java.lang.Long, (Long, Double), (Long, Double)](
        sessionTimeout = timeoutUs,
        tsFn = _.asInstanceOf[(Long, java.lang.Long, Double)]._1,
        keyFn = _.asInstanceOf[(Long, java.lang.Long, Double)]._2,
        countSum,
        (start, end, k, r) => Row(k, start, end, r._1, r._2)))
    dag.edge(Edge.between(wm, sess)
      .partitioned(_.asInstanceOf[(Long, java.lang.Long, Double)]._2)
      .distributed())

    val raw = DagExecutor.toDataFrame(s, dag, "session",
      StructType(Seq(
        StructField("user_id", LongType),
        StructField("session_start_us", LongType),
        StructField("session_end_us", LongType),
        StructField("n_events", LongType),
        StructField("sum_raw", DoubleType))),
      inputs = Map("wm" -> events))
    raw.select(col("user_id"), col("session_start_us"), col("session_end_us"),
      col("n_events"), round(col("sum_raw"), 4).as("sum_value"))
  }

  // q51's oracle — the gaps-and-islands SQL sessions
  val q176_oracle: String = graft.queries.StreamingQueries.q51_oracle

  val entries: Map[String, Q] = Map(
    "q170_dag_wordcount" -> q170_dag_wordcount,
    "q171_dag_hash_join" -> q171_dag_hash_join,
    "q174_dag_event_time" -> q174_dag_event_time,
    "q176_dag_session" -> q176_dag_session)

  val oracles: Map[String, String] = Map(
    "q170_dag_wordcount" -> q170_oracle,
    "q171_dag_hash_join" -> q171_oracle,
    "q174_dag_event_time" -> q174_oracle,
    "q176_dag_session" -> q176_oracle)
}

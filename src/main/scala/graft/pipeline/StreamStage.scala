package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Jet `StreamSourceStage` (reference: pipeline/StreamSourceStage.java): the
  * stage between `readFrom(streamSource)` and timestamp assignment.
  */
final class StreamSourceStage(df: DataFrame) {

  /** Jet `withTimestamps(tsFn, allowedLag)` (GeneralStage.java:1155, via
    * InsertWatermarksP) → event-time column + bounded-lateness watermark:
    * semantically `WatermarkPolicy.limitingLag` (core/WatermarkPolicy.java:72).
    *
    * A TIMESTAMP_NTZ event-time column (Spark 4's reading of naive timestamps,
    * e.g. a user-declared NTZ schema on a json/csv watcher) is normalized to
    * TIMESTAMP first — `withWatermark` rejects NTZ outright, and the cast
    * labels the wall-clock values as instants in the session timezone (UTC
    * under GraftSession), matching how the engine's parquet paths read the
    * same data with NTZ inference disabled.
    */
  def withTimestamps(tsCol: String, allowedLag: String): StreamStage = {
    val d = StreamSourceStage.ntzToTimestamp(df, tsCol)
    new StreamStage(d.withWatermark(tsCol, allowedLag), tsCol)
  }

  /** Jet `withNativeTimestamps(0)` — sources that carry their own event time
    * (rate source's `timestamp`, kafka's `timestamp`).
    */
  def withNativeTimestamps(allowedLag: String = "0 seconds"): StreamStage = {
    val tsCol = if (df.columns.contains("timestamp")) "timestamp" else "ts"
    val d = StreamSourceStage.ntzToTimestamp(df, tsCol)
    new StreamStage(d.withWatermark(tsCol, allowedLag), tsCol)
  }

  /** Jet `withoutTimestamps` — no event-time ops downstream. */
  def withoutTimestamps(): StreamStage = new StreamStage(df, null)
}

object StreamSourceStage {
  /** Cast `tsCol` TIMESTAMP_NTZ → TIMESTAMP (no-op otherwise). */
  private[pipeline] def ntzToTimestamp(df: DataFrame, tsCol: String): DataFrame =
    if (df.columns.contains(tsCol) &&
        df.schema(tsCol).dataType == org.apache.spark.sql.types.TimestampNTZType)
      df.withColumn(tsCol, col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
    else df
}

/** Jet `StreamStage<T>` (reference: pipeline/StreamStage.java) over a streaming
  * DataFrame with an event-time column.
  */
final class StreamStage(val df: DataFrame, val tsCol: String) {

  /** Jet parity: `Pipeline.toDotString()` — GraphViz DOT of this stage's
    * logical DAG (see [[PlanDot]]).
    */
  def toDotString: String = PlanDot.toDotString(df)

  // ----------------------------------------------------- stateless ops (§2.3)
  def select(cols: Column*): StreamStage = new StreamStage(df.select(cols: _*), tsCol)
  def where(cond: Column): StreamStage = new StreamStage(df.filter(cond), tsCol)
  def withColumn(name: String, c: Column): StreamStage =
    new StreamStage(df.withColumn(name, c), tsCol)

  def map[U: Encoder](f: Row => U): Dataset[U] = df.map(f)
  def flatMapCol(c: Column, as: String): StreamStage =
    new StreamStage(df.withColumn(as, explode(c)), tsCol)

  /** Jet `merge` of two streams (StreamStage.java:67). */
  def merge(other: StreamStage): StreamStage =
    new StreamStage(df.unionByName(other.df), tsCol)

  /** Streaming distinct (Jet windowed `distinct`, StageWithWindow.java:90):
    * drops duplicates on `keys` with state bounded by the watermark — the
    * streaming-dedup shape for exactly-once event feeds. State per key is one
    * row and expires once the watermark passes it, so this is safe on
    * unbounded streams (unlike an unbounded `dropDuplicates`).
    */
  def distinct(keys: String*): StreamStage =
    new StreamStage(df.dropDuplicatesWithinWatermark(keys.toSeq), tsCol)

  /** Jet stream `hashJoin` (StreamStage.java:188): stream-static broadcast
    * enrichment — each micro-batch probes the replicated dimension.
    */
  def hashJoin(dim: DataFrame, on: Column): StreamStage =
    new StreamStage(df.join(broadcast(dim), on, "left_outer"), tsCol)

  /** Jet streaming `mapUsingIMap` (GeneralStage.java:678 applied to
    * StreamStage): enrich each event against a named store. SEMANTIC DELTA,
    * stated: Jet reads the live map per event; a Spark streaming plan binds
    * the static side at query START, so this join sees the store as of
    * `.start()` — mutations during the run are not observed. For live
    * per-batch lookups, do the enrichment in a `foreachBatch` sink
    * (`SinkBuilder`/`CdcSinks` pattern: the batch function re-reads
    * `KeyedStore.get` fresh on every micro-batch), or restart the query on
    * dimension change (checkpoint resume makes that cheap).
    */
  def mapUsingIMap(storeName: String, on: Column): StreamStage =
    hashJoin(KeyedStore.get(df.sparkSession, storeName), on)

  /** Jet streaming `mapUsingReplicatedMap` — same plan as [[mapUsingIMap]]
    * (a broadcast IS the replicated map); see the batch-side note.
    */
  def mapUsingReplicatedMap(storeName: String, on: Column): StreamStage =
    mapUsingIMap(storeName, on)

  /** Jet `StreamHashJoinBuilder` (pipeline/StreamHashJoinBuilder.java):
    * enrich one stream against N batch dimensions — a chain of broadcast
    * left-outer probes, each micro-batch probing every replicated dimension.
    * The stream side never shuffles; at scale each dimension must stay
    * broadcast-able (same bound as `hashJoin`).
    */
  def hashJoinN(dims: (DataFrame, Column)*): StreamStage =
    dims.foldLeft(this) { case (st, (dim, on)) => st.hashJoin(dim, on) }

  /** Stream-stream join — ABSENT in the reference (SURVEY §2.5: Jet hashJoin
    * right sides are batch-only); Spark-native superset. Both sides must carry
    * watermarks and the condition must time-bound the match (e.g.
    * `leftTs BETWEEN rightTs - interval AND rightTs + interval`) so join state
    * is evictable — unbounded conditions grow state forever.
    */
  def joinStream(other: StreamStage, on: Column, how: String = "inner"): StreamStage =
    new StreamStage(df.join(other.df, on, how), tsCol)

  // --------------------------------------- service transforms on streams (§2.4)
  // Jet's GeneralStage service ops apply to StreamStage too; here they are
  // partition-local Dataset transforms on the streaming frame (run inside each
  // micro-batch's tasks, service created once per partition per batch).

  /** Jet stream `customTransform` (GeneralStage.java:1282): raw partition
    * access. `outSchema` declares the output row shape (streaming frames
    * cannot infer it from a lambda).
    */
  def customTransform(outSchema: org.apache.spark.sql.types.StructType)(
      f: Iterator[Row] => Iterator[Row]): StreamStage =
    new StreamStage(
      df.mapPartitions(f)(org.apache.spark.sql.Encoders.row(outSchema)).toDF(), tsCol)

  /** Jet stream `mapUsingPython` (extensions/python/.../PythonTransforms.java:47):
    * rewrite one string column through an external worker process per
    * partition per micro-batch — see [[SubprocessTransforms]] for the
    * protocol/ordering contract (SubprocessSpec covers the streaming path).
    */
  def mapUsingSubprocess(colName: String, command: Seq[String],
                         env: Map[String, String] = Map.empty): StreamStage =
    new StreamStage(SubprocessTransforms.transformColumn(df, colName, command, env), tsCol)

  /** Jet stream `mapUsingService` (GeneralStage.java:305 applied to
    * StreamStage): per-partition service lifecycle inside each micro-batch.
    */
  def mapUsingService[S](factory: ServiceFactory[S],
                         outSchema: org.apache.spark.sql.types.StructType)(
      f: (S, Row) => Row): StreamStage =
    customTransform(outSchema) { it =>
      val svc = factory.create()
      ServiceFactories.closing(factory, svc, it.map(r => f(svc, r)))
    }

  /** Jet stream `filterUsingService` (GeneralStage.java:497): schema-preserving,
    * so no declared output schema needed.
    */
  def filterUsingService[S](factory: ServiceFactory[S])(p: (S, Row) => Boolean): StreamStage =
    customTransform(df.schema) { it =>
      val svc = factory.create()
      ServiceFactories.closing(factory, svc, it.filter(r => p(svc, r)))
    }

  /** Jet stream `flatMapUsingService` (GeneralStage.java:539). */
  def flatMapUsingService[S](factory: ServiceFactory[S],
                             outSchema: org.apache.spark.sql.types.StructType)(
      f: (S, Row) => IterableOnce[Row]): StreamStage =
    customTransform(outSchema) { it =>
      val svc = factory.create()
      ServiceFactories.closing(factory, svc, it.flatMap(r => f(svc, r)))
    }

  /** Jet `groupingKey` → keyed stream stage. */
  def groupingKey(keys: Column*): StreamStageWithKey =
    new StreamStageWithKey(df, tsCol, keys)

  /** Non-keyed window aggregate (Jet StageWithWindow.aggregate). */
  def window(wd: WindowDefinition): StreamStageWithKey =
    new StreamStageWithKey(df, tsCol, Nil).window(wd)

  def writeTo(sink: StreamSink): JobHandle = sink.start(df)
}

/** Jet `StreamStageWithKey` / `StageWithKeyAndWindow` (reference:
  * pipeline/StreamStageWithKey.java, StageWithKeyAndWindow.java).
  */
final class StreamStageWithKey(
    private[pipeline] val df: DataFrame,
    private[pipeline] val tsCol: String,
    private[pipeline] val keys: Seq[Column]) {

  private var windowDef: Option[WindowDefinition] = None

  def window(wd: WindowDefinition): StreamStageWithKey = { windowDef = Some(wd); this }

  /** Windowed (or plain keyed) aggregate. Tumbling/sliding → `window()`;
    * session → `session_window()` (gap-merged, Jet SessionWindowP semantics).
    * Output carries `window_start`/`window_end` like Jet's `KeyedWindowResult`.
    *
    * A sliding window whose size is a multiple of its slide is planned
    * frame-first by [[graft.sql.FrameFirstWindows]], Jet's
    * accumulateByFrameP + combineToSlidingWindowP: each event is aggregated
    * once into its (frame, key) partial, and only the partials expand into
    * the size/slide windows. The state keeps one row per (window, key), so
    * every output mode works and each event still updates size/slide window
    * states.
    */
  def aggregate(op: AggOp): DataFrame = {
    val groupCols: Seq[Column] = windowDef match {
      case Some(WindowDefinition.Tumbling(size)) =>
        window(col(tsCol), size).as("window") +: keys
      case Some(WindowDefinition.Sliding(size, slide)) =>
        window(col(tsCol), size, slide).as("window") +: keys
      case Some(WindowDefinition.Session(gap)) =>
        session_window(col(tsCol), gap).as("window") +: keys
      case None => keys
    }
    val agged = df.groupBy(groupCols: _*).agg(op.columns.head, op.columns.tail: _*)
    if (windowDef.isDefined)
      agged.withColumn("window_start", col("window.start"))
        .withColumn("window_end", col("window.end"))
        .drop("window")
    else agged
  }

  /** The sliding aggregate through the PANE path (chained stateful aggs —
    * the reference's SlidingWindowP frame architecture): frame partials are
    * kept in STATE, so an event updates one frame state, where
    * [[aggregate]] combines frames per batch but keeps one state row per
    * (window, key). BASELINE.md r8 measured 2× the sustained rate of the
    * native sliding plan as it was before its frame-first map side. Only
    * meaningful with a Sliding window definition; takes the pane vocabulary
    * (partial + combine per aggregate) because an arbitrary AggOp column
    * cannot be decomposed automatically. APPEND-mode results
    * (watermark-finalized windows), unlike [[aggregate]]'s update-capable
    * native plan.
    */
  def aggregatePaned(aggs: Seq[graft.operators.SlidingPanes.PaneAgg]): DataFrame =
    windowDef match {
      case Some(WindowDefinition.Sliding(size, slide)) =>
        graft.operators.SlidingPanes.slidingAggStream(
          df, tsCol, size, slide, keys, aggs)
      case other => throw new IllegalArgumentException(
        s"aggregatePaned requires a Sliding window definition, got $other")
    }

  private def window(c: Column, size: String): Column =
    org.apache.spark.sql.functions.window(c, size)
  private def window(c: Column, size: String, slide: String): Column =
    org.apache.spark.sql.functions.window(c, size, slide)

  /** Jet `StageWithKeyAndWindow.aggregate2` (StageWithKeyAndWindow.java:136):
    * co-aggregate TWO keyed streams in the SAME window — one result row per
    * (window, key) carrying both sides' aggregates, with Jet's outer
    * semantics (a key present on only one side still emits; the other side's
    * count is 0 / sum is null).
    *
    * Spark-first shape — Jet runs a single co-aggregating vertex receiving
    * both inputs; the analog is NOT a join of two windowed aggregates (two
    * shuffles + stream-stream join state) but a tag-union into ONE windowed
    * hash aggregation whose aggregate expressions are conditioned on the side
    * tag (`FILTER (WHERE __side = i)` on every aggregate). One shuffle,
    * two-phase agg, and the union preserves each input's watermark (Spark
    * takes the min across inputs — the same coalescing Jet's
    * WatermarkCoalescer applies to a two-input vertex).
    *
    * Column namespace: both sides' data columns are visible to both ops by
    * name (columns missing on a side are null-padded), so each op references
    * its own input's columns exactly as in Jet; the side filter guarantees an
    * op never accumulates the other side's rows. Keys are aligned by
    * POSITION (Jet pairs groupingKey fns the same way) and take this side's
    * key names in the output.
    */
  def aggregate2(op0: AggOp, other: StreamStageWithKey, op1: AggOp): DataFrame =
    coAggregate(op0, Seq(other -> op1))

  /** Jet `StageWithKeyAndWindow.aggregate3` / `WindowGroupAggregateBuilder`
    * (StageWithKeyAndWindow.java:194, WindowGroupAggregateBuilder.java): the
    * N-input generalization — same single tag-union windowed hash agg.
    */
  def aggregate3(op0: AggOp, s1: StreamStageWithKey, op1: AggOp,
                 s2: StreamStageWithKey, op2: AggOp): DataFrame =
    coAggregate(op0, Seq(s1 -> op1, s2 -> op2))

  /** N-way windowed co-aggregation (the `WindowGroupAggregateBuilder` form):
    * every input is shaped to (keys, event-time, side tag, union-of-columns)
    * and unioned; each op's aggregates accumulate only its side's rows via
    * `FILTER (WHERE side = i)`. One shuffle regardless of input count.
    */
  def coAggregate(op0: AggOp, others: Seq[(StreamStageWithKey, AggOp)]): DataFrame = {
    others.zipWithIndex.foreach { case ((s, _), i) =>
      require(s.keys.size == keys.size,
        s"co-aggregate key arity mismatch at input ${i + 1}: ${s.keys.size} vs ${keys.size}")
    }
    val side = "__graft_side"
    val ts = "__graft_ts"
    val outKeys = keys.zipWithIndex.map { case (k, i) =>
      org.apache.spark.sql.graftops.Bridge.namedAs(k).getOrElse(s"key$i")
    }
    val sides: Seq[(StreamStageWithKey, AggOp)] = (this, op0) +: others
    // union of all sides' data columns; a column absent on a side is
    // null-padded there (typed from the first side that has it)
    def colsOf(d: DataFrame) = d.schema.fields.map(f => f.name -> f.dataType)
    val byName = sides.flatMap(s => colsOf(s._1.df)).groupBy(_._1)
    // fail loudly on ambiguous namespaces instead of letting unionByName
    // coerce or a key alias shadow a data column (review finding). Columns
    // named like an output key never enter the shared data namespace (they
    // are replaced by the aliased key), so only the rest needs type agreement
    byName.filterNot(outKeys contains _._1).foreach { case (n, ts) =>
      require(ts.map(_._2).distinct.size == 1,
        s"co-aggregate column '$n' has conflicting types across inputs " +
          s"(${ts.map(_._2.simpleString).distinct.mkString(", ")}) — rename or cast one side")
    }
    // a data column named like an output key is only legal when it IS that
    // side's key (plain-column grouping); otherwise the key alias would
    // silently shadow a genuine data column in the shared namespace
    outKeys.zipWithIndex.foreach { case (n, i) =>
      sides.foreach { case (s, _) =>
        val keyIsThatColumn =
          org.apache.spark.sql.graftops.Bridge.plainColumnName(s.keys(i)).contains(n)
        require(!s.df.columns.contains(n) || keyIsThatColumn,
          s"co-aggregate input data column '$n' collides with output key name '$n' " +
            "but is not that input's grouping key — rename the data column or the key alias")
      }
    }
    val allCols = byName.map(_._2.head).toSeq
      .filterNot { case (n, _) => outKeys.contains(n) }
    def shape(s: StreamStageWithKey, tag: Int): DataFrame = {
      val have = s.df.columns.toSet
      val dataCols = allCols.map { case (n, t) =>
        if (have.contains(n)) col(n) else lit(null).cast(t).as(n)
      }
      val keyCols = s.keys.zip(outKeys).map { case (k, n) => k.as(n) }
      // .as on the ts column preserves its event-time watermark metadata, so
      // the downstream stateful aggregation still sees every input's watermark
      s.df.select((keyCols :+ col(s.tsCol).as(ts) :+ lit(tag).as(side)) ++ dataCols: _*)
    }
    val unioned = sides.zipWithIndex.map { case ((s, _), i) => shape(s, i) }
      .reduce(_ unionByName _)
    val groupCols: Seq[Column] = windowDef match {
      case Some(WindowDefinition.Tumbling(size)) =>
        window(col(ts), size).as("window") +: outKeys.map(col)
      case Some(WindowDefinition.Sliding(size, slide)) =>
        window(col(ts), size, slide).as("window") +: outKeys.map(col)
      case Some(WindowDefinition.Session(gap)) =>
        session_window(col(ts), gap).as("window") +: outKeys.map(col)
      case None => outKeys.map(col)
    }
    val aggCols = sides.zipWithIndex.flatMap { case ((_, op), i) =>
      AggregateOperations.sideFiltered(op, col(side) === i)
    }
    val agged = unioned.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
    if (windowDef.isDefined)
      agged.withColumn("window_start", col("window.start"))
        .withColumn("window_end", col("window.end"))
        .drop("window")
    else agged
  }
}

/** Typed stateful per-key streaming ops (reference: TransformStatefulP.java,
  * StreamStageWithKey.mapStateful with TTL + evict callback, SURVEY §2.9).
  * Spark's `flatMapGroupsWithState` is the exact mechanism: timeout = TTL,
  * `onTimeout` = the evict callback.
  */
object StatefulOps {

  /** Jet keyed `mapStateful(ttl, createFn, mapFn, onEvictFn)`
    * (StreamStageWithKey.java:116). Processing-time TTL; emits mapFn output per
    * event and onEvict output when the key's state expires.
    */
  def mapStateful[K, V, S, O](
      ds: Dataset[V], keyFn: V => K, ttlMillis: Long,
      createFn: () => S, mapFn: (K, S, V) => (S, O),
      onEvictFn: (K, S) => Option[O] = (_: K, _: S) => None)(
      implicit ke: Encoder[K], se: Encoder[S], oe: Encoder[O],
      tupleEnc: Encoder[(K, V)]): Dataset[O] = {

    val timeout =
      if (ttlMillis > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.map(v => (keyFn(v), v))
      .groupByKey(_._1)
      .flatMapGroupsWithState[S, O](OutputMode.Append(), timeout) {
        case (key, values, state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val out = onEvictFn(key, state.get)
            state.remove()
            out.iterator
          } else {
            var s = state.getOption.getOrElse(createFn())
            val outs = values.map { case (_, v) =>
              val (s2, o) = mapFn(key, s, v)
              s = s2
              o
            }.toList
            state.update(s)
            if (ttlMillis > 0) state.setTimeoutDuration(ttlMillis)
            outs.iterator
          }
      }
  }

  /** Jet global (non-keyed) `mapStateful` (GeneralStage.java:156,
    * GlobalMapStatefulTransform — forced allToOne): one state object for the
    * whole stream. Mirrors the reference's parallelism-1 semantics by grouping
    * on a constant key; use ONLY for genuinely global state (sequence numbers,
    * global thresholds) — it serializes the stream through one task by design.
    */
  def mapStatefulGlobal[V, S, O](
      ds: Dataset[V], createFn: () => S, mapFn: (S, V) => (S, O))(
      implicit se: Encoder[S], oe: Encoder[O],
      tupleEnc: Encoder[(Int, V)]): Dataset[O] =
    mapStateful[Int, V, S, O](ds, _ => 0, ttlMillis = 0,
      createFn = createFn,
      mapFn = (_, s, v) => mapFn(s, v))(
      org.apache.spark.sql.Encoders.scalaInt, se, oe, tupleEnc)

  /** Jet keyed `flatMapStateful` (StreamStageWithKey.java:186) — the general
    * member of the stateful trio: per event, the state transitions AND zero or
    * more outputs are emitted (Jet's Traverser return); `onEvictFn` may also
    * emit on TTL expiry. Same fMGWS mechanism and TTL semantics as
    * [[mapStateful]].
    */
  def flatMapStateful[K, V, S, O](
      ds: Dataset[V], keyFn: V => K, ttlMillis: Long,
      createFn: () => S, flatMapFn: (K, S, V) => (S, IterableOnce[O]),
      onEvictFn: (K, S) => IterableOnce[O] = (_: K, _: S) => Nil)(
      implicit ke: Encoder[K], se: Encoder[S], oe: Encoder[O],
      tupleEnc: Encoder[(K, V)]): Dataset[O] = {
    val timeout =
      if (ttlMillis > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.map(v => (keyFn(v), v))
      .groupByKey(_._1)
      .flatMapGroupsWithState[S, O](OutputMode.Append(), timeout) {
        case (key, values, state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val out = onEvictFn(key, state.get).iterator.toList
            state.remove()
            out.iterator
          } else {
            var s = state.getOption.getOrElse(createFn())
            val outs = values.flatMap { case (_, v) =>
              val (s2, os) = flatMapFn(key, s, v)
              s = s2
              os
            }.toList
            state.update(s)
            if (ttlMillis > 0) state.setTimeoutDuration(ttlMillis)
            outs.iterator
          }
      }
  }

  /** [[mapStateful]] with EVENT-TIME TTL — the reference's actual eviction
    * clock: `TransformStatefulP.java:48-120` evicts a key when the incoming
    * WATERMARK passes its last event time + ttl, not when a wall clock does.
    * `tsFn` extracts each event's time; the watermark is (re-)attached here
    * AFTER the key projection, because event-time attribute metadata does
    * not survive an object map — EventTimeTimeout requires the watermarked
    * column to reach the stateful operator. Eviction fires when the
    * watermark passes last-event + ttl. Replay-deterministic in a way
    * processing-time TTL can never be: the evict decision depends only on
    * event times and watermark progression, not on how fast batches
    * execute.
    */
  def mapStatefulEventTime[K, V, S, O](
      ds: Dataset[V], keyFn: V => K, tsFn: V => java.sql.Timestamp,
      ttlMillis: Long, watermarkDelay: String,
      createFn: () => S, mapFn: (K, S, V) => (S, O),
      onEvictFn: (K, S) => Option[O])(
      implicit ke: Encoder[K], se: Encoder[S], oe: Encoder[O],
      tripleEnc: Encoder[(K, java.sql.Timestamp, V)]): Dataset[O] =
    ds.map(v => (keyFn(v), tsFn(v), v))
      .withWatermark("_2", watermarkDelay)
      .groupByKey(_._1)
      .flatMapGroupsWithState[(S, Long), O](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (key: K, values: Iterator[(K, java.sql.Timestamp, V)],
         state: GroupState[(S, Long)]) =>
          if (state.hasTimedOut) {
            val out = onEvictFn(key, state.get._1)
            state.remove()
            out.iterator
          } else {
            // the deadline tracks the max event time EVER seen for the key
            // (carried in the state), not just this batch's max: a late but
            // in-watermark event must never SHORTEN the ttl and evict early
            var (s, seenMax) = state.getOption.getOrElse((createFn(), Long.MinValue))
            val outs = values.map { case (_, t, v) =>
              if (t.getTime > seenMax) seenMax = t.getTime
              val (s2, o) = mapFn(key, s, v)
              s = s2
              o
            }.toList
            state.update((s, seenMax))
            // deadline = last event + ttl; clamp above the current watermark
            // (a deadline at/behind the wm is rejected by the API — the key
            // is then evicted at the very next wm advance, Jet's behavior)
            state.setTimeoutTimestamp(
              math.max(seenMax + ttlMillis, state.getCurrentWatermarkMs() + 1))
            outs.iterator
          })(org.apache.spark.sql.Encoders.tuple(se,
            org.apache.spark.sql.Encoders.scalaLong), oe)

  /** [[mapStateful]] on Spark 4's NATIVE arbitrary-state API
    * (`transformWithState` / `StatefulProcessor`) instead of fMGWS — the
    * closest structural analog of Jet's `TransformStatefulP` yet: explicit
    * per-key `ValueState`, explicit registered TIMERS whose expiry callback
    * is Jet's `onEvictFn` (`handleExpiredTimer` ↔ TransformStatefulP's
    * wm-driven eviction emit), and state served by RocksDB (the API requires
    * the RocksDB provider — its point is large-state operation with
    * changelog checkpointing). Same contract and output as [[mapStateful]].
    *
    * Measured guidance (BASELINE.md "Round 8: fMGWS vs transformWithState
    * A/B"): at equal provider the API choice does NOT move throughput (TWS
    * 539k vs fMGWS 520k rows/s at 200 keys; 318k vs 332k at 1M keys on
    * RocksDB) — choose this variant for its API surface (explicit timers,
    * multiple named state variables, state TTL config, RocksDB alignment),
    * not for speed; the provider decision stays the BASELINE.md
    * "Round 4: state-store A/B at large state" guidance.
    */
  def mapStatefulTws[K, V, S, O](
      ds: Dataset[V], keyFn: V => K, ttlMillis: Long,
      createFn: () => S, mapFn: (K, S, V) => (S, O),
      onEvictFn: (K, S) => Option[O] = (_: K, _: S) => None)(
      implicit ke: Encoder[K], se: Encoder[S], oe: Encoder[O],
      tupleEnc: Encoder[(K, V)]): Dataset[O] = {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessor,
      TTLConfig, TimeMode, TimerValues}
    val proc = new StatefulProcessor[K, (K, V), O] {
      @transient private var st: org.apache.spark.sql.streaming.ValueState[S] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[S]("s", se, TTLConfig.NONE)
      override def handleInputRows(key: K, rows: Iterator[(K, V)],
                                   timers: TimerValues): Iterator[O] = {
        var s = if (st.exists()) st.get() else createFn()
        val outs = rows.map { case (_, v) =>
          val (s2, o) = mapFn(key, s, v)
          s = s2
          o
        }.toList
        st.update(s)
        if (ttlMillis > 0) {
          // one live timer per key: re-arm on every event (Jet's idle TTL)
          getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
          getHandle.registerTimer(timers.getCurrentProcessingTimeInMs() + ttlMillis)
        }
        outs.iterator
      }
      override def handleExpiredTimer(key: K, timers: TimerValues,
                                      expired: ExpiredTimerInfo): Iterator[O] = {
        val out = if (st.exists()) onEvictFn(key, st.get()) else None
        st.clear()
        out.iterator
      }
    }
    ds.map(v => (keyFn(v), v))
      .groupByKey(_._1)
      .transformWithState[O](proc,
        if (ttlMillis > 0) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append(), oe)
  }

  /** [[mapStatefulTws]] with EVENT-TIME TTL — the large-state
    * (`transformWithState`/RocksDB) path on the reference's ACTUAL eviction
    * clock: `TransformStatefulP.java:100-120` evicts a key when the incoming
    * WATERMARK passes its last event time + ttl. The timer is registered in
    * `TimeMode.EventTime()` at max(last event + ttl, watermark + 1) — the
    * same deadline derivation as [[mapStatefulEventTime]] (the fMGWS
    * variant), so the two APIs are drop-in equivalents and replay-
    * deterministic: eviction depends only on event times and watermark
    * progression, never on batch pacing. The max-event-time high-water mark
    * is carried IN the state so a late-but-in-watermark event can never
    * shorten a key's ttl and evict it early.
    */
  def mapStatefulTwsEventTime[K, V, S, O](
      ds: Dataset[V], keyFn: V => K, tsFn: V => java.sql.Timestamp,
      ttlMillis: Long, watermarkDelay: String,
      createFn: () => S, mapFn: (K, S, V) => (S, O),
      onEvictFn: (K, S) => Option[O])(
      implicit ke: Encoder[K], se: Encoder[S], oe: Encoder[O],
      tripleEnc: Encoder[(K, java.sql.Timestamp, V)]): Dataset[O] = {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessor,
      TTLConfig, TimeMode, TimerValues}
    require(ttlMillis > 0, "event-time TTL requires a positive ttlMillis " +
      "(with no eviction clock, use mapStatefulTws(ttlMillis = 0))")
    val stateEnc = org.apache.spark.sql.Encoders.tuple(se,
      org.apache.spark.sql.Encoders.scalaLong)
    val proc = new StatefulProcessor[K, (K, java.sql.Timestamp, V), O] {
      @transient private var st:
        org.apache.spark.sql.streaming.ValueState[(S, Long)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[(S, Long)]("s", stateEnc, TTLConfig.NONE)
      override def handleInputRows(key: K,
                                   rows: Iterator[(K, java.sql.Timestamp, V)],
                                   timers: TimerValues): Iterator[O] = {
        var (s, seenMax) =
          if (st.exists()) st.get() else (createFn(), Long.MinValue)
        val outs = rows.map { case (_, t, v) =>
          if (t.getTime > seenMax) seenMax = t.getTime
          val (s2, o) = mapFn(key, s, v)
          s = s2
          o
        }.toList
        st.update((s, seenMax))
        // one live timer per key, re-armed per batch: deadline = last event
        // + ttl, clamped above the current watermark so a key whose deadline
        // the watermark already passed evicts at the very next advance
        // (Jet's behavior) instead of registering an already-dead timer
        getHandle.listTimers().foreach(t =>
          getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(
          math.max(seenMax + ttlMillis, timers.getCurrentWatermarkInMs() + 1))
        outs.iterator
      }
      override def handleExpiredTimer(key: K, timers: TimerValues,
                                      expired: ExpiredTimerInfo): Iterator[O] = {
        val out = if (st.exists()) onEvictFn(key, st.get()._1) else None
        st.clear()
        out.iterator
      }
    }
    // watermark re-attached AFTER the key projection: event-time metadata
    // does not survive an object map, and TimeMode.EventTime requires the
    // watermarked column to reach the stateful operator (same reason as
    // mapStatefulEventTime)
    ds.map(v => (keyFn(v), tsFn(v), v))
      .withWatermark("_2", watermarkDelay)
      .groupByKey(_._1)
      .transformWithState[O](proc, TimeMode.EventTime(), OutputMode.Append(), oe)
  }

  /** Jet keyed `filterStateful` (StreamStageWithKey.java:157): keep an event
    * iff the stateful predicate passes; the state still transitions on every
    * event (that is the point — e.g. "first N per key", change detection).
    */
  def filterStateful[K, V, S](
      ds: Dataset[V], keyFn: V => K, ttlMillis: Long,
      createFn: () => S, filterFn: (S, V) => (S, Boolean))(
      implicit ke: Encoder[K], se: Encoder[S], ve: Encoder[V],
      tupleEnc: Encoder[(K, V)]): Dataset[V] =
    flatMapStateful[K, V, S, V](ds, keyFn, ttlMillis, createFn,
      (_, s, v) => { val (s2, keep) = filterFn(s, v); (s2, if (keep) Seq(v) else Nil) })

  /** Jet global `flatMapStateful`/`filterStateful` (GeneralStage.java:198,239):
    * one state object for the whole stream — same single-task caveat as
    * [[mapStatefulGlobal]].
    */
  def flatMapStatefulGlobal[V, S, O](
      ds: Dataset[V], createFn: () => S, flatMapFn: (S, V) => (S, IterableOnce[O]))(
      implicit se: Encoder[S], oe: Encoder[O],
      tupleEnc: Encoder[(Int, V)]): Dataset[O] =
    flatMapStateful[Int, V, S, O](ds, _ => 0, ttlMillis = 0, createFn,
      (_, s, v) => flatMapFn(s, v))(
      org.apache.spark.sql.Encoders.scalaInt, se, oe, tupleEnc)

  def filterStatefulGlobal[V, S](
      ds: Dataset[V], createFn: () => S, filterFn: (S, V) => (S, Boolean))(
      implicit se: Encoder[S], ve: Encoder[V],
      tupleEnc: Encoder[(Int, V)]): Dataset[V] =
    flatMapStatefulGlobal[V, S, V](ds, createFn,
      (s, v) => { val (s2, keep) = filterFn(s, v); (s2, if (keep) Seq(v) else Nil) })

  /** Jet `rollingAggregate` (StreamStageWithKey.java:256): running accumulator
    * per key, one output per input event.
    */
  def rollingAggregate[K, V, A, O](
      ds: Dataset[V], keyFn: V => K,
      zero: A, accumulate: (A, V) => A, export: (K, A) => O)(
      implicit ke: Encoder[K], ae: Encoder[A], oe: Encoder[O],
      tupleEnc: Encoder[(K, V)]): Dataset[O] =
    mapStateful[K, V, A, O](ds, keyFn, ttlMillis = 0,
      createFn = () => zero,
      mapFn = (k, a, v) => { val a2 = accumulate(a, v); (a2, export(k, a2)) })
}

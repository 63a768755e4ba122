package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Jet `BatchStage<T>` (reference: pipeline/BatchStage.java, GeneralStage.java)
  * as a thin wrapper over `Dataset[T]`. Every method is a declarative Catalyst
  * transform; Jet's planner fusion (Planner.java:118-136) happens for free in
  * whole-stage codegen.
  */
final class BatchStage[T](val ds: Dataset[T]) {

  /** Jet parity: `Pipeline.toDotString()` — GraphViz DOT of this stage's
    * logical DAG (see [[PlanDot]]).
    */
  def toDotString: String = PlanDot.toDotString(ds)

  private def spark = ds.sparkSession
  def toDF: DataFrame = ds.toDF()

  // ------------------------------------------------- stateless row ops (§2.3)

  /** Jet `map` (GeneralStage.java:78). Typed lambda path; for columnar
    * projections prefer `select` (stays in codegen without object round-trips).
    */
  def map[U: Encoder](f: T => U): BatchStage[U] = new BatchStage(ds.map(f))

  /** Jet `filter` (GeneralStage.java:95). */
  def filter(p: T => Boolean): BatchStage[T] = new BatchStage(ds.filter(p))

  /** Jet `flatMap` (GeneralStage.java:116). */
  def flatMap[U: Encoder](f: T => IterableOnce[U]): BatchStage[U] =
    new BatchStage(ds.flatMap(f))

  /** Columnar projection — the Spark-native `map` (no deserialization). */
  def select(cols: Column*): BatchStage[Row] = new BatchStage(ds.select(cols: _*))

  /** Columnar predicate — the Spark-native `filter`; pushes to the scan. */
  def where(cond: Column): BatchStage[T] = new BatchStage(ds.filter(cond))

  /** Jet `apply` (BatchStage.java:607) = `Dataset.transform`. */
  def apply[U](f: BatchStage[T] => BatchStage[U]): BatchStage[U] = f(this)

  /** Jet `peek` (GeneralStage.java:1210): passthrough observation DURING
    * execution — each partition logs its first `n` rows when the stage
    * actually runs; nothing executes at pipeline-construction time and the
    * data flows through unchanged (Jet's PeekWrappedP semantics).
    */
  def peek(n: Int = 5): BatchStage[T] =
    new BatchStage(ds.mapPartitions { it =>
      var seen = 0
      it.map { t =>
        if (seen < n) { println(s"[peek] $t"); seen += 1 }
        t
      }
    }(ds.encoder))

  /** Jet `customTransform` (GeneralStage.java:1282): raw partition-level access. */
  def customTransform[U: Encoder](f: Iterator[T] => Iterator[U]): BatchStage[U] =
    new BatchStage(ds.mapPartitions(f))

  // ------------------------------------------- mapUsingService family (§2.4)

  /** Jet `mapUsingService` (GeneralStage.java:305): per-partition service
    * lifecycle (create once per partition, destroy at end) — the connection-pool
    * pattern. The service is created lazily inside each task, never serialized.
    */
  def mapUsingService[S, U: Encoder](factory: ServiceFactory[S])(f: (S, T) => U): BatchStage[U] =
    new BatchStage(ds.mapPartitions { it =>
      val svc = factory.create()
      ServiceFactories.closing(factory, svc, it.map(t => f(svc, t)))
    })

  /** Jet `filterUsingService` (GeneralStage.java:255): keep rows the
    * service-backed predicate accepts; same per-partition lifecycle as
    * `mapUsingService`.
    */
  def filterUsingService[S](factory: ServiceFactory[S])(p: (S, T) => Boolean): BatchStage[T] =
    new BatchStage(ds.mapPartitions { it =>
      val svc = factory.create()
      ServiceFactories.closing(factory, svc, it.filter(t => p(svc, t)))
    }(ds.encoder))

  /** Jet `flatMapUsingService` (GeneralStage.java:279). */
  def flatMapUsingService[S, U: Encoder](factory: ServiceFactory[S])(
      f: (S, T) => IterableOnce[U]): BatchStage[U] =
    new BatchStage(ds.mapPartitions { it =>
      val svc = factory.create()
      ServiceFactories.closing(factory, svc, it.flatMap(t => f(svc, t)))
    })

  /** Jet `mapUsingServiceAsyncBatched` (GeneralStage.java:459): micro-batched
    * service calls — natural fit for `mapPartitions` + grouped iteration.
    */
  def mapUsingServiceBatched[S, U: Encoder](factory: ServiceFactory[S], batchSize: Int = 128)(
      f: (S, Seq[T]) => Seq[U]): BatchStage[U] =
    new BatchStage(ds.mapPartitions { it =>
      val svc = factory.create()
      ServiceFactories.closing(factory, svc,
        it.grouped(batchSize).flatMap(b => f(svc, b.toSeq)))
    })

  /** Jet `mapUsingServiceAsyncBatched` with its ACTUAL async semantics
    * (GeneralStage.java:459: the service call returns a future of the
    * batch's results and up to `maxConcurrent` batches are in flight
    * concurrently per processor): the same sliding in-flight ring as
    * [[mapUsingServiceAsync]], over `batchSize`-item groups, results
    * emitted in input order and flattened. For a synchronous service call
    * use [[mapUsingServiceBatched]].
    */
  def mapUsingServiceAsyncBatched[S, U: Encoder](
      factory: ServiceFactory[S], batchSize: Int = 128, maxConcurrent: Int = 4)(
      f: (S, Seq[T]) => scala.concurrent.Future[Seq[U]]): BatchStage[U] =
    new BatchStage(ds.mapPartitions { it =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val svc = factory.create()
      val batches = it.grouped(batchSize)
      val ring = new scala.collection.mutable.Queue[Future[Seq[U]]]()
      val refill: () => Unit = () =>
        while (ring.size < maxConcurrent && batches.hasNext) {
          ring.enqueue(f(svc, batches.next().toSeq))
        }
      refill()
      var destroyed = false
      val drainAndDestroy: () => Unit = () => if (!destroyed) {
        destroyed = true
        ring.foreach(fu => try Await.ready(fu, Duration.Inf)
          catch { case _: Throwable => () })
        ring.clear()
        factory.destroy(svc)
      }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => drainAndDestroy()))
      new Iterator[Seq[U]] {
        def hasNext: Boolean = {
          val h = ring.nonEmpty
          if (!h) drainAndDestroy()
          h
        }
        def next(): Seq[U] = {
          val head = ring.dequeue()
          refill() // keep the window full while awaiting the head
          try Await.result(head, Duration.Inf)
          catch { case e: Throwable => drainAndDestroy(); throw e }
        }
      }.flatten
    })

  /** Jet `mapUsingServiceAsync` ordered (GeneralStage.java:354-401,
    * AsyncTransformUsingServiceOrderedP): up to `maxConcurrent` in-flight
    * async calls per partition, results emitted in INPUT order — the
    * reference's sliding in-flight ring, not a batch barrier. A new call is
    * issued the moment the head of the ring is dequeued for emission, so a
    * slow call only delays EMISSION of the results behind it (unavoidable
    * under ordering); calls keep being issued and completing concurrently up
    * to the window. (Round-4 shipped this as `grouped(maxConcurrent)` +
    * `Future.sequence` — a cohort barrier where one slow call stopped the
    * NEXT cohort from even starting; ServiceOpsSpec now pins the difference.)
    * For completion-order emission see `mapUsingServiceAsyncUnordered`.
    */
  def mapUsingServiceAsync[S, U: Encoder](
      factory: ServiceFactory[S], maxConcurrent: Int = 4)(
      f: (S, T) => scala.concurrent.Future[U]): BatchStage[U] =
    new BatchStage(ds.mapPartitions { it =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val svc = factory.create()
      val ring = new scala.collection.mutable.Queue[Future[U]]()
      // a val, not a def: local defs lift to instance methods and would drag
      // the (non-serializable) stage into the task closure
      val refill: () => Unit = () => while (ring.size < maxConcurrent && it.hasNext) {
        ring.enqueue(f(svc, it.next()))
      }
      refill()
      var destroyed = false
      // drain BEFORE destroy, always — the in-flight futures hold the live
      // service; destroying under them turns one failure (or an early-exit
      // consumer like limit(1), which fires the task-completion listener
      // with the ring still full) into a cascade of use-after-close errors
      val drainAndDestroy: () => Unit = () => if (!destroyed) {
        destroyed = true
        ring.foreach(fu => try Await.ready(fu, Duration.Inf)
          catch { case _: Throwable => () })
        ring.clear()
        factory.destroy(svc)
      }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => drainAndDestroy()))
      new Iterator[U] {
        def hasNext: Boolean = {
          val h = ring.nonEmpty
          if (!h) drainAndDestroy()
          h
        }
        def next(): U = {
          val head = ring.dequeue()
          // keep the window full WHILE we wait on the head — this is what
          // makes it a sliding ring rather than a cohort barrier
          refill()
          try Await.result(head, Duration.Inf)
          catch { case e: Throwable => drainAndDestroy(); throw e }
        }
      }
    })

  /** Jet `mapUsingServiceAsync` UNORDERED (GeneralStage.java:354-401,
    * AsyncTransformUsingServiceUnorderedP): up to `maxConcurrent` in-flight
    * calls per partition with results emitted in COMPLETION order — one slow
    * call never holds back the results behind it, which is the
    * throughput-relevant form for high-variance service latencies. A new call
    * is issued the moment any in-flight call completes (true sliding window,
    * not the ordered variant's batch barrier).
    */
  def mapUsingServiceAsyncUnordered[S, U: Encoder](
      factory: ServiceFactory[S], maxConcurrent: Int = 4)(
      f: (S, T) => scala.concurrent.Future[U]): BatchStage[U] =
    new BatchStage(ds.mapPartitions { it =>
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val svc = factory.create()
      val done = new java.util.concurrent.LinkedBlockingQueue[Either[Throwable, U]]()
      var inFlight = 0
      // a val, not a def: local defs lift to instance methods and would drag
      // the (non-serializable) stage into the task closure
      val refill: () => Unit = () => while (inFlight < maxConcurrent && it.hasNext) {
        val t = it.next()
        inFlight += 1
        f(svc, t).onComplete {
          case scala.util.Success(u) => done.put(Right(u))
          case scala.util.Failure(e) => done.put(Left(e))
        }
      }
      refill()
      var destroyed = false
      // drain BEFORE destroy, always (see the ordered variant): an early-exit
      // consumer fires the task-completion listener with calls still in
      // flight; destroying under them is a use-after-close cascade
      val drainAndDestroy: () => Unit = () => if (!destroyed) {
        destroyed = true
        while (inFlight > 0) { done.take(); inFlight -= 1 }
        factory.destroy(svc)
      }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => drainAndDestroy()))
      new Iterator[U] {
        def hasNext: Boolean = {
          val h = inFlight > 0
          if (!h) drainAndDestroy()
          h
        }
        def next(): U = {
          val r = done.take()
          inFlight -= 1
          r match {
            case Right(u) => refill(); u
            case Left(e) => drainAndDestroy(); throw e
          }
        }
      }
    })

  // --------------------------------------------------------- joins (§2.5)

  /** Jet `hashJoin` (GeneralStage.java:774): broadcast hash join, left-outer.
    * The enriching side is replicated to every task — exactly Jet's
    * `HashJoinP` replicated-map semantics, planned by Catalyst as
    * BroadcastHashJoin.
    */
  def hashJoin(other: BatchStage[_], on: Column): BatchStage[Row] =
    new BatchStage(ds.join(broadcast(other.ds), on, "left_outer"))

  /** Jet `innerHashJoin` (BatchStage.java:237). */
  def innerHashJoin(other: BatchStage[_], on: Column): BatchStage[Row] =
    new BatchStage(ds.join(broadcast(other.ds), on, "inner"))

  /** N-way hash join (Jet `hashJoinBuilder`, GeneralStage.java:864): chain of
    * broadcast joins — Catalyst collapses them into one probe stage.
    */
  def hashJoinN(others: (BatchStage[_], Column)*): BatchStage[Row] =
    new BatchStage(others.foldLeft(ds.toDF()) { case (acc, (o, c)) =>
      acc.join(broadcast(o.ds), c, "left_outer")
    })

  /** General shuffled join for fact-to-fact cases where broadcast is wrong;
    * Catalyst/AQE pick sort-merge vs shuffled-hash and split skew.
    */
  def join(other: BatchStage[_], on: Column, how: String = "inner"): BatchStage[Row] =
    new BatchStage(ds.join(other.ds, on, how))

  /** Salted equi-join for skewed fact-to-fact joins where broadcast is
    * impossible and AQE's skew split doesn't apply (e.g. shuffled-hash path,
    * or a hot key so extreme one task would still own it). Beyond the
    * reference (Jet has no skew handling; its partitioned edges hash raw
    * keys — core/Edge.java:659-709). Mechanism: this (big, skewed) side gets
    * a deterministic per-row salt in [0, salts); `other` is replicated
    * `salts`× via explode; the join keys become (keys..., salt), so a hot
    * key's rows spread across `salts` reducers instead of one. Cost:
    * `other` is scanned once but shuffled `salts`× — use when |other| ≪
    * |this|'s hot-key volume. Result is bit-identical to the plain join.
    */
  def saltedJoin(other: BatchStage[_], keys: Seq[String], salts: Int,
                 how: String = "inner"): BatchStage[Row] = {
    require(salts > 1, "saltedJoin needs salts > 1")
    // right/full outer are NOT salt-safe: an unmatched `other` key exists as
    // `salts` replicas, so the outer side would emit `salts` null-extended
    // rows where the plain join emits one
    val saltSafe = Set("inner", "left", "left_outer", "leftouter",
      "left_semi", "leftsemi", "left_anti", "leftanti")
    require(saltSafe.contains(how.toLowerCase.replace(" ", "")),
      s"saltedJoin: '$how' would duplicate unmatched right-side rows; " +
        "use the plain join (AQE skew handling) for right/full outer")
    val left = ds.toDF()
    // deterministic salt: stable across retries (rand() is not), spreads a
    // hot key's rows by the hash of the WHOLE row
    val salted = left.withColumn("__salt",
      pmod(hash(left.columns.map(col): _*), lit(salts)))
    val replicated = other.ds.toDF()
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    val out = salted.join(replicated, keys :+ "__salt", how).drop("__salt")
    new BatchStage(out)
  }

  /** Jet `mapUsingIMap` lookup join (GeneralStage.java:678, keyed variant
    * BatchStageWithKey.java:94): per-item point lookup against a named KV
    * store. Spark-first shape: a broadcast left-outer join against the store's
    * table — each task probes a replicated hash map, which is exactly the
    * reference's replicated-map lookup, minus the per-item RPC.
    */
  def mapUsingIMap(storeName: String, on: Column): BatchStage[Row] =
    new BatchStage(ds.join(broadcast(KeyedStore.get(spark, storeName)), on, "left_outer"))

  /** Jet `mapUsingReplicatedMap` (GeneralStage.java:643): lookup against a map
    * replicated to every member. A Spark broadcast IS a replicated map — the
    * plan is identical to [[mapUsingIMap]]; the distinct entry point exists
    * because the reference draws an operational line (replicated = local read,
    * no RPC) that callers port against.
    */
  def mapUsingReplicatedMap(storeName: String, on: Column): BatchStage[Row] =
    mapUsingIMap(storeName, on)

  // ----------------------------------------------- grouping / aggregation

  /** Jet `groupingKey` (GeneralStage.java→BatchStageWithKey): column-keyed
    * grouping — the performant path (no object materialization).
    */
  def groupingKey(keys: Column*): BatchStageWithKey =
    new BatchStageWithKey(ds.toDF(), keys)

  /** Global (non-keyed) aggregate — Jet `BatchStage.aggregate`
    * (AggregateTransform all-to-one): partial agg per partition + single final
    * combine.
    */
  def aggregate(op: AggOp): BatchStage[Row] =
    new BatchStage(ds.agg(op.columns.head, op.columns.tail: _*))

  // ------------------------------------ batch stateful family (§2.9, batch)
  //
  // Jet's BatchStage inherits the stateful trio + rollingAggregate from
  // GeneralStage (GeneralStage.java:150-239, TransformStatefulP): per-key
  // sequential state over items in encounter order (which Jet leaves
  // UNDEFINED for batch sources unless the upstream is ordered). The Spark
  // plan is the classic SECONDARY SORT: repartition by key, sort within
  // partitions on (key, orderFn), then ONE streaming pass that resets state
  // at each key boundary — per-key runs are contiguous, so no group is ever
  // materialized and memory is O(state), not O(group). `orderFn` makes the
  // fold DETERMINISTIC (Jet cannot offer that for batch); the default
  // constant order reproduces Jet's arrival-order semantics.

  /** Jet batch keyed `flatMapStateful` (GeneralStage.java:239): state
    * transitions and zero-or-more outputs per item, per key, in `orderFn`
    * order within the key.
    */
  def flatMapStateful[K, S, U: Encoder](keyFn: T => K, createFn: () => S,
      orderFn: T => Long = (_: T) => 0L)(
      fn: (K, S, T) => (S, IterableOnce[U]))(
      implicit tripleEnc: Encoder[(K, Long, T)]): BatchStage[U] = {
    val keyed = ds.map(t => (keyFn(t), orderFn(t), t))
    val arranged = keyed
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"))
    new BatchStage(arranged.mapPartitions { it =>
      var curKey: Option[K] = None
      var state: S = null.asInstanceOf[S]
      it.flatMap { case (k, _, t) =>
        if (!curKey.contains(k)) { curKey = Some(k); state = createFn() }
        val (s2, out) = fn(k, state, t)
        state = s2
        out
      }
    })
  }

  /** Jet batch keyed `mapStateful` (GeneralStage.java:150): one output per
    * item — the running-fold form.
    */
  def mapStateful[K, S, U: Encoder](keyFn: T => K, createFn: () => S,
      orderFn: T => Long = (_: T) => 0L)(mapFn: (K, S, T) => (S, U))(
      implicit tripleEnc: Encoder[(K, Long, T)]): BatchStage[U] =
    flatMapStateful(keyFn, createFn, orderFn) { (k, s, t) =>
      val (s2, u) = mapFn(k, s, t)
      (s2, Seq(u))
    }

  /** Jet batch keyed `filterStateful` (GeneralStage.java:197): keep/drop
    * decided by evolving per-key state (e.g. emit-first-occurrence).
    */
  def filterStateful[K, S](keyFn: T => K, createFn: () => S,
      orderFn: T => Long = (_: T) => 0L)(pred: (S, T) => (S, Boolean))(
      implicit tripleEnc: Encoder[(K, Long, T)]): BatchStage[T] =
    flatMapStateful(keyFn, createFn, orderFn) { (_, s, t) =>
      val (s2, keep) = pred(s, t)
      (s2, if (keep) Seq(t) else Nil)
    }(ds.encoder, tripleEnc)

  /** Jet batch keyed `rollingAggregate` (BatchStageWithKey.java:122): the
    * running aggregate result emitted per item — `mapStateful` with an
    * accumulate + export pair as the fold.
    */
  def rollingAggregate[K, A, R: Encoder](keyFn: T => K, zero: () => A,
      orderFn: T => Long = (_: T) => 0L)(
      accumulate: (A, T) => A, export: (K, A, T) => R)(
      implicit tripleEnc: Encoder[(K, Long, T)]): BatchStage[R] =
    mapStateful(keyFn, zero, orderFn) { (k, a, t) =>
      val a2 = accumulate(a, t)
      (a2, export(k, a2, t))
    }

  /** Jet GLOBAL batch `mapStateful`/`rollingAggregate`
    * (GeneralStage.java:150, BatchStage.rollingAggregate): Jet forces local
    * parallelism 1 for these — the Spark analog is the constant-key form of
    * the same plan (all rows hash to one ordered partition), and the same
    * scale warning applies: a global sequential fold is inherently serial;
    * prefer the keyed forms.
    */
  def mapStatefulGlobal[S, U: Encoder](createFn: () => S,
      orderFn: T => Long = (_: T) => 0L)(mapFn: (S, T) => (S, U))(
      implicit tripleEnc: Encoder[(Int, Long, T)]): BatchStage[U] =
    mapStateful[Int, S, U](_ => 0, createFn, orderFn)(
      (_, s, t) => mapFn(s, t))

  // ------------------------------------------------- sort/limit/set (§2.10)

  /** Jet `sort` (BatchStage.java:84): global total order — range-partitioned
    * sample sort (strictly better than Jet's single-member merge).
    */
  def sort(cols: Column*): BatchStage[T] = new BatchStage(ds.orderBy(cols: _*))

  def limit(n: Int): BatchStage[T] = new BatchStage(ds.limit(n))

  /** Jet `distinct` (BatchStage.java:221). */
  def distinct(): BatchStage[T] = new BatchStage(ds.dropDuplicates())

  /** Jet `merge` (BatchStage.java:234): union-all. */
  def merge(other: BatchStage[T]): BatchStage[T] = new BatchStage(ds.union(other.ds))

  /** Jet `rebalance()` / `rebalance(keyFn)` (GeneralStage.java:1031):
    * round-robin or key-partitioned redistribution.
    */
  /** Jet `setName` (GeneralStage.java:1323): names the stage — surfaces as a
    * SubqueryAlias in the plan and in `toDotString` output.
    */
  def setName(name: String): BatchStage[T] = new BatchStage(ds.as(name))

  /** Jet `setLocalParallelism` (GeneralStage.java:1320): Jet's unit is
    * cooperative threads per vertex; Spark's unit of parallelism is the
    * partition — this sets the stage's partition count (the honest analog;
    * task scheduling stays Catalyst's).
    *
    * Jet's call is a pure scheduling hint with no data movement, so this maps
    * to `coalesce(n)` — a NARROW dependency that never shuffles: it reduces
    * to exactly n partitions when n < current, and is a no-op when
    * n >= current (matching the hint semantics — asking for more parallelism
    * than the data has never moves rows in Jet either). It preserves
    * within-partition order but coarsens scheduling granularity and drops
    * any hash co-partitioning guarantee downstream operators might have
    * relied on.
    *
    * CAUTION — upstream collapse: because `coalesce` is narrow, the reduced
    * width propagates UP through the whole narrow stage, so every map/filter
    * upstream of this call (until the previous shuffle boundary) also runs
    * at n tasks — unlike Jet's per-vertex hint, a small n can serialize
    * expensive upstream work (the classic `coalesce(1)` gotcha). When only
    * the DOWNSTREAM vertex should narrow, either call [[rebalance(n:Int)*]]
    * (a real Exchange — upstream keeps its width, at the cost of a shuffle)
    * or materialize a barrier first (`cache()`/`localCheckpoint()`) before
    * coalescing. To force a real round-robin redistribution to MORE
    * partitions (a full Exchange that discards ordering), call
    * [[rebalance(n:Int)*]] explicitly.
    */
  def setLocalParallelism(n: Int): BatchStage[T] = new BatchStage(ds.coalesce(n))

  def rebalance(n: Int): BatchStage[T] = new BatchStage(ds.repartition(n))
  def rebalance(cols: Column*): BatchStage[T] = new BatchStage(ds.repartition(cols: _*))

  /** Scale-safe per-key top-N (window row_number) — the 100 TB alternative to
    * the collect_list-based `AggregateOperations.topN`.
    */
  def topNPerKey(n: Int, key: Column, order: Column*): BatchStage[Row] = {
    val w = Window.partitionBy(key).orderBy(order: _*)
    new BatchStage(ds.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn"))
  }

  // --------------------------------------------------------------- sinks

  /** Jet `writeTo(Sink)` (GeneralStage → SinkStage). */
  def writeTo(sink: Sink): Unit = sink.write(ds.toDF())

  /** Jet DAG fan-out: one stage feeding MULTIPLE sinks in a single job
    * (Pipeline.java — the planner executes the shared prefix once and edges
    * fan out to every sink vertex). Spark actions are per-sink, so the
    * faithful analog pins the stage across the writes: the lineage above
    * (scan + transforms) materializes once into the block store, every sink
    * reads those partitions, and the cache is released afterwards — without
    * this, N `.writeTo` calls rescan the source N times.
    */
  def fanOut(sinks: Sink*): Unit = {
    require(sinks.nonEmpty, "fanOut needs at least one sink")
    val df = ds.toDF()
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try sinks.foreach(_.write(df))
    finally { df.unpersist(); () }
  }

  /** Jet `Sinks.observable` (Sinks.java:1382): pull results to the caller. */
  def observe(): Seq[Row] = ds.toDF().collect().toSeq
}

/** Jet `BatchStageWithKey` (pipeline/BatchStageWithKey.java): grouped stage. */
final class BatchStageWithKey(df: DataFrame, keys: Seq[Column]) {

  /** Output names of the grouping keys, schema-derived — correct for arbitrary
    * key EXPRESSIONS, where `Column.toString` (e.g. "upper(k)") is a rendering,
    * not a resolvable name. Analysis-only, no job runs.
    */
  private val keyNames: Seq[String] = df.select(keys: _*).schema.map(_.name)

  /** Keyed aggregate (BatchStageWithKey.aggregate): two-phase hash agg. */
  def aggregate(op: AggOp): BatchStage[Row] =
    new BatchStage(df.groupBy(keys: _*).agg(op.columns.head, op.columns.tail: _*))

  /** Jet `aggregate2` (BatchStageWithKey.java:211): co-aggregate two keyed
    * inputs. Shape: aggregate each input independently (small per-key results),
    * then full-outer-join the compact aggregates — far cheaper than
    * co-shuffling raw rows at scale. The right side's key columns are renamed
    * to this stage's key names (Jet matches on key VALUE, not name), so two
    * stages keyed by different expressions co-aggregate correctly.
    */
  def aggregate2(op1: AggOp, other: BatchStageWithKey, op2: AggOp): BatchStage[Row] = {
    val left = aggregate(op1).toDF
    val rightRaw = other.aggregate(op2).toDF
    val right = rightRaw.toDF(keyNames ++ rightRaw.columns.drop(keyNames.size): _*)
    new BatchStage(left.join(right, keyNames, "full_outer"))
  }

  /** Jet `aggregate3` / `aggregateBuilder` (BatchStageWithKey.java:300-391,
    * GrAggBuilder): N-way co-aggregation — same compact-aggregates-join shape.
    */
  def aggregate3(op1: AggOp, s2: BatchStageWithKey, op2: AggOp,
                 s3: BatchStageWithKey, op3: AggOp): BatchStage[Row] = {
    def aligned(s: BatchStageWithKey, op: AggOp): DataFrame = {
      val raw = s.aggregate(op).toDF
      raw.toDF(keyNames ++ raw.columns.drop(keyNames.size): _*)
    }
    new BatchStage(
      aggregate(op1).toDF
        .join(aligned(s2, op2), keyNames, "full_outer")
        .join(aligned(s3, op3), keyNames, "full_outer"))
  }

  /** Jet `aggregateBuilder` (BatchStageWithKey.java:391, GrAggBuilder): N-way
    * co-aggregation for arbitrary N — `aggregate2`/`aggregate3`'s shape
    * without the arity cap. Each input aggregates independently (two-phase,
    * map-side combined), then the COMPACT per-key aggregates full-outer-join
    * on the key values; keys from later stages are renamed to this stage's
    * key names (Jet matches key VALUES, not names). At scale this is N small
    * joins of per-key results, never a co-shuffle of raw rows.
    */
  def aggregateBuilder(op: AggOp): CoAggBuilder =
    new CoAggBuilder(this, keyNames, Vector(aggregate(op).toDF))

  /** Jet keyed `distinct` (BatchStageWithKey.java:66): one arbitrary row per
    * key VALUE — the key expressions are materialized as hidden columns for
    * the dedup and dropped after (correct for expression keys, not just refs).
    */
  def distinct(): BatchStage[Row] = {
    val hidden = keys.indices.map(i => s"__gk$i")
    val withKeys = hidden.zip(keys).foldLeft(df) { case (acc, (n, k)) =>
      acc.withColumn(n, k)
    }
    new BatchStage(withKeys.dropDuplicates(hidden).drop(hidden: _*))
  }

  /** Skew-safe two-phase aggregation for ops WITHOUT map-side combine (exact
    * distinct, collect-based accumulators): rows are first aggregated on
    * (key, salt) where the salt is derived from the VALUE column — a hot key's
    * values spread over `salts` disjoint reducers — then the per-salt partials
    * are merged on the key alone. Deriving the salt from `saltOn` (not a random
    * number) keeps each distinct value in exactly one slice, so
    * distinct-within-slice sums to distinct-overall. The caller supplies both
    * phases because merging is op-specific (count_distinct→sum, min→min, …).
    *
    * Combinable aggs don't need this: Spark's partial aggregation already
    * bounds reducer input at one row per map partition per key. Jet has no
    * answer to either case (one partition per key, GroupP.java:45). Join-side
    * skew is AQE's job (skewJoin.enabled, on by default in GraftSession).
    */
  def aggregateSalted(saltOn: Column, partial: AggOp, merge: AggOp,
                      salts: Int = 16): BatchStage[Row] = {
    val salted = df.withColumn("__salt", pmod(hash(saltOn), lit(salts)))
    val phase1 = salted.groupBy(keys :+ col("__salt"): _*)
      .agg(partial.columns.head, partial.columns.tail: _*)
    new BatchStage(phase1.groupBy(keys: _*).agg(merge.columns.head, merge.columns.tail: _*))
  }
}

/** Accumulator for `BatchStageWithKey.aggregateBuilder` (Jet GrAggBuilder,
  * pipeline/GrAggBuilder.java): `add` any number of keyed stages, `build`
  * joins their compact per-key aggregates. Immutable — each `add` returns a
  * new builder, so a partially-built chain can be shared/branched safely.
  */
final class CoAggBuilder private[pipeline] (
    first: BatchStageWithKey, keyNames: Seq[String], aggs: Vector[DataFrame]) {

  def add(s: BatchStageWithKey, op: AggOp): CoAggBuilder = {
    val raw = s.aggregate(op).toDF
    val aligned = raw.toDF(keyNames ++ raw.columns.drop(keyNames.size): _*)
    new CoAggBuilder(first, keyNames, aggs :+ aligned)
  }

  /** Full-outer-join chain over the per-key aggregates: a key present in ANY
    * input appears once, with NULLs where an input lacks it (Jet ItemsByTag
    * semantics: absent tag → null).
    */
  def build(): BatchStage[org.apache.spark.sql.Row] =
    new BatchStage(aggs.reduce(_.join(_, keyNames, "full_outer")))
}

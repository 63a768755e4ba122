package graft.core

import scala.collection.mutable

/** The core-API analog of Jet's `AggregateOperation1` (reference:
  * hazelcast-jet-core/src/main/java/com/hazelcast/jet/aggregate/
  * AggregateOperation.java): create / accumulate / combine / export. Pure
  * functions rather than mutating accumulators — the Scala idiom; the
  * two-stage algebra (accumulate locally, combine after the partitioned
  * shuffle) is identical and is what makes `accumulateByKeyP` +
  * `combineByKeyP` correct under any partitioning of the first stage.
  */
final case class AggregateOp[A, R](
    createFn: () => A,
    accumulateFn: (A, Any) => A,
    combineFn: (A, A) => A,
    exportFn: A => R)
    extends Serializable

object AggregateOp {
  /** AggregateOperations.counting(). */
  def counting: AggregateOp[Long, Long] =
    AggregateOp(() => 0L, (a, _) => a + 1L, _ + _, identity)

  /** AggregateOperations.summingLong(getFn). */
  def summingLong(getFn: Any => Long): AggregateOp[Long, Long] =
    AggregateOp(() => 0L, (a, t) => a + getFn(t), _ + _, identity)

  /** AggregateOperations.summingDouble(getFn). */
  def summingDouble(getFn: Any => Double): AggregateOp[Double, Double] =
    AggregateOp(() => 0.0, (a, t) => a + getFn(t), _ + _, identity)

  /** AggregateOperations.toList(). */
  def toList: AggregateOp[List[Any], List[Any]] =
    AggregateOp(() => Nil, (a, t) => t :: a, (x, y) => y ::: x, _.reverse)
}

/** Jet's built-in processor factories (reference: hazelcast-jet-core/src/main/
  * java/com/hazelcast/jet/core/processor/Processors.java). Each returns a
  * `() => Processor` — the `SupplierEx<Processor>` shape `Vertex` takes — and
  * implements the same two-stage aggregation protocol the reference documents
  * at Processors.java:60-120 (accumulate on a local edge, combine after the
  * distributed partitioned edge).
  */
object Processors {

  /** Processors.java:694 `mapP`. The computed result is stashed across outbox
    * rejection so `mapFn` runs exactly once per item even when the driver
    * re-offers it (the reference holds it in a ResettableSingletonTraverser
    * for the same reason — a side-effecting or nondeterministic fn must not
    * re-run).
    */
  def mapP[T, R](mapFn: T => R): () => Processor = () =>
    new AbstractProcessor {
      private var pending: Any = _
      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        if (pending == null) {
          val r = mapFn(item.asInstanceOf[T])
          if (r == null) return true // null = drop, per FunctionEx contract
          pending = r
        }
        val ok = tryEmit(pending)
        if (ok) pending = null
        ok
      }
    }

  /** Processors.java:714 `filterP`. The pass verdict is stashed across outbox
    * rejection so `filterFn` runs exactly once per item (same contract as
    * [[mapP]]).
    */
  def filterP[T](filterFn: T => Boolean): () => Processor = () =>
    new AbstractProcessor {
      private var pending: Any = _
      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        if (pending == null) {
          if (!filterFn(item.asInstanceOf[T])) return true
          pending = item
        }
        val ok = tryEmit(pending)
        if (ok) pending = null
        ok
      }
    }

  /** Processors.java:734 `flatMapP`: emits via the pending-traverser protocol
    * so outbox rejection suspends mid-traverser without loss.
    */
  def flatMapP[T, R](flatMapFn: T => Traverser[R]): () => Processor = () =>
    new AbstractProcessor {
      private var outstanding: Traverser[R] = _
      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        if (outstanding == null) outstanding = flatMapFn(item.asInstanceOf[T])
        val done = emitFromTraverser(outstanding)
        if (done) outstanding = null
        done
      }
    }

  /** Processors.java:987 `sortP`: buffers all input, emits sorted in complete()
    * — same blocking shape as the reference (sort is inherently a barrier).
    */
  def sortP[T](ord: Ordering[T]): () => Processor = () =>
    new AbstractProcessor {
      private val buf = mutable.ArrayBuffer.empty[T]
      private var emit: Traverser[T] = _
      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        buf += item.asInstanceOf[T]; true
      }
      override def complete(): Boolean = {
        if (emit == null) emit = Traversers.traverseIterable(buf.sorted(ord))
        emitFromTraverser(emit)
      }
    }

  /** Processors.java:997 `noopP`. */
  def noopP(): () => Processor = () =>
    new AbstractProcessor {
      override protected def tryProcess(ordinal: Int, item: Any): Boolean = true
    }

  /** SourceProcessors-style bounded item source (reference:
    * core/processor/SourceProcessors.java / TestSources): emits the iterable
    * from complete(). Run it at localParallelism(1), like Jet's
    * non-distributed test sources.
    */
  def itemsP(items: Iterable[Any]): () => Processor = () =>
    new AbstractProcessor {
      private var emit: Traverser[Any] = _
      override def process(ordinal: Int, inbox: Inbox): Unit = inbox.clear()
      override def complete(): Boolean = {
        if (emit == null)
          emit =
            if (getContext.globalProcessorIndex == 0)
              Traversers.traverseIterable(items)
            else Traversers.empty
        emitFromTraverser(emit)
      }
    }

  // ----------------------------------------------------------------- aggregation

  /** Processors.java:240 `aggregateP`: single-stage full aggregation (use on an
    * allToOne edge, exactly as the reference documents).
    */
  def aggregateP[A, R](op: AggregateOp[A, R]): () => Processor = () =>
    new AbstractProcessor {
      private var acc: A = _
      private var seeded = false
      private var emitted = false
      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        if (!seeded) { acc = op.createFn(); seeded = true }
        acc = op.accumulateFn(acc, item)
        true
      }
      override def complete(): Boolean = {
        if (emitted) true
        else {
          if (!seeded) { acc = op.createFn(); seeded = true }
          emitted = tryEmit(op.exportFn(acc))
          emitted
        }
      }
    }

  /** Processors.java:353 `accumulateByKeyP`: stage 1 grouped — emits
    * (key, accumulator) pairs for the combine stage.
    */
  def accumulateByKeyP[K, A](
      keyFn: Any => K,
      op: AggregateOp[A, _]): () => Processor = () =>
    new GroupByKeyProcessor[K, A](keyFn, (a, t) => op.accumulateFn(a, t), op.createFn) {
      override protected def exportEntry(k: K, a: A): Any = (k, a)
    }

  /** Processors.java:384 `combineByKeyP`: stage 2 grouped — input is
    * (key, accumulator) from stage 1, routed by a partitioned edge on the key.
    */
  def combineByKeyP[K, A, R](
      op: AggregateOp[A, R],
      exportFn: (K, R) => Any): () => Processor = () =>
    new GroupByKeyProcessor[K, A](
      item => item.asInstanceOf[(K, A)]._1,
      (a, t) => op.combineFn(a, t.asInstanceOf[(K, A)]._2),
      op.createFn) {
      override protected def exportEntry(k: K, a: A): Any = exportFn(k, op.exportFn(a))
    }

  /** Processors.java:768 `mapStatefulP` (keyed, batch scope): per-key state
    * map, one output per input. The state transition commits only AFTER the
    * emit is accepted: `mapFn` computes `(s2, r)` once, `r` is held in a
    * pending slot across outbox rejection, and `s2` is written back when the
    * outbox takes `r`. Without this, a rejected emit re-offers the item
    * against the already-updated state and double-applies it (e.g. a running
    * sum double-counts) whenever `outboxCapacity` is smaller than a chunk.
    */
  def mapStatefulP[K, S, R](
      keyFn: Any => K,
      createFn: () => S,
      mapFn: (S, K, Any) => (S, R)): () => Processor = () =>
    new AbstractProcessor {
      private val state = mutable.HashMap.empty[K, S]
      private var pendingOut: Any = _
      private var pendingKey: K = _
      private var pendingState: S = _
      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        if (pendingOut == null) {
          val k = keyFn(item)
          val (s2, r) = mapFn(state.getOrElse(k, createFn()), k, item)
          if (r == null) { state.update(k, s2); return true } // drop: commit now
          pendingOut = r; pendingKey = k; pendingState = s2
        }
        val ok = tryEmit(pendingOut)
        if (ok) {
          state.update(pendingKey, pendingState)
          pendingOut = null
          pendingKey = null.asInstanceOf[K]
          pendingState = null.asInstanceOf[S]
        }
        ok
      }
    }

  // ------------------------------------------------------------- event time

  /** Jet `insertWatermarksP` (impl/processor/InsertWatermarksP.java +
    * EventTimePolicy.eventTimePolicy): tracks the top observed timestamp,
    * emits `Watermark(top - lag)` THROTTLED to frame boundaries (at most one
    * watermark per `throttleFrame` advance — EventTimePolicy's
    * watermarkThrottlingFrameSize), then the item itself. Emits a final
    * `Watermark(Long.MaxValue)` from complete() so bounded runs flush every
    * open window — the bounded analog of Jet's idle-timeout IDLE_MESSAGE.
    */
  def insertWatermarksP[T](tsFn: T => Long, lag: Long,
                           throttleFrame: Long): () => Processor = () =>
    new AbstractProcessor {
      require(throttleFrame > 0, s"throttleFrame must be positive: $throttleFrame")
      private var topTs = Long.MinValue
      private var lastWm = Long.MinValue
      private var wmToEmit: Watermark = _
      private var itemToEmit: Any = _
      private var flushed = false
      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        if (wmToEmit == null && itemToEmit == null) {
          val ts = tsFn(item.asInstanceOf[T])
          if (ts > topTs) topTs = ts
          val cand = Math.floorDiv(topTs - lag, throttleFrame) * throttleFrame
          if (cand > lastWm) { wmToEmit = Watermark(cand); lastWm = cand }
          itemToEmit = item
        }
        if (wmToEmit != null) {
          if (!tryEmit(wmToEmit)) return false
          wmToEmit = null
        }
        if (!tryEmit(itemToEmit)) return false
        itemToEmit = null
        true
      }
      override def complete(): Boolean = {
        if (!flushed) flushed = tryEmit(Watermark(Long.MaxValue))
        flushed
      }
    }

  /** Jet `accumulateByFrameP` (core/processor/Processors.java:474): stage 1
    * of the two-stage windowed aggregation. Events accumulate into
    * (frameEnd, key) cells; each coalesced watermark CLOSES the frames whose
    * end it passed and emits their partial accumulators as
    * `(frameEnd, key, acc)` — answer-sized, ready for the partitioned edge to
    * [[combineToSlidingWindowP]]. Events whose frame a watermark already
    * closed are dropped (the reference's lateEventsDropped path).
    */
  def accumulateByFrameP[K, A](
      keyFn: Any => K,
      tsFn: Any => Long,
      frameLen: Long,
      op: AggregateOp[A, _]): () => Processor = () =>
    new AbstractProcessor {
      require(frameLen > 0, s"frameLen must be positive: $frameLen")
      private val frames = mutable.TreeMap.empty[Long, mutable.LinkedHashMap[K, A]]
      private var wm = Long.MinValue
      private var emit: Traverser[Any] = _

      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        val ts = tsFn(item)
        val frameEnd = Math.floorDiv(ts, frameLen) * frameLen + frameLen
        if (frameEnd <= wm) true // late event: its frame already closed
        else {
          val cell = frames.getOrElseUpdate(frameEnd, mutable.LinkedHashMap.empty)
          val k = keyFn(item)
          cell.update(k, op.accumulateFn(cell.getOrElse(k, op.createFn()), item))
          true
        }
      }

      private def flushClosed(upTo: Long): Boolean = {
        if (emit == null) {
          if (upTo > wm) wm = upTo
          val closed = frames.rangeTo(wm).toVector
          closed.foreach { case (fe, _) => frames.remove(fe) }
          emit = Traversers.traverseIterator(closed.iterator.flatMap {
            case (fe, cell) => cell.iterator.map { case (k, a) => (fe, k, a) }
          })
        }
        val done = emitFromTraverser(emit)
        if (done) emit = null
        done
      }

      override def tryProcessWatermark(watermark: Watermark): Boolean =
        flushClosed(watermark.timestamp)
      override def complete(): Boolean = flushClosed(Long.MaxValue)
    }

  /** Jet `combineToSlidingWindowP` (core/processor/Processors.java:528):
    * stage 2 — combines the frame partials arriving from every upstream
    * instance (input `(frameEnd, key, acc)`, routed by a partitioned edge on
    * the key) and, per watermark advance, emits one result row per window
    * whose end the watermark passed: `exportFn(windowEnd, key, result)`.
    * `windowLen` must be a multiple of `frameLen`; tumbling = equal. Frames
    * evict as soon as no future window can need them — the memory bound is
    * (windowLen / frameLen) frames per key, the same bound the reference's
    * sliding-window processor documents.
    */
  def combineToSlidingWindowP[K, A, R](
      frameLen: Long,
      windowLen: Long,
      op: AggregateOp[A, R],
      exportFn: (Long, K, R) => Any,
      earlyResultsPeriod: Long = 0L): () => Processor = () =>
    new AbstractProcessor {
      require(frameLen > 0 && windowLen >= frameLen && windowLen % frameLen == 0,
        s"windowLen ($windowLen) must be a positive multiple of frameLen ($frameLen)")
      private val frames = mutable.TreeMap.empty[Long, mutable.LinkedHashMap[K, A]]
      private var emittedUpTo = Long.MinValue
      private var emit: Traverser[Any] = _
      private var lastEarly = System.currentTimeMillis()
      private var earlyEmit: Traverser[Any] = _

      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        val (fe, k, a) = item.asInstanceOf[(Long, K, A)]
        val cell = frames.getOrElseUpdate(fe, mutable.LinkedHashMap.empty)
        cell.update(k, cell.get(k).map(op.combineFn(_, a)).getOrElse(a))
        true
      }

      /** Early results (SlidingWindowP.java:184-192): on the processing-time
        * cadence, emit the CURRENT partial of every window the watermark has
        * not yet closed, wrapped in [[EarlyResult]]. Never advances
        * `emittedUpTo`, never evicts — finals are byte-identical to a run
        * with the period off.
        */
      override def tryProcess(): Boolean = {
        if (earlyResultsPeriod <= 0) return true
        if (earlyEmit == null) {
          val now = System.currentTimeMillis()
          if (now - lastEarly < earlyResultsPeriod || frames.isEmpty) return true
          lastEarly = now
          val outs = Vector.newBuilder[Any]
          val lastUseful = frames.lastKey + windowLen - frameLen
          var we =
            if (emittedUpTo == Long.MinValue) frames.firstKey
            else emittedUpTo + frameLen
          while (we <= lastUseful) {
            val contributing = frames.range(we - windowLen + 1, we + 1)
            if (contributing.nonEmpty) {
              val perKey = mutable.LinkedHashMap.empty[K, A]
              contributing.valuesIterator.foreach(_.foreach { case (k, a) =>
                perKey.update(k, perKey.get(k).map(op.combineFn(_, a)).getOrElse(a))
              })
              perKey.foreach { case (k, a) =>
                outs += EarlyResult(exportFn(we, k, op.exportFn(a)))
              }
            }
            we += frameLen
          }
          earlyEmit = Traversers.traverseIterable(outs.result())
        }
        val done = emitFromTraverser(earlyEmit)
        if (done) earlyEmit = null
        done
      }

      private def windowsThrough(upTo: Long): Boolean = {
        if (emit == null) {
          if (frames.isEmpty) return true
          // window ends advance one frame at a time; the last window any
          // present frame can contribute to ends at lastKey + windowLen - frameLen
          val lastUseful = frames.lastKey + windowLen - frameLen
          val cap = if (upTo >= lastUseful) lastUseful else upTo
          var we =
            if (emittedUpTo == Long.MinValue) frames.firstKey
            else emittedUpTo + frameLen
          val outs = Vector.newBuilder[Any]
          while (we <= cap) {
            val lo = we - windowLen // exclusive
            val contributing = frames.range(lo + 1, we + 1) // (lo, we]
            if (contributing.nonEmpty) {
              val perKey = mutable.LinkedHashMap.empty[K, A]
              contributing.valuesIterator.foreach(_.foreach { case (k, a) =>
                perKey.update(k, perKey.get(k).map(op.combineFn(_, a)).getOrElse(a))
              })
              perKey.foreach { case (k, a) => outs += exportFn(we, k, op.exportFn(a)) }
            }
            // frames that can serve no window after `we` are done
            frames.rangeTo(we - windowLen + frameLen).keySet.toVector
              .foreach(frames.remove)
            emittedUpTo = we
            we += frameLen
          }
          emit = Traversers.traverseIterable(outs.result())
        }
        val done = emitFromTraverser(emit)
        if (done) emit = null
        done
      }

      override def tryProcessWatermark(watermark: Watermark): Boolean =
        windowsThrough(watermark.timestamp)
      override def complete(): Boolean = windowsThrough(Long.MaxValue)
    }

  /** Jet `aggregateToSessionWindowP` (core/processor/Processors.java:640,
    * impl SessionWindowP.java): single-stage keyed session windows behind a
    * partitioned edge. An event claims the interval
    * `[ts, ts + sessionTimeout)`; it joins every existing session whose span
    * it overlaps (STRICT overlap — an event starting exactly at a session's
    * end opens a NEW session, matching Spark's `session_window` and the
    * reference), merging up to two bridged sessions into one. A session
    * emits `exportFn(start, end, key, result)` once the coalesced watermark
    * passes its end (= last event + timeout). Events below the watermark are
    * dropped late (matching Spark's `session_window` and the reference — an
    * event with ts < wm could otherwise open a new session overlapping one
    * already emitted, yielding two overlapping sessions for a key).
    */
  def aggregateToSessionWindowP[K, A, R](
      sessionTimeout: Long,
      tsFn: Any => Long,
      keyFn: Any => K,
      op: AggregateOp[A, R],
      exportFn: (Long, Long, K, R) => Any,
      earlyResultsPeriod: Long = 0L): () => Processor = () =>
    new SessionSpanProcessor[K, A](op.createFn, op.combineFn) {
      require(sessionTimeout > 0, s"sessionTimeout must be positive: $sessionTimeout")

      override def tryProcess(): Boolean = tryEmitEarly(earlyResultsPeriod)

      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        val ts = tsFn(item)
        if (ts < wm)
          return true // late: below the watermark — a session ending <= wm may
                      // already have been emitted; accepting would overlap it
        insertSpan(keyFn(item), ts, ts + sessionTimeout,
          a => op.accumulateFn(a, item))
        true
      }

      override protected def export(start: Long, end: Long, k: K, acc: A): Any =
        exportFn(start, end, k, op.exportFn(acc))

      override def tryProcessWatermark(watermark: Watermark): Boolean =
        flushDue(watermark.timestamp)
      override def complete(): Boolean = flushDue(Long.MaxValue)
    }

  /** Local session PRE-MERGE — the map-side combine for session windows
    * (no Jet counterpart: SessionWindowP.java is single-stage, but nothing
    * forbids a partial stage — session merge is associative via `combineFn`).
    * Runs BEFORE the partitioned edge on the source's own partitioning:
    * events accumulate into per-key session spans exactly as the full
    * processor would, and on EVERY watermark ALL spans (open and closed)
    * flush downstream as fragments `(start, end, key, acc)` and local state
    * clears. Flushing everything is what keeps the watermark contract: the
    * driver forwards a watermark only after the processor's outputs, so no
    * fragment is ever held back past a forwarded watermark — downstream
    * merges fragments with the same guarantees it had for raw events.
    *
    * Scale: the partitioned edge now carries ~(keys × active sessions per
    * watermark interval) fragments instead of every event — the q174
    * frame-partial trick applied to sessions (measured 12.5× fewer shuffled
    * bytes on dense-session traffic, BASELINE.md "Round 13: DAG session
    * windows made scale-safe").
    *
    * Late-drop nuance vs the single-stage form: this stage drops events
    * below its OWN partition's watermark, while the single-stage processor
    * drops below the COALESCED (min-across-senders) clock — so the
    * two-stage form is strictly more aggressive on disorder beyond the
    * configured lag WITHIN a partition. Both sit inside the same bounded-
    * disorder contract (events later than the lag may drop, Jet's
    * EventTimePolicy); sources that honor the lag see identical results
    * (DagCoreSpec pins the equivalence).
    */
  def sessionPreMergeP[K, A](
      sessionTimeout: Long,
      tsFn: Any => Long,
      keyFn: Any => K,
      op: AggregateOp[A, _]): () => Processor = () =>
    new SessionSpanProcessor[K, A](op.createFn, op.combineFn) {
      require(sessionTimeout > 0, s"sessionTimeout must be positive: $sessionTimeout")
      private var emitAll: Traverser[Any] = _

      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        val ts = tsFn(item)
        if (ts < wm) return true // same late-drop contract as the full stage
        insertSpan(keyFn(item), ts, ts + sessionTimeout,
          a => op.accumulateFn(a, item))
        true
      }

      override protected def export(start: Long, end: Long, k: K, acc: A): Any =
        (start, end, k, acc)

      private def flushAll(upTo: Long): Boolean = {
        if (emitAll == null) {
          if (upTo > wm) wm = upTo
          val frags = Vector.newBuilder[Any]
          sessions.foreach { case (k, m) =>
            m.foreach { case (s, (e, a)) => frags += ((s, e, k, a)) }
          }
          sessions.clear()
          byEnd.clear()
          emitAll = Traversers.traverseIterable(frags.result())
        }
        val done = emitFromTraverser(emitAll)
        if (done) emitAll = null
        done
      }

      override def tryProcessWatermark(watermark: Watermark): Boolean =
        flushAll(watermark.timestamp)
      override def complete(): Boolean = flushAll(Long.MaxValue)
    }

  /** Downstream half of the two-stage session topology: merges
    * [[sessionPreMergeP]] fragments `(start, end, key, acc)` by strict span
    * overlap with `combineFn`, emitting closed sessions as the coalesced
    * watermark passes their end — identical session semantics to
    * [[aggregateToSessionWindowP]] (growth, strict boundary, bridge-merge,
    * late drop), proven by sharing its span machinery and its oracle (q176).
    *
    * State bound under watermark SKEW: sessions flush only when the
    * COALESCED (min-across-senders) watermark passes their end, so a sender
    * whose event time lags holds every faster sender's pending sessions
    * live — memory is O(pending sessions), inherent to min-watermark
    * semantics (Jet and Spark buffer identically under skew). The span
    * index keeps inserts O(log pending) regardless, but a deployment with
    * structurally skewed sources (e.g. a cold backfill partition next to a
    * live one) should align source time ranges or raise parallelism so
    * skewed senders don't share a receiver.
    */
  def combineSessionFragmentsP[K, A, R](
      op: AggregateOp[A, R],
      exportFn: (Long, Long, K, R) => Any,
      earlyResultsPeriod: Long = 0L): () => Processor = () =>
    new SessionSpanProcessor[K, A](op.createFn, op.combineFn) {
      override def tryProcess(): Boolean = tryEmitEarly(earlyResultsPeriod)

      override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
        val (lo, hi, k, acc) = item.asInstanceOf[(Long, Long, K, A)]
        if (lo < wm) return true // unreachable under the pre-merge contract
                                 // (fragments precede their sender's wm);
                                 // kept as the same late-drop rule
        insertSpan(k, lo, hi, a => op.combineFn(a, acc))
        true
      }

      override protected def export(start: Long, end: Long, k: K, acc: A): Any =
        exportFn(start, end, k, op.exportFn(acc))

      override def tryProcessWatermark(watermark: Watermark): Boolean =
        flushDue(watermark.timestamp)
      override def complete(): Boolean = flushDue(Long.MaxValue)
    }

  /** Shared span-merge machinery of the session family: per key, disjoint
    * spans ordered by start (`start -> (end, acc)`); `byEnd` indexes live
    * spans by end so a watermark flush touches only the CLOSING spans, never
    * scans all keys — with W watermarks and K keys the naive scan is O(W·K)
    * (measured: the 100× ScaleTrend run spent its time there); this is
    * O(inserts·log + closed). A span claims `[lo, hi)` and merges every
    * STRICTLY overlapping span (s < hi && e > lo) — an insert starting
    * exactly at a span's end opens a NEW span, matching Spark's
    * `session_window` and the reference.
    */
  private abstract class SessionSpanProcessor[K, A](
      create: () => A,
      combine: (A, A) => A)
      extends AbstractProcessor {
    protected val sessions =
      mutable.HashMap.empty[K, mutable.TreeMap[Long, (Long, A)]]
    protected val byEnd = mutable.TreeMap.empty[Long, mutable.HashSet[K]]
    protected var wm = Long.MinValue
    private var emit: Traverser[Any] = _

    /** The item a closed span becomes when flushed. */
    protected def export(start: Long, end: Long, k: K, acc: A): Any

    private var lastEarly = System.currentTimeMillis()
    private var earlyEmit: Traverser[Any] = _

    /** Early results (SessionWindowP's earlyWinTraverser): on the
      * processing-time cadence, emit every LIVE span's current partial
      * wrapped in [[EarlyResult]]. State untouched — finals unchanged.
      * Call from the niladic `tryProcess()` of processors that opt in.
      */
    protected final def tryEmitEarly(period: Long): Boolean = {
      if (period <= 0) return true
      if (earlyEmit == null) {
        val now = System.currentTimeMillis()
        if (now - lastEarly < period || sessions.isEmpty) return true
        lastEarly = now
        val outs = Vector.newBuilder[Any]
        sessions.foreach { case (k, m) =>
          m.foreach { case (s, (e, a)) => outs += EarlyResult(export(s, e, k, a)) }
        }
        earlyEmit = Traversers.traverseIterable(outs.result())
      }
      val done = emitFromTraverser(earlyEmit)
      if (done) earlyEmit = null
      done
    }

    private def indexAdd(end: Long, k: K): Unit = {
      byEnd.getOrElseUpdate(end, mutable.HashSet.empty).add(k); ()
    }
    private def indexRemove(end: Long, k: K): Unit =
      byEnd.get(end).foreach { s =>
        s.remove(k)
        if (s.isEmpty) byEnd.remove(end)
      }

    protected final def insertSpan(
        k: K, lo: Long, hi: Long, contribute: A => A): Unit = {
      val m = sessions.getOrElseUpdate(k, mutable.TreeMap.empty)
      // overlapping spans: start < hi && end > lo. Spans are DISJOINT, so
      // the overlap set is the predecessor span (greatest start <= lo, iff
      // its end reaches past lo) plus every span starting inside (lo, hi) —
      // O(log n + overlaps), never a scan of all spans with start < hi
      // (under watermark skew a key legitimately holds MANY pending spans;
      // the full rangeTo scan made inserts O(spans) each — measured as the
      // whole q176 100× wall, 4370 task-seconds in this iterator).
      val overlapping =
        m.rangeTo(lo).lastOption.filter { case (s, (e, _)) => s < hi && e > lo }
          .toVector ++
        m.range(lo + 1, hi).toVector
      var start = lo
      var end = hi
      var acc = create()
      overlapping.foreach { case (s, (e, a)) =>
        m.remove(s)
        indexRemove(e, k)
        if (s < start) start = s
        if (e > end) end = e
        acc = combine(acc, a)
      }
      m.update(start, (end, contribute(acc)))
      indexAdd(end, k)
    }

    /** Flush spans whose end the watermark passed (suspendable). */
    protected final def flushDue(upTo: Long): Boolean = {
      if (emit == null) {
        if (upTo > wm) wm = upTo
        val closed = Vector.newBuilder[Any]
        val dueEnds = byEnd.rangeTo(wm).keySet.toVector
        dueEnds.foreach { e =>
          byEnd.remove(e).foreach(_.foreach { k =>
            sessions.get(k).foreach { m =>
              // spans are disjoint with end > start, so the span ending at e
              // is the one with the greatest start below e — O(log n), not a
              // linear scan (the scan was quadratic under watermark skew)
              m.rangeUntil(e).lastOption.filter { case (_, (end, _)) => end == e }
                .foreach { case (s, (_, a)) =>
                  m.remove(s)
                  closed += export(s, e, k, a)
                }
              if (m.isEmpty) sessions.remove(k)
            }
          })
        }
        emit = Traversers.traverseIterable(closed.result())
      }
      val done = emitFromTraverser(emit)
      if (done) emit = null
      done
    }
  }

  /** Shared hash-grouping core of the *ByKeyP family (the reference's
    * GroupP, core/processor/.../GroupP.java): accumulate into a hash map,
    * emit entries from complete() via a suspendable traverser.
    */
  private abstract class GroupByKeyProcessor[K, A](
      keyFn: Any => K,
      accumulate: (A, Any) => A,
      create: () => A)
      extends AbstractProcessor {
    private val groups = mutable.LinkedHashMap.empty[K, A]
    private var emit: Traverser[Any] = _

    protected def exportEntry(k: K, a: A): Any

    override protected def tryProcess(ordinal: Int, item: Any): Boolean = {
      val k = keyFn(item)
      groups.update(k, accumulate(groups.getOrElse(k, create()), item))
      true
    }

    override def complete(): Boolean = {
      if (emit == null)
        emit = Traversers
          .traverseIterator(groups.iterator.map { case (k, a) => exportEntry(k, a) })
      emitFromTraverser(emit)
    }
  }
}

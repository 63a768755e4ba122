package graft.core

/** The cooperative batch essence of Jet's `Processor` contract (reference:
  * hazelcast-jet-core/src/main/java/com/hazelcast/jet/core/Processor.java:98).
  *
  * Kept faithful: items arrive through an `Inbox` per inbound-edge ordinal, the
  * processor may leave items in the inbox when its `Outbox` stops accepting
  * (backpressure), `completeEdge(ordinal)`/`complete()` return false to be
  * called again after the outbox drains, and `close()` always runs. What is
  * deliberately NOT carried over: watermark/snapshot callbacks — in this engine
  * streaming state and fault tolerance belong to Structured Streaming
  * (SURVEY.md §3.3), and the DAG layer executes BOUNDED stages; the streaming
  * escape hatch remains `customTransform`/`streamFromProcessor`.
  *
  * Execution: `DagExecutor` drives one Processor instance per Spark partition
  * inside `mapPartitions` — the exact analog of Jet's one-instance-per-tasklet,
  * with Spark tasks playing the tasklets.
  */
trait Processor extends Serializable {

  /** Processor.java:158. Called once, before any process call. */
  def init(outbox: Outbox, context: Processor.Context): Unit = ()

  /** Processor.java:198 — the niladic form: called repeatedly BETWEEN inbox
    * chunks (and while input is quiet), independent of data arrival. "A good
    * time to emit early results" per the reference's contract — the window
    * processors' `earlyResultsPeriod` hook (SlidingWindowP.java:184-192,
    * SessionWindowP's earlyWinTraverser). Return false to be called again
    * after an outbox drain.
    *
    * CONTRACT NARROWING vs the reference: this executor is synchronous (no
    * tasklet scheduler to yield to), so `false` is only legal when the outbox
    * holds pending items — false-with-empty-outbox would mean "retry with
    * nothing drained and no time advanced", an infinite loop, and the
    * executor fails fast on it instead ([[DagExecutor]]'s `stuck`). A
    * processor merely waiting (e.g. an early-results cadence that hasn't
    * elapsed) must return `true`; every in-repo implementation does.
    */
  def tryProcess(): Boolean = true

  /** Processor.java:181. Consume as much of `inbox` as possible; items left
    * behind are re-offered after the outbox drains.
    */
  def process(ordinal: Int, inbox: Inbox): Unit

  /** Processor.java:239. Called when an inbound edge is exhausted; return false
    * to be called again (after an outbox drain).
    */
  def completeEdge(ordinal: Int): Boolean = true

  /** Processor.java:262. Called after all edges complete; return false to be
    * called again (after an outbox drain).
    */
  def complete(): Boolean = true

  /** Processor.java:316 `tryProcessWatermark`: a coalesced watermark reached
    * this processor (the executor coalesces per-sender watermarks to their
    * minimum first, like Jet's WatermarkCoalescer). Return false to be called
    * again after an outbox drain. The executor forwards the watermark
    * downstream automatically once accepted — matching AbstractProcessor's
    * automatic forwarding in the reference.
    */
  def tryProcessWatermark(watermark: Watermark): Boolean = true

  /** Processor.java:453. Always called, also on failure. */
  def close(): Unit = ()
}

/** Jet `Watermark` (core/Watermark.java): a control item asserting no further
  * events with timestamp < `timestamp` will arrive on this stream. Flows
  * in-band on edges; the executor envelopes it per sender, replicates it
  * across partitioned edges, and coalesces at the receiver.
  */
final case class Watermark(timestamp: Long)

/** An EARLY (speculative) window result — Jet's `WindowResult.isEarly()`
  * flag as a wrapper item: the current partial of a window the watermark has
  * NOT yet closed, emitted on the `earlyResultsPeriod` cadence. The final
  * result for the same window follows unwrapped and unchanged; consumers that
  * don't opt in never see one (period 0 = off, the default).
  */
final case class EarlyResult(item: Any)

object Processor {

  /** Subset of Jet's `Processor.Context` (Processor.java; impl in
    * ProcCtx): identity of this parallel instance.
    */
  final case class Context(
      vertexName: String,
      globalProcessorIndex: Int,
      totalParallelism: Int)
}

/** Jet `Inbox` (core/Inbox.java): the batch of pending items on one ordinal.
  * Backed by the partition iterator segment the executor carved out; `poll`
  * consumes, `peek` doesn't, `clear` drops the rest (Inbox.java contract).
  */
final class Inbox private[core] (capacity: Int) {
  private val queue = new java.util.ArrayDeque[Any](capacity)

  private[core] def add(item: Any): Unit = queue.add(item)

  def peek(): Any = queue.peek()
  def poll(): Any = queue.poll()
  def remove(): Any = queue.remove()
  def isEmpty: Boolean = queue.isEmpty
  def size: Int = queue.size
  def clear(): Unit = queue.clear()
}

/** Jet `Outbox` (core/Outbox.java): bounded buffer between a processor and its
  * outbound edge. `offer` returning false IS the backpressure signal — the
  * executor drains the buffer into the downstream iterator and re-enters the
  * processor, exercising the same cooperative protocol Jet's tasklets run.
  */
final class Outbox private[core] (capacity: Int) {
  private val queue = new java.util.ArrayDeque[Any](capacity)

  /** Outbox.java:71: accepts unless the buffer is at capacity. */
  def offer(item: Any): Boolean =
    if (queue.size >= capacity) false
    else { queue.add(item); true }

  def batchSize: Int = capacity

  private[core] def isEmpty: Boolean = queue.isEmpty
  private[core] def poll(): Any = queue.poll()
}

/** Jet `AbstractProcessor` (core/AbstractProcessor.java): the convenience base
  * — item-at-a-time `tryProcess`, `tryEmit`, and `emitFromTraverser` with the
  * pending-item stash (AbstractProcessor.java keeps the item that the outbox
  * rejected and re-offers it first on the next call).
  */
abstract class AbstractProcessor extends Processor {
  private var _outbox: Outbox = _
  private var _context: Processor.Context = _
  private var pendingItem: Any = _

  protected final def getOutbox: Outbox = _outbox
  protected final def getContext: Processor.Context = _context

  override final def init(outbox: Outbox, context: Processor.Context): Unit = {
    _outbox = outbox
    _context = context
    init(context)
  }

  /** Subclass init hook (AbstractProcessor.java:86). */
  protected def init(context: Processor.Context): Unit = ()

  override def process(ordinal: Int, inbox: Inbox): Unit = {
    var progressing = true
    while (progressing && !inbox.isEmpty) {
      progressing = tryProcess(ordinal, inbox.peek())
      if (progressing) inbox.remove()
    }
  }

  /** AbstractProcessor.java:131: handle one item; return false to have it
    * re-offered after the outbox drains.
    */
  protected def tryProcess(ordinal: Int, item: Any): Boolean =
    throw new UnsupportedOperationException(
      s"missing tryProcess implementation on ordinal $ordinal")

  /** AbstractProcessor.java:271 `tryEmit`. */
  protected final def tryEmit(item: Any): Boolean = _outbox.offer(item)

  /** AbstractProcessor.java:376 `emitFromTraverser`: drains `t` into the
    * outbox; on rejection stashes the item and returns false, resuming from
    * the stash next call.
    */
  protected final def emitFromTraverser[T](t: Traverser[T]): Boolean = {
    if (pendingItem != null) {
      if (!_outbox.offer(pendingItem)) return false
      pendingItem = null
    }
    var item = t.next()
    while (item != null) {
      if (!_outbox.offer(item)) { pendingItem = item; return false }
      item = t.next()
    }
    true
  }
}

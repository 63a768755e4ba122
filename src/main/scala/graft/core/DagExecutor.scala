package graft.core

import org.apache.spark.{HashPartitioner, Partitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Compiles a [[DAG]] to Spark — the analog of the reference's
  * ExecutionPlanBuilder (hazelcast-jet-core/src/main/java/com/hazelcast/jet/
  * impl/execution/init/ExecutionPlanBuilder.java), re-expressed on RDD
  * primitives:
  *
  *   - vertex        → one `mapPartitions` stage; one Processor instance per
  *                     partition (Jet: one per tasklet), localParallelism →
  *                     partition count
  *   - unicast edge  → keep/rebalance partitions (Jet: round-robin queues)
  *   - isolated edge → narrow 1:1, parallelism must match (Edge.java:356)
  *   - partitioned   → HashPartitioner shuffle on the key fn — the same
  *                     decision Jet's distributed-partitioned edge makes
  *   - allToOne      → constant key → all rows in one partition
  *   - broadcast     → driver collect + `sc.broadcast`, SIZE-GUARDED: this is
  *                     the hash-join build side (always small, priority -1 in
  *                     the canonical DAG); exceeding the guard is an error,
  *                     not a silent 100-TB collect
  *   - priority      → inbound edges are fed to the processor in ascending
  *                     (priority, ordinal) order within each partition —
  *                     Jet's ConcurrentInboundEdgeStream priority draining
  *
  * This layer is the power-user ESCAPE HATCH, not the hot path: the Pipeline/
  * SQL APIs compile to Catalyst and should be preferred (SURVEY.md §3.3). It
  * exists so that a reference user with a hand-built core-API DAG has a 1:1
  * target: same topology classes, same processor contract, same edge algebra.
  * The scale story is honest: partitioned edges are real shuffles, stages are
  * lazy RDDs (nothing materializes per-vertex), and the only driver-side data
  * movement is the guarded broadcast edge.
  */
object DagExecutor {

  /** Hard cap on items a broadcast edge may carry (build sides are
    * dimension-table-sized; at 100 TB the probe side streams, never this).
    */
  val MaxBroadcastItems: Int = 4 << 20

  private[core] sealed trait Seg {
    def ordinal: Int
  }
  private[core] final case class BcastSeg(ordinal: Int, data: Broadcast[Array[Any]]) extends Seg
  private[core] final case class RddSeg(ordinal: Int) extends Seg

  /** Compile every vertex to its output RDD. Compilation is lazy with ONE
    * documented exception: a broadcast edge materializes its source
    * eagerly at compile time (`take(maxBroadcastItems + 1)` is a real Spark
    * action) — the build side must exist on the driver before it can be
    * broadcast, exactly like Spark SQL's own BroadcastExchange. Everything
    * else stays an unexecuted RDD lineage until an action on the result.
    *
    * A vertex with two or more outbound edges is persisted
    * (MEMORY_AND_DISK) so its processors — which may be side-effecting or
    * nondeterministic — run once, not once per downstream consumer; this also
    * covers [[execute]]'s leaf-by-leaf collection.
    *
    * `inputs` feeds RDDs into named no-inbound-edge vertices at
    * ordinal 0 — the analog of a source ProcessorMetaSupplier's partition
    * assignment; vertices absent from `inputs` run their processors with an
    * empty inbox and emit from `complete()` (source-processor shape, e.g.
    * [[Processors.itemsP]]).
    */
  def compile(
      spark: SparkSession,
      dag: DAG,
      inputs: Map[String, RDD[Any]] = Map.empty,
      outboxCapacity: Int = 1024,
      maxBroadcastItems: Int = MaxBroadcastItems): Map[String, RDD[Any]] = {
    val sc = spark.sparkContext
    val defaultP = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val out = scala.collection.mutable.LinkedHashMap.empty[String, RDD[Any]]

    for (vertex <- dag) {
      val name = vertex.name
      val inbound = dag
        .getInboundEdges(name)
        .sortBy(e => (e.getPriority, e.getDestOrdinal))

      val externalInput = inputs.get(name)
      require(externalInput.isEmpty || inbound.isEmpty,
        s"vertex $name has both DAG inbound edges and an external input")

      // stage parallelism: explicit localParallelism wins; else inherit the
      // (first) input's partitioning; else the session default
      val p = vertex.getLocalParallelism match {
        case Vertex.LOCAL_PARALLELISM_USE_DEFAULT =>
          externalInput
            .map(_.getNumPartitions)
            .orElse(inbound.headOption.map(e => out(e.getSourceName).getNumPartitions))
            .getOrElse(defaultP)
        case n => n
      }

      // per-edge routing → either a broadcast segment or a tagged RDD
      var segs = Vector.empty[Seg]
      var taggedRdds = Vector.empty[RDD[(Int, Any)]]
      val edgeInputs: Seq[(Edge, RDD[Any])] =
        externalInput match {
          case Some(rdd) => Seq((null, rdd))
          case None      => inbound.map(e => (e, out(e.getSourceName)))
        }

      // watermark senders each RECEIVING partition hears, per edge: a shuffled
      // (partitioned/allToOne) edge replicates every sender's envelopes to
      // every receiver; a 1:1 narrow edge delivers exactly one sender's
      var senderCount = 0
      for ((e, src) <- edgeInputs) {
        val ordinal = if (e == null) 0 else e.getDestOrdinal
        val routing = if (e == null) RoutingPolicy.Unicast else e.getRoutingPolicy
        routing match {
          case RoutingPolicy.Broadcast =>
            // count-guarded driver materialization (the build side).
            // Broadcast edges are batch build sides: watermarks are dropped
            // here (Jet build sides carry no event time either).
            val data = src.filter(!_.isInstanceOf[Watermark]).take(maxBroadcastItems + 1)
            require(data.length <= maxBroadcastItems,
              s"broadcast edge into $name exceeds $maxBroadcastItems items; " +
                "use a partitioned edge for large inputs")
            segs :+= BcastSeg(ordinal, sc.broadcast(data))
          case other =>
            // watermarks become per-sender envelopes before any routing, so
            // the receiving driver can coalesce them to the min across
            // senders. Ordered edges carry NO watermarks by design — a sort
            // would displace them past data items — so every ordered branch
            // sorts the SAME watermark-rejecting stream: a Watermark on an
            // ordered edge is an explicit error (the rebalancing-unicast
            // pattern), never a ClassCastException in keyFn/comparator or a
            // raw Watermark leaking into the inbox as data.
            val env = enveloped(src)
            val cmpOpt = Option(if (e == null) null else e.getOrderComparator)
            val vn = name
            def noWm: RDD[Any] = src.map {
              case _: Watermark => throw new UnsupportedOperationException(
                s"watermarks cannot cross an ordered edge into $vn; " +
                  "drop the order comparator or insert watermarks downstream of the sort")
              case x => x
            }
            val sorted: RDD[Any] = (other, cmpOpt) match {
              case (RoutingPolicy.Partitioned, Some(cmp)) =>
                // Ordered + partitioned in ONE shuffle: the item itself is the
                // shuffle key (partitioner applies keyFn, matching
                // HashPartitioner's mod), the sort runs inside Spark's
                // sort-based shuffle (ExternalSorter) — spill-aware, so an
                // ordered edge larger than executor memory sorts on disk
                // instead of OOMing a toVector.sorted buffer.
                sortedShuffle(noWm, new KeyFnPartitioner(e.getKeyFn, p), cmp)
              case (RoutingPolicy.Partitioned, None) =>
                // items route by key hash; watermark envelopes REPLICATE to
                // every target partition (Jet broadcasts watermarks across
                // distributed edges the same way)
                val keyFn = e.getKeyFn
                env.flatMap {
                  case w: WmEnvelope =>
                    (0 until p).iterator.map(pid => (WmRoute(pid): Any, w: Any))
                  case t => Iterator((KeyRoute(keyFn(t)): Any, t))
                }.partitionBy(new RoutePartitioner(p)).map(_._2)
              case (RoutingPolicy.Isolated, cmpO) =>
                require(src.getNumPartitions == p,
                  s"isolated edge into $name requires equal parallelism " +
                    s"(${src.getNumPartitions} != $p)")
                cmpO.fold(env)(cmp => localExternalSort(noWm, cmp))
              case (_, Some(cmp)) => // Unicast + ordered: watermark-free by the guard
                val rebalanced =
                  if (src.getNumPartitions == p) noWm
                  else noWm.coalesce(p, shuffle = src.getNumPartitions < p)
                localExternalSort(rebalanced, cmp)
              case (_, None) => // Unicast
                if (src.getNumPartitions == p) env
                else {
                  // a rebalance concatenates/splits sender streams, which
                  // destroys the per-sender FIFO the coalescer needs — so a
                  // watermark on a REBALANCING unicast edge is an error, not
                  // silent corruption
                  env.map {
                    case _: WmEnvelope => throw new UnsupportedOperationException(
                      s"watermarks cannot cross a rebalancing unicast edge into $vn; " +
                        "match localParallelism to the upstream or use .partitioned(...)")
                    case x => x
                  }.coalesce(p, shuffle = src.getNumPartitions < p)
                }
            }
            // Ordered edges reject watermarks above, so they never deliver
            // WmEnvelopes — counting them would make the coalescer wait for
            // senders that can't report and defer all window emission to
            // complete(). (A watermark-FREE unordered edge into a vertex that
            // also has watermarked edges has the same effect; emit watermarks
            // on every unordered edge feeding an event-time vertex.)
            if (cmpOpt.isEmpty) senderCount += (routing match {
              case RoutingPolicy.Partitioned => src.getNumPartitions // replicated
              case _ => 1 // narrow 1:1: each receiver hears exactly one sender
            })
            segs :+= RddSeg(ordinal)
            taggedRdds :+= sorted.map(x => (ordinal, x))
        }
      }

      // concatenate rdd edges per partition, in feed (priority) order
      val base: RDD[(Int, Any)] =
        if (taggedRdds.isEmpty) sc.parallelize(Seq.empty[(Int, Any)], p)
        else
          taggedRdds.reduceLeft { (a, b) =>
            a.zipPartitions(b, preservesPartitioning = true)((ia, ib) => ia ++ ib)
          }

      val supplier = vertex.supplier
      val segOrder = segs // serializable descriptors (broadcast handles inside)
      val cap = outboxCapacity
      val vName = name
      val total = p
      val senders = senderCount
      val result = base.mapPartitionsWithIndex { (idx, it) =>
        val buffered = it.buffered
        val segments: Seq[(Int, Iterator[Any])] = segOrder.map {
          case BcastSeg(ord, bc) => (ord, bc.value.iterator)
          case RddSeg(ord)       => (ord, new OrdinalSlice(buffered, ord))
        }
        val proc = supplier()
        val driver = new ProcessorDriver(
          proc, Processor.Context(vName, idx, total), segments, cap, senders)
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => driver.ensureClosed()))
        driver
      }
      // A vertex feeding >1 edge (or >1 leaf collection) must not recompute:
      // its processors may be side-effecting/nondeterministic. Persist once.
      val stored =
        if (dag.getOutboundEdges(name).size >= 2)
          result.persist(StorageLevel.MEMORY_AND_DISK)
        else result
      out.put(name, stored)
    }
    out.toMap
  }

  /** Ordered + partitioned edge in one shuffle: the item is the shuffle key,
    * `part` applies the edge's keyFn, and the per-partition sort happens
    * inside Spark's sort-based shuffle (ExternalSorter — spills to disk), so
    * edge size is bounded by executor DISK, not a heap buffer.
    */
  private def sortedShuffle(
      src: RDD[Any],
      part: Partitioner,
      cmp: Ordering[Any]): RDD[Any] = {
    implicit val ord: Ordering[Any] = cmp
    src.map(t => (t, true)).repartitionAndSortWithinPartitions(part).map(_._1)
  }

  /** Spill-aware per-partition sort for non-shuffle (unicast/isolated) ordered
    * edges: key each item by (partitionIndex, item), route by the index (a
    * partition-preserving local shuffle), and let the shuffle's ExternalSorter
    * order within the partition. Costs one local shuffle write+read but never
    * buffers the partition in memory — the fix for the unbounded
    * `toVector.sorted` this replaced.
    */
  private def localExternalSort(src: RDD[Any], cmp: Ordering[Any]): RDD[Any] = {
    val n = math.max(src.getNumPartitions, 1)
    val keyed = src.mapPartitionsWithIndex((i, it) => it.map(x => ((i, x), true)))
    val part = new Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int = key.asInstanceOf[(Int, Any)]._1
    }
    implicit val ord: Ordering[(Int, Any)] = new Ordering[(Int, Any)] {
      def compare(a: (Int, Any), b: (Int, Any)): Int = {
        val c = Integer.compare(a._1, b._1)
        if (c != 0) c else cmp.compare(a._2, b._2)
      }
    }
    keyed.repartitionAndSortWithinPartitions(part).map(_._1._2)
  }

  /** Names of vertices with no outbound edges (the DAG's sinks). */
  def leaves(dag: DAG): Seq[String] =
    dag.toSeq.map(_.name).filter(n => dag.getOutboundEdges(n).isEmpty)

  /** Run the DAG, collecting every leaf vertex's output (test/driver
    * convenience — production paths keep the RDD or go through
    * [[toDataFrame]]). Watermarks reaching a leaf are control items, not
    * results — filtered here.
    */
  def execute(
      spark: SparkSession,
      dag: DAG,
      inputs: Map[String, RDD[Any]] = Map.empty,
      outboxCapacity: Int = 1024): Map[String, Seq[Any]] = {
    val compiled = compile(spark, dag, inputs, outboxCapacity)
    leaves(dag).map(n =>
      n -> compiled(n).filter(!_.isInstanceOf[Watermark]).collect().toSeq).toMap
  }

  /** Bridge a leaf vertex emitting `Row`s back into the DataFrame world
    * (watermark control items filtered).
    */
  def toDataFrame(
      spark: SparkSession,
      dag: DAG,
      vertexName: String,
      schema: StructType,
      inputs: Map[String, RDD[Any]] = Map.empty): DataFrame = {
    val rdd = compile(spark, dag, inputs)(vertexName)
    spark.createDataFrame(
      rdd.filter(!_.isInstanceOf[Watermark]).map(_.asInstanceOf[Row]), schema)
  }

  /** Watermarks become per-sender envelopes before routing — the receiving
    * driver coalesces per (ordinal, sender) to the minimum, which is only
    * sound if each sender's stream stays FIFO (Spark's shuffle preserves
    * per-map-output order within a reduce partition).
    */
  private def enveloped(src: RDD[Any]): RDD[Any] =
    src.mapPartitionsWithIndex((i, it) => it.map {
      case Watermark(ts) => WmEnvelope(i, ts)
      case x => x
    }, preservesPartitioning = true)
}

/** Sequential slice of the concatenated tagged stream: items while the head
  * tag matches `ordinal`. Valid because segments are consumed strictly in feed
  * order, matching the concatenation order of the compiled stage.
  */
/** A watermark in transit: `sender` is the upstream partition index — the
  * receiver coalesces per sender before delivering to its processor.
  */
private[core] final case class WmEnvelope(sender: Int, ts: Long)

/** Routing keys for partitioned edges that carry watermarks: items route by
  * key hash (HashPartitioner-compatible), watermark envelopes route to an
  * explicit target partition (replicated to all).
  */
private[core] final case class KeyRoute(k: Any)
private[core] final case class WmRoute(pid: Int)

private[core] final class RoutePartitioner(p: Int) extends Partitioner {
  override def numPartitions: Int = p
  override def getPartition(key: Any): Int = key match {
    case WmRoute(pid) => pid
    case KeyRoute(null) => 0
    case KeyRoute(k) =>
      val m = k.hashCode % p
      if (m < 0) m + p else m
  }
}

/** Min-coalescer across every (ordinal, sender) watermark stream feeding one
  * processor instance — Jet's WatermarkCoalescer: forward only the minimum
  * across ALL senders, and only once every sender has reported (absent
  * senders could still hold the clock back).
  */
private[core] final class WatermarkCoalescer(totalSenders: Int) {
  private val seen = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
  private var lastForwarded = Long.MinValue
  /** Some(min) when the coalesced watermark advanced. */
  def observe(ordinal: Int, sender: Int, ts: Long): Option[Long] = {
    val k = (ordinal, sender)
    if (ts > seen.getOrElse(k, Long.MinValue)) seen.update(k, ts)
    if (seen.size < totalSenders) None
    else {
      val min = seen.valuesIterator.min
      if (min > lastForwarded) { lastForwarded = min; Some(min) } else None
    }
  }
}

/** HashPartitioner-compatible partitioner that routes an item by `keyFn(item)`
  * (null key → 0, same as HashPartitioner), letting the item itself be the
  * shuffle-sort key for ordered partitioned edges.
  */
private[core] final class KeyFnPartitioner(keyFn: Any => Any, p: Int)
    extends Partitioner {
  override def numPartitions: Int = p
  override def getPartition(key: Any): Int = {
    val k = keyFn(key)
    if (k == null) 0
    else {
      val m = k.hashCode % p
      if (m < 0) m + p else m
    }
  }
}

private[core] final class OrdinalSlice(
    base: scala.collection.BufferedIterator[(Int, Any)],
    ordinal: Int)
    extends Iterator[Any] {
  def hasNext: Boolean = base.hasNext && base.head._1 == ordinal
  def next(): Any = base.next()._2
}

/** Drives one Processor over its partition's inbound segments — the tasklet
  * loop (reference: hazelcast-jet-core/src/main/java/com/hazelcast/jet/impl/
  * execution/ProcessorTasklet.java's state machine, reduced to the bounded
  * case): feed inbox chunks per ordinal → completeEdge per exhausted edge →
  * complete() to quiescence, draining the outbox into the downstream iterator
  * between every step. Backpressure is real: the outbox has fixed capacity and
  * a processor that can't progress against a non-full outbox is reported, not
  * spun on.
  */
private[core] final class ProcessorDriver(
    proc: Processor,
    ctx: Processor.Context,
    segments: Seq[(Int, Iterator[Any])],
    outboxCapacity: Int,
    totalSenders: Int = 0)
    extends Iterator[Any] {

  private val ChunkSize = 256
  private val outbox = new Outbox(outboxCapacity)
  private val inbox = new Inbox(ChunkSize)
  proc.init(outbox, ctx)

  private val segIt = segments.iterator.map { case (o, it) => (o, it.buffered) }
  private var current: (Int, scala.collection.BufferedIterator[Any]) = _
  // 0 = feeding, 1 = completingEdge, 2 = completing, 3 = done
  private var phase = 0
  private var closed = false
  private val coalescer = new WatermarkCoalescer(totalSenders)
  private var pendingWm: Watermark = _ // accepted by coalescer, not yet by proc
  private var forwardWm: Watermark = _ // accepted by proc, not yet downstream

  def hasNext: Boolean = {
    if (!outbox.isEmpty) return true
    advance()
    if (!outbox.isEmpty) true
    else { ensureClosed(); false }
  }

  def next(): Any = {
    if (!hasNext) throw new NoSuchElementException("processor output exhausted")
    outbox.poll()
  }

  private[core] def ensureClosed(): Unit =
    if (!closed) { closed = true; proc.close() }

  private def stuck(step: String): Nothing =
    throw new IllegalStateException(
      s"processor for vertex ${ctx.vertexName} made no progress in $step " +
        "with a non-full outbox")

  /** Deliver a coalesced watermark to the processor; once accepted, queue it
    * for automatic downstream forwarding (AFTER the processor's own outputs —
    * the forward happens on the next empty-outbox entry, so FIFO holds).
    */
  private def driveWatermark(): Unit = {
    if (forwardWm != null) {
      if (outbox.offer(forwardWm)) forwardWm = null
    } else if (pendingWm != null) {
      if (proc.tryProcessWatermark(pendingWm)) { forwardWm = pendingWm; pendingWm = null }
      else if (outbox.isEmpty) stuck("tryProcessWatermark")
    }
  }

  private def advance(): Unit = {
    while (outbox.isEmpty && phase < 3) {
      if (forwardWm != null || pendingWm != null) driveWatermark()
      else phase match {
        case 0 =>
          if (current == null) {
            if (segIt.hasNext) current = segIt.next()
            else phase = 2
          } else {
            val (ordinal, it) = current
            if (inbox.isEmpty) {
              // Jet's niladic tryProcess() between inbox chunks — the early-
              // results seam (Processor.java:198). A false return with a
              // non-empty outbox resumes after the drain; the chunk feed
              // waits until the processor reports quiescence. false with an
              // EMPTY outbox is a contract violation in this synchronous
              // executor (see Processor.tryProcess scaladoc) and fails fast.
              if (!proc.tryProcess()) {
                if (outbox.isEmpty) stuck("tryProcess()")
              } else {
                var n = 0
                while (n < ChunkSize && it.hasNext && !it.head.isInstanceOf[WmEnvelope]) {
                  inbox.add(it.next()); n += 1
                }
              }
            }
            if (inbox.isEmpty) {
              if (it.hasNext) { // head is a watermark envelope: coalesce
                val env = it.next().asInstanceOf[WmEnvelope]
                coalescer.observe(ordinal, env.sender, env.ts)
                  .foreach(min => pendingWm = Watermark(min))
              } else phase = 1 // edge exhausted
            } else {
              val before = inbox.size
              proc.process(ordinal, inbox)
              if (inbox.size == before && outbox.isEmpty) stuck("process")
            }
          }
        case 1 =>
          if (proc.completeEdge(current._1)) { current = null; phase = 0 }
          else if (outbox.isEmpty) stuck("completeEdge")
        case 2 =>
          if (proc.complete()) phase = 3
          else if (outbox.isEmpty) stuck("complete")
      }
    }
    if (phase == 3 && outbox.isEmpty) ensureClosed()
  }
}

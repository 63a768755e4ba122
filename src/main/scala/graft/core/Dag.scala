package graft.core

import scala.collection.mutable

/** Jet `Vertex` (reference: hazelcast-jet-core/src/main/java/com/hazelcast/jet/
  * core/Vertex.java): a named processing step plus its processor supplier and
  * requested parallelism. The supplier is the `SupplierEx<Processor>` overload
  * (Vertex.java:~58) — it is serialized to executors and invoked once per Spark
  * partition, which plays the role of Jet's per-tasklet instantiation
  * (ProcessorSupplier.get(count)).
  */
final class Vertex private[core] (val name: String, val supplier: () => Processor)
    extends Serializable {

  private var _localParallelism: Int = Vertex.LOCAL_PARALLELISM_USE_DEFAULT

  /** Vertex.java:~120 `localParallelism(n)`: number of parallel instances —
    * here, the partition count of the compiled stage.
    */
  def localParallelism(n: Int): Vertex = {
    require(n == Vertex.LOCAL_PARALLELISM_USE_DEFAULT || n > 0,
      s"parallelism must be positive or -1 (USE_DEFAULT), got $n")
    _localParallelism = n
    this
  }

  def getLocalParallelism: Int = _localParallelism
  def getName: String = name

  override def toString: String = s"Vertex($name)"
}

object Vertex {
  /** Vertex.java:46. */
  val LOCAL_PARALLELISM_USE_DEFAULT: Int = -1

  def apply(name: String, supplier: () => Processor): Vertex =
    new Vertex(name, supplier)
}

/** Jet `Edge.RoutingPolicy` (core/Edge.java:659). */
sealed trait RoutingPolicy extends Serializable
object RoutingPolicy {
  /** Round-robin / any instance (Edge.java:664). Spark: keep or rebalance
    * partitioning, no keys.
    */
  case object Unicast extends RoutingPolicy
  /** 1:1 instance pairing, parallelism must match (Edge.java:~680). Spark: a
    * narrow stage — partition i feeds partition i.
    */
  case object Isolated extends RoutingPolicy
  /** Hash-route by key (Edge.java:~690). Spark: HashPartitioner shuffle — the
    * same decision Jet's distributed-partitioned edge makes. (Jet's
    * local-vs-distributed two-level hierarchy has no Spark analog: executors
    * ARE the cluster, so local-partitioned compiles to the same shuffle.)
    */
  case object Partitioned extends RoutingPolicy
  /** Every instance sees every item (Edge.java:~700). Spark: driver collect +
    * broadcast, size-guarded — the build side of a hash join.
    */
  case object Broadcast extends RoutingPolicy
}

/** Jet `Edge` (core/Edge.java:68): connects `source` ordinal to `destination`
  * ordinal and carries the routing/priority configuration the planner uses.
  * The fluent mutators mirror Edge.java; `distributed()` is accepted for
  * parity and changes nothing (see RoutingPolicy.Partitioned).
  */
final class Edge private (
    val source: Vertex,
    val sourceOrdinal: Int,
    private var dest: Vertex,
    private var destOrd: Int)
    extends Serializable {

  private var _priority: Int = 0
  private var _routing: RoutingPolicy = RoutingPolicy.Unicast
  private var _keyFn: Any => Any = _
  private var _comparator: Ordering[Any] = _

  /** Edge.java:150 `to(destination)`. */
  def to(destination: Vertex): Edge = { dest = destination; this }

  /** Edge.java:158 `to(destination, ordinal)`. */
  def to(destination: Vertex, ordinal: Int): Edge = {
    dest = destination; destOrd = ordinal; this
  }

  def getDestination: Vertex = dest
  def getSourceName: String = source.name
  def getDestName: String = {
    require(dest != null, s"edge from ${source.name} has no destination yet")
    dest.name
  }
  def getDestOrdinal: Int = destOrd

  /** Edge.java:265: lower priority drains first — Jet uses -1 for hash-join
    * build sides; the executor feeds inbound edges in ascending (priority,
    * ordinal) order.
    */
  def priority(p: Int): Edge = { _priority = p; this }
  def getPriority: Int = _priority

  /** Edge.java:287. */
  def unicast(): Edge = { _routing = RoutingPolicy.Unicast; _keyFn = null; this }

  /** Edge.java:299. */
  def partitioned(extractKeyFn: Any => Any): Edge = {
    _routing = RoutingPolicy.Partitioned
    _keyFn = extractKeyFn
    this
  }

  /** Edge.java:335: all items to ONE instance — partitioned on a constant. */
  def allToOne(key: Any): Edge = {
    _routing = RoutingPolicy.Partitioned
    _keyFn = _ => key
    this
  }

  /** Edge.java:343. */
  def broadcast(): Edge = { _routing = RoutingPolicy.Broadcast; _keyFn = null; this }

  /** Edge.java:356. */
  def isolated(): Edge = { _routing = RoutingPolicy.Isolated; _keyFn = null; this }

  /** Edge.java:375 `ordered(comparator)`: receiver merges inbound streams in
    * order. Spark compile: per-partition sort of this edge's stream before the
    * inbox, executed inside the shuffle's ExternalSorter (spill-aware — disk-
    * bounded, not heap-bounded; a stronger guarantee than Jet's merge of
    * pre-ordered runs, at the cost of a local shuffle on non-partitioned
    * ordered edges).
    */
  def ordered(comparator: Ordering[Any]): Edge = { _comparator = comparator; this }

  /** Edge.java:455: a no-op here — a partitioned edge is already a Spark
    * shuffle, which crosses executors.
    */
  def distributed(): Edge = this

  def getRoutingPolicy: RoutingPolicy = _routing
  def getKeyFn: Any => Any = _keyFn
  def getOrderComparator: Ordering[Any] = _comparator

  override def toString: String = {
    // Null-safe: toString is interpolated into validation messages (incl. the
    // "has no destination" one), so it must not itself require dest != null.
    val destName = if (dest == null) "?" else dest.name
    val base = s"between(${'"'}${source.name}${'"'}, ${'"'}$destName${'"'})"
    val ords =
      if (sourceOrdinal == 0 && destOrd == 0) base
      else s"from(${'"'}${source.name}${'"'}, $sourceOrdinal).to(${'"'}$destName${'"'}, $destOrd)"
    ords
  }
}

object Edge {
  /** Edge.java:122. */
  def between(source: Vertex, destination: Vertex): Edge =
    new Edge(source, 0, destination, 0)

  /** Edge.java:132. */
  def from(source: Vertex): Edge = new Edge(source, 0, null, 0)

  /** Edge.java:142. */
  def from(source: Vertex, ordinal: Int): Edge = new Edge(source, ordinal, null, 0)
}

/** Jet `DAG` (core/DAG.java:80): the power-user topology builder. Validation
  * mirrors DAG.java/`verify()`: unique vertex names, at most one edge per
  * source ordinal, contiguous inbound ordinals, acyclicity (checked by the
  * topological `iterator`, as in DAG.java:288's `validate()` path).
  *
  * Compilation to Spark lives in [[DagExecutor]] — this class is pure
  * topology, exactly as in the reference where execution belongs to the
  * ExecutionPlanBuilder.
  */
final class DAG extends Iterable[Vertex] with Serializable {

  private val vertices = mutable.LinkedHashMap.empty[String, Vertex]
  private val edgeList = mutable.ArrayBuffer.empty[Edge]

  /** DAG.java:96. */
  def newVertex(name: String, supplier: () => Processor): Vertex = {
    val v = Vertex(name, supplier)
    vertex(v)
    v
  }

  /** DAG.java:183. */
  def vertex(v: Vertex): DAG = {
    require(!vertices.contains(v.name), s"vertex ${v.name} already in DAG")
    vertices.put(v.name, v)
    this
  }

  /** DAG.java:199 with its validations. */
  def edge(e: Edge): DAG = {
    require(e.getDestination != null, s"edge $e has no destination")
    require(vertices.get(e.source.name).contains(e.source),
      s"source vertex ${e.source.name} not in DAG")
    require(vertices.get(e.getDestName).contains(e.getDestination),
      s"destination vertex ${e.getDestName} not in DAG")
    require(e.source.name != e.getDestName, s"self-edge on ${e.source.name}")
    require(!edgeList.exists(x =>
        x.source.name == e.source.name && x.sourceOrdinal == e.sourceOrdinal),
      s"vertex ${e.source.name} already has an outbound edge at ordinal ${e.sourceOrdinal}")
    require(!edgeList.exists(x =>
        x.getDestName == e.getDestName && x.getDestOrdinal == e.getDestOrdinal),
      s"vertex ${e.getDestName} already has an inbound edge at ordinal ${e.getDestOrdinal}")
    edgeList += e
    this
  }

  /** DAG.java:245. */
  def getInboundEdges(vertexName: String): Seq[Edge] = {
    require(vertices.contains(vertexName), s"no vertex $vertexName")
    edgeList.filter(_.getDestName == vertexName).toSeq
  }

  /** DAG.java:262. */
  def getOutboundEdges(vertexName: String): Seq[Edge] = {
    require(vertices.contains(vertexName), s"no vertex $vertexName")
    edgeList.filter(_.source.name == vertexName).toSeq
  }

  def edges: Seq[Edge] = edgeList.toSeq

  /** DAG.java:288: topological order; throws on cycles and on non-contiguous
    * inbound ordinals (DAG.java `validate()`).
    */
  def iterator: Iterator[Vertex] = {
    // inbound-ordinal contiguity
    for ((name, _) <- vertices) {
      val ords = getInboundEdges(name).map(_.getDestOrdinal).sorted
      require(ords == ords.indices.map(identity),
        s"vertex $name inbound ordinals $ords are not contiguous from 0")
    }
    // Kahn topological sort, stable in insertion order
    val inDegree = mutable.LinkedHashMap.from(vertices.keys.map(_ -> 0))
    for (e <- edgeList) inDegree(e.getDestName) += 1
    val ready = mutable.Queue.from(inDegree.collect { case (n, 0) => n })
    val out = mutable.ArrayBuffer.empty[Vertex]
    while (ready.nonEmpty) {
      val n = ready.dequeue()
      out += vertices(n)
      for (e <- edgeList if e.source.name == n) {
        inDegree(e.getDestName) -= 1
        if (inDegree(e.getDestName) == 0) ready += e.getDestName
      }
    }
    require(out.size == vertices.size,
      s"DAG contains a cycle among ${vertices.keySet -- out.map(_.name)}")
    out.iterator
  }

  /** DAG.java:373. */
  override def toString: String = {
    val vs = vertices.keys.mkString(", ")
    val es = edgeList.mkString("; ")
    s"dag(vertices=[$vs], edges=[$es])"
  }

  /** DAG.java:443 `toDotString`. */
  def toDotString: String = {
    val sb = new StringBuilder("digraph DAG {\n")
    for (v <- vertices.values)
      sb.append(s"""  "${v.name}";\n""")
    for (e <- edgeList) {
      val attrs = mutable.ArrayBuffer.empty[String]
      e.getRoutingPolicy match {
        case RoutingPolicy.Partitioned => attrs += "label=\"partitioned\""
        case RoutingPolicy.Broadcast   => attrs += "label=\"broadcast\""
        case RoutingPolicy.Isolated    => attrs += "label=\"isolated\""
        case RoutingPolicy.Unicast     => ()
      }
      if (e.getPriority != 0) attrs += s"taillabel=${e.getPriority}"
      val attrStr = if (attrs.isEmpty) "" else attrs.mkString(" [", ", ", "]")
      sb.append(s"""  "${e.source.name}" -> "${e.getDestName}"$attrStr;\n""")
    }
    sb.append("}")
    sb.toString
  }

  /** DAG.java:411 `toJson` (schema-compatible subset). */
  def toJson: String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val vs = vertices.values
      .map(v => s"""{"name":"${esc(v.name)}","parallelism":${v.getLocalParallelism}}""")
      .mkString("[", ",", "]")
    val es = edgeList
      .map { e =>
        val routing = e.getRoutingPolicy.toString.toUpperCase
        s"""{"from":"${esc(e.source.name)}","fromOrdinal":${e.sourceOrdinal},""" +
          s""""to":"${esc(e.getDestName)}","toOrdinal":${e.getDestOrdinal},""" +
          s""""priority":${e.getPriority},"routing":"$routing"}"""
      }
      .mkString("[", ",", "]")
    s"""{"vertices":$vs,"edges":$es}"""
  }
}

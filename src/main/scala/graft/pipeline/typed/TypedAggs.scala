package graft.pipeline.typed

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed custom aggregators — the constant-memory path for Jet aggregate
  * operations with no Spark built-in equivalent (SURVEY.md §2.6, §7.3).
  *
  * A Jet `AggregateOperation`'s createFn/accumulateFn/combineFn/exportFn
  * contract (reference: hazelcast-jet-core/src/main/java/com/hazelcast/jet/
  * aggregate/AggregateOperation.java:87-103) maps 1:1 onto Spark
  * `Aggregator[IN, BUF, OUT]` zero/reduce/merge/finish. Registered through
  * `functions.udaf` these run inside Spark's two-phase hash aggregation —
  * partial per partition, merge after shuffle — i.e. exactly Jet's
  * accumulateByKeyP/combineByKeyP split (GroupTransform.java:111-118), with
  * spill and codegen the reference lacks.
  *
  * Scale note: every buffer here is O(1) or O(n-bound) — safe on groups of any
  * cardinality, unlike `collect_list`-based forms.
  */
object TypedAggs {

  /** Bounded top-N accumulator (Jet `topN`, AggregateOperations.java:279):
    * keeps only the n greatest values seen — O(n) state per group regardless of
    * group size (Jet uses a bounded PriorityQueue; a sorted array of ≤ n
    * doubles is equivalent and Encoder-friendly).
    */
  final class TopN(n: Int) extends Aggregator[Double, Seq[Double], Seq[Double]] {
    override def zero: Seq[Double] = Vector.empty
    override def reduce(buf: Seq[Double], v: Double): Seq[Double] =
      if (buf.size < n) (buf :+ v).sorted
      else if (v > buf.head) (buf.tail :+ v).sorted
      else buf
    override def merge(a: Seq[Double], b: Seq[Double]): Seq[Double] =
      (a ++ b).sorted.takeRight(n)
    override def finish(buf: Seq[Double]): Seq[Double] = buf.reverse
    override def bufferEncoder: Encoder[Seq[Double]] = implicitly(
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
    override def outputEncoder: Encoder[Seq[Double]] = implicitly(
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
  }
  def topN(n: Int): TopN = new TopN(n)

  /** Least-squares slope accumulator (Jet `linearTrend`,
    * AggregateOperations.java:471, LinTrendAccumulator): O(1) state,
    * mergeable — but in CENTRAL-MOMENT form (n, means, M2x, Cxy; Welford
    * update + Chan's parallel merge), not Jet's raw moment sums. The raw-sum
    * form `(n·Σxy − Σx·Σy)/(n·Σxx − (Σx)²)` cancels catastrophically when x's
    * magnitude dwarfs its spread (raw unix timestamps spanning an hour leave
    * ~0 correct digits in the denominator); the central form is stable at any
    * offset. Runs under Tungsten partial aggregation like the rest.
    */
  final case class LinTrendBuf(n: Long, mx: Double, my: Double, m2x: Double, cxy: Double)

  object LinearTrend extends Aggregator[(Double, Double), LinTrendBuf, Option[Double]] {
    override def zero: LinTrendBuf = LinTrendBuf(0L, 0.0, 0.0, 0.0, 0.0)
    override def reduce(b: LinTrendBuf, in: (Double, Double)): LinTrendBuf = {
      val (x, y) = in
      val n = b.n + 1
      val dx = x - b.mx
      val mx = b.mx + dx / n
      val dy = y - b.my
      val my = b.my + dy / n
      // Welford: dx uses the OLD mean, (x - mx) the new one
      LinTrendBuf(n, mx, my, b.m2x + dx * (x - mx), b.cxy + dx * (y - my))
    }
    override def merge(a: LinTrendBuf, b: LinTrendBuf): LinTrendBuf =
      if (a.n == 0) b
      else if (b.n == 0) a
      else {
        // Chan et al. parallel combine
        val n = a.n + b.n
        val dx = b.mx - a.mx
        val dy = b.my - a.my
        val w = a.n.toDouble * b.n / n
        LinTrendBuf(n,
          a.mx + dx * b.n / n,
          a.my + dy * b.n / n,
          a.m2x + b.m2x + dx * dx * w,
          a.cxy + b.cxy + dx * dy * w)
      }
    override def finish(b: LinTrendBuf): Option[Double] =
      if (b.n == 0 || b.m2x == 0.0) None else Some(b.cxy / b.m2x)
    override def bufferEncoder: Encoder[LinTrendBuf] = Encoders.product[LinTrendBuf]
    override def outputEncoder: Encoder[Option[Double]] = implicitly(
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Option[Double]]())
  }

  /** KMV (k-minimum-values) distinct-count sketch: keeps the k smallest
    * distinct hash values in [0,1); estimate = (k-1)/kth-min once k values are
    * held, exact count below that. O(k) state, associative/commutative merge —
    * a mergeable cardinality sketch like HLL, but DETERMINISTIC given a
    * deterministic hash column, so (unlike `approx_count_distinct`) it can be
    * differentially tested bit-for-bit against another engine replaying the
    * same hashes. (Public technique: Bar-Yossef et al., "Counting distinct
    * elements in a data stream", RANDOM 2002.)
    *
    * Input is the precomputed hash (e.g. md5-derived double in [0,1)) — the
    * hash stays in the SQL layer so the oracle can replay it.
    */
  final class KmvDistinct(k: Int) extends Aggregator[Double, Seq[Double], Double] {
    override def zero: Seq[Double] = Vector.empty
    // The buffer is kept SORTED ascending. Once it's full, a row whose hash is
    // ≥ the current kth-min is rejected in O(1) — the overwhelmingly common
    // case at high cardinality (acceptance probability k/n). Accepted values
    // binary-search their slot; no full re-sort per row (the old
    // `.contains` + `.sorted` form was O(k log k) on EVERY row).
    override def reduce(buf: Seq[Double], h: Double): Seq[Double] = {
      val full = buf.size >= k
      if (full && h >= buf.last) buf
      else {
        var lo = 0
        var hi = buf.size
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (buf(mid) < h) lo = mid + 1 else hi = mid
        }
        if (lo < buf.size && buf(lo) == h) buf // duplicate hash: no-op
        else {
          val inserted = (buf.take(lo) :+ h) ++ buf.drop(lo)
          if (full) inserted.init else inserted
        }
      }
    }
    override def merge(a: Seq[Double], b: Seq[Double]): Seq[Double] =
      (a ++ b).distinct.sorted.take(k)
    override def finish(buf: Seq[Double]): Double =
      if (buf.size < k) buf.size.toDouble else (k - 1) / buf.last
    override def bufferEncoder: Encoder[Seq[Double]] = implicitly(
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }
  def kmvDistinct(k: Int): KmvDistinct = new KmvDistinct(k)

  /** Jet `reducing(zero, combine)` (AggregateOperations.java:1209): generic
    * associative fold with O(1) state. `combine` must be associative (and
    * commutative across partitions — Spark does not order merges).
    */
  final class Reducing[T](z: T, combine: (T, T) => T)(implicit enc: Encoder[T])
      extends Aggregator[T, T, T] {
    override def zero: T = z
    override def reduce(b: T, v: T): T = combine(b, v)
    override def merge(a: T, b: T): T = combine(a, b)
    override def finish(b: T): T = b
    override def bufferEncoder: Encoder[T] = enc
    override def outputEncoder: Encoder[T] = enc
  }
  def reducing[T: Encoder](zero: T)(combine: (T, T) => T): Reducing[T] =
    new Reducing[T](zero, combine)
}

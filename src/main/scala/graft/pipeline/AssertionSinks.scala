package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}

/** Test-sink vocabulary (reference: pipeline/test/AssertionSinks.java,
  * Assertions.java:62-242): terminal sinks that assert on the collected
  * results instead of writing them. Shipped in the main artifact, like the
  * reference, so user pipelines can end in an assertion.
  *
  * These sinks collect to the driver by design — they are for bounded test
  * data, never for production-scale outputs (same caveat as the reference's).
  */
object AssertionSinks {

  /** A row rendered for comparison: single-column rows unwrap to the bare
    * value, multi-column rows become their value sequence.
    */
  private def render(r: Row): Any = if (r.length == 1) r.get(0) else r.toSeq

  /** Jet `assertOrdered` (AssertionSinks.java:62): exact content in exact
    * encounter order. Order is only meaningful on a sorted or single-partition
    * frame — the sink coalesces to one partition to make "encounter order"
    * well-defined (Jet runs assertion sinks at local parallelism 1 for the
    * same reason, AssertionSinkBuilder.java).
    */
  def assertOrdered(expected: Seq[Any]): Sink = new Sink {
    def write(df: DataFrame): Unit = {
      val got = df.coalesce(1).collect().map(render).toSeq
      if (got != expected)
        throw new AssertionError(
          s"assertOrdered failed:\n  expected: $expected\n  got:      $got")
    }
  }

  /** Jet `assertAnyOrder` (AssertionSinks.java:102): same multiset of items,
    * any order.
    */
  def assertAnyOrder(expected: Seq[Any]): Sink = new Sink {
    def write(df: DataFrame): Unit = {
      val got = df.collect().map(render).toSeq
      val (g, e) = (got.groupBy(identity).view.mapValues(_.size).toMap,
        expected.groupBy(identity).view.mapValues(_.size).toMap)
      if (g != e)
        throw new AssertionError(
          s"assertAnyOrder failed:\n  expected (any order): $expected\n  got: $got")
    }
  }

  /** Jet `assertContains` (AssertionSinks.java:132): the result contains all
    * expected items (and possibly more).
    */
  def assertContains(expected: Seq[Any]): Sink = new Sink {
    def write(df: DataFrame): Unit = {
      val got = df.collect().map(render).toSet
      val missing = expected.filterNot(got.contains)
      if (missing.nonEmpty)
        throw new AssertionError(s"assertContains failed, missing: $missing (got $got)")
    }
  }

  /** Jet `assertCollectedEventually` (AssertionSinks.java:196): for unbounded
    * stages — start the stream into a memory sink and poll until the assertion
    * passes or the timeout trips. Passes as soon as the predicate holds on any
    * observed snapshot; throws `AssertionError` on timeout (matching the
    * reference's `AssertionCompletedException` inversion: success ends the
    * run).
    */
  def assertCollectedEventually(df: DataFrame, timeoutMs: Long = 10000,
                                pollMs: Long = 100)(p: Seq[Row] => Boolean): Unit = {
    val name = s"graft_assert_${java.util.UUID.randomUUID().toString.take(8)}"
    val spark = df.sparkSession
    val handle = StreamSinks.memory(name, "append").start(df)
    try {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      var last: Seq[Row] = Nil
      while (System.nanoTime() < deadline) {
        handle.processAllAvailable()
        last = spark.table(name).collect().toSeq
        if (p(last)) return
        Thread.sleep(pollMs)
      }
      throw new AssertionError(
        s"assertCollectedEventually: predicate never held within ${timeoutMs}ms; last snapshot: $last")
    } finally {
      handle.cancel()
      JobRegistry.drop(name)
      ()
    }
  }
}

package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-fn sinks (reference: Sinks.mapWithMerging Sinks.java:313,
  * mapWithUpdating Sinks.java:451, mapWithEntryProcessor Sinks.java:650,
  * UpdateMapP.java): conflict resolution must be the user expression, not
  * last-writer-wins.
  */
class MergeSinkSpec extends SparkSpec {

  import spark.implicits._

  test("mapWithMerging resolves key conflicts with the merge expression") {
    KeyedStore.drop("merge_counts")
    val sink = Sinks.mapWithMerging("merge_counts", Seq("k"),
      Map("n" -> (_ + _), "last" -> ((_, n) => n)))
    sink.write(Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("k", "n", "last"))
    sink.write(Seq(("a", 10L, "z"), ("c", 5L, "w")).toDF("k", "n", "last"))
    val out = KeyedStore.get(spark, "merge_counts")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    // a: merged 1+10 (LWW would give 10); b untouched; c inserted
    assert(out.toSeq === Seq(("a", 11L, "z"), ("b", 2L, "y"), ("c", 5L, "w")))
  }

  test("mapWithUpdating sees NULL old value for absent keys and can delete") {
    KeyedStore.drop("upd_store")
    // update: n = coalesce(old,0) + incoming (Jet updateFn with null oldValue)
    val sink = Sinks.mapWithUpdating("upd_store", Seq("k"),
      Map("n" -> ((o, n) => coalesce(o, lit(0L)) + n)),
      deleteWhen = Some((o, n) => n("n") < 0))
    sink.write(Seq(("a", 3L), ("b", 4L)).toDF("k", "n"))
    sink.write(Seq(("a", 7L), ("b", -1L), ("c", 1L)).toDF("k", "n"))
    val out = KeyedStore.get(spark, "upd_store")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    // a updated 3+7; b deleted (negative marker = Jet updateFn returning null);
    // c created from NULL old
    assert(out.toSeq === Seq(("a", 10L), ("c", 1L)))
  }

  test("mapWithEntryProcessor read-modify-writes the targeted entries") {
    KeyedStore.drop("ep_store")
    KeyedStore.upsert("ep_store",
      Seq(("a", 100L), ("b", 200L), ("c", 300L)).toDF("k", "balance"), Seq("k"))
    // EP: apply a debit carried on the incoming row to the stored balance
    val ep = Sinks.mapWithEntryProcessor("ep_store", Seq("k"),
      Map("balance" -> ((old, incoming) => coalesce(old, lit(0L)) - incoming)))
    ep.write(Seq(("a", 30L), ("c", 300L)).toDF("k", "balance"))
    val out = KeyedStore.get(spark, "ep_store")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq === Seq(("a", 70L), ("b", 200L), ("c", 0L)))
  }

  test("partial-schema writes preserve store-only columns") {
    KeyedStore.drop("partial_store")
    KeyedStore.upsert("partial_store",
      Seq(("a", 1L, "keep"), ("b", 2L, "also")).toDF("k", "n", "extra"), Seq("k"))
    // incoming frame lacks `extra`: the merge must not drop it
    KeyedStore.upsertMerging("partial_store", Seq(("a", 10L)).toDF("k", "n"),
      Seq("k"), Map("n" -> (_ + _)))
    val out = KeyedStore.get(spark, "partial_store")
      .select("k", "n", "extra")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(out.toSeq === Seq(("a", 11L, "keep"), ("b", 2L, "also")))
  }

  test("deleteWhen removals journal a DELETE record, not silence") {
    import org.apache.spark.sql.functions.get_json_object
    KeyedStore.drop("delwhen_jrnl")
    KeyedStore.upsert("delwhen_jrnl", Seq(("a", 3L), ("b", 4L)).toDF("k", "n"), Seq("k"))
    val journal = KeyedStore.journal(spark, "delwhen_jrnl")
    val job = StreamSinks.memory("delwhen_jrnl_test", "append")
      .start(journal.select($"op", get_json_object($"key", "$.k").as("k")))
    // b's incoming row trips deleteWhen → the store drops b AND the journal
    // must carry a DELETE for it (a mirror via mapWithUpdating would
    // otherwise keep the stale entry forever)
    KeyedStore.upsertMerging("delwhen_jrnl",
      Seq(("a", 7L), ("b", -1L)).toDF("k", "n"), Seq("k"),
      Map("n" -> ((o, n) => coalesce(o, lit(0L)) + n)),
      updateAlways = true,
      deleteWhen = Some((_, n) => n("n") < 0))
    job.processAllAvailable()
    val events = spark.table("delwhen_jrnl_test").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(events.filter(_._1 == "DELETE").map(_._2) === Seq("b"))
    assert(events.filter(_._1 == "UPSERT").map(_._2).contains("a"))
    job.cancel()
    KeyedStore.drop("delwhen_jrnl")
  }

  test("streaming mapWithMerging accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    KeyedStore.drop("stream_counts")
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val h = StreamSinks.mapWithMerging("stream_counts", Seq("k"), Map("n" -> (_ + _)))
      .start(ms.toDF().toDF("k", "n"))
    ms.addData(("a", 1L), ("b", 2L))
    h.processAllAvailable()
    ms.addData(("a", 5L))
    h.processAllAvailable()
    h.cancel()
    val out = KeyedStore.get(spark, "stream_counts")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq === Seq(("a", 6L), ("b", 2L)))
  }

  test("a replayed micro-batch never double-applies an additive merge; failed batches stay retryable") {
    KeyedStore.drop("replay_store")
    // simulate foreachBatch redelivery: same batchId arrives twice (restart)
    assert(KeyedStore.shouldApplyBatch("replay_store", "j1", 0L))
    KeyedStore.upsertMerging("replay_store", Seq(("a", 5L)).toDF("k", "n"),
      Seq("k"), Map("n" -> (_ + _)))
    KeyedStore.commitBatch("replay_store", "j1", 0L)
    assert(!KeyedStore.shouldApplyBatch("replay_store", "j1", 0L)) // replay → skip
    // an uncommitted (failed) batch is re-deliverable
    assert(KeyedStore.shouldApplyBatch("replay_store", "j1", 1L))
    assert(KeyedStore.shouldApplyBatch("replay_store", "j1", 1L))
    KeyedStore.upsertMerging("replay_store", Seq(("a", 2L)).toDF("k", "n"),
      Seq("k"), Map("n" -> (_ + _)))
    KeyedStore.commitBatch("replay_store", "j1", 1L)
    // an independent job writing the same store has its own mark
    assert(KeyedStore.shouldApplyBatch("replay_store", "j2", 0L))
    val n = KeyedStore.get(spark, "replay_store").collect().head.getLong(1)
    assert(n === 7L) // 5 + 2, not 5 + 5 + 2
  }

  test("store snapshots coalesce under AQE (cached plans must not pin shuffle width)") {
    // a KB-sized store snapshot must not run (and stay) at the session's
    // full shuffle width — 32 near-empty tasks per mutation at engine
    // defaults, the r5/r6 q67 inflation (BASELINE.md round 7). KeyedStore
    // checkpoints each snapshot from the AQE-coalesced final plan.
    KeyedStore.drop("aqe_store")
    val agg = Seq.tabulate(100)(i => (i % 7, i.toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s")) // a real exchange feeds the store
    KeyedStore.upsert("aqe_store", agg, Seq("k"))
    val parts = KeyedStore.get(spark, "aqe_store").rdd.getNumPartitions
    assert(parts <= 2,
      s"tiny store snapshot kept $parts partitions — AQE cached-plan coalescing is off")
    KeyedStore.drop("aqe_store")
  }
}

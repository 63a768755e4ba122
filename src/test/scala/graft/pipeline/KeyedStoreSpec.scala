package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** KeyedStore snapshots: a write's cost and a read's plan do not grow with
  * the store's history, readers keep the snapshot they took, snapshots
  * nothing references are freed, and a failed journal write leaves the
  * store as it was.
  */
class KeyedStoreSpec extends SparkSpec {

  import spark.implicits._

  private val Upserts = 30

  /** Batch `i`: keys i%5 and 5+i%3, both stamped with value i. */
  private def batch(i: Int): DataFrame =
    Seq((i % 5, i.toLong), (5 + i % 3, i.toLong)).toDF("k", "v")

  /** The store after batches 1..n under last-writer-wins. */
  private def expected(n: Int): Map[Int, Long] =
    (1 to n).flatMap(i => Seq(i % 5 -> i.toLong, (5 + i % 3) -> i.toLong)).toMap

  private def contents(df: DataFrame): Map[Int, Long] =
    df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Every node of a physical plan, cached relations' plans and AQE
    * subplans included.
    */
  private def nodeCount(n: TreeNode[_]): Int =
    1 + (n.children ++ n.innerChildren).map(c => nodeCount(c.asInstanceOf[TreeNode[_]])).sum

  private def pointReadNodes(store: String): Int = {
    val read = KeyedStore.get(spark, store).filter($"k" === 3)
    read.collect()
    nodeCount(read.queryExecution.executedPlan)
  }

  private def persistentRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** Collect garbage until `ok` holds, for at most 10 s. */
  private def afterGc(ok: => Boolean): Boolean = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var done = false
    while (!done && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
      done = ok
    }
    done
  }

  test(s"$Upserts upserts: a point read's executed plan stays the size it had after upsert 2") {
    val store = "ks_history"
    KeyedStore.drop(store)
    var second = -1
    (1 to Upserts).foreach { i =>
      KeyedStore.upsert(store, batch(i), Seq("k"))
      if (i == 2) second = pointReadNodes(store)
    }
    assert(pointReadNodes(store) === second)
    assert(contents(KeyedStore.get(spark, store)) === expected(Upserts))
    KeyedStore.drop(store)
  }

  test("a frame and a stream-static mapUsingIMap query taken before the upserts keep their snapshot") {
    val store = "ks_stale"
    KeyedStore.drop(store)
    KeyedStore.upsert(store, batch(1), Seq("k"))
    val stale = KeyedStore.get(spark, store)
    val staleRows = contents(stale)

    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[Int]
    val enriched = new StreamStage(events.toDF().toDF("ev_k"), "ev_k")
      .mapUsingIMap(store, $"ev_k" === $"k")
    val query = enriched.df.select($"ev_k", $"v").writeStream
      .format("memory").queryName("ks_stale_out").outputMode("append").start()
    try {
      events.addData(1, 6)
      query.processAllAvailable()
      (2 to Upserts).foreach(i => KeyedStore.upsert(store, batch(i), Seq("k")))
      events.addData(1, 6)
      query.processAllAvailable()
      assert(query.exception.isEmpty, query.exception)
      assert(contents(stale) === staleRows)
      // both micro-batches joined the store as of query start: key 1 and 6 from batch 1
      val out = spark.table("ks_stale_out").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
      assert(out === Seq((1, 1L), (1, 1L), (6, 1L), (6, 1L)))
      assert(contents(KeyedStore.get(spark, store)) === expected(Upserts))
    } finally query.stop()
    KeyedStore.drop(store)
  }

  test("snapshots nothing references are freed: persistent RDDs = live stores + stale frames held") {
    val store = "ks_leak"
    KeyedStore.drop(store)
    System.gc()
    val before = persistentRdds
    KeyedStore.upsert(store, batch(1), Seq("k"))
    val stale = KeyedStore.get(spark, store)
    (2 to Upserts).foreach(i => KeyedStore.upsert(store, batch(i), Seq("k")))
    // one live store (its map entry and view share one snapshot) + one stale frame
    assert(afterGc(persistentRdds <= before + 2),
      s"$persistentRdds persistent RDDs, at most ${before + 2} expected")
    assert(contents(stale) === expected(1))
    KeyedStore.drop(store)
  }

  test("a failed journal write throws and leaves the store unchanged; the retry commits") {
    val store = "ks_jfail"
    KeyedStore.drop(store)
    KeyedStore.upsert(store, batch(1), Seq("k"))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def journalDirs: Set[Path] = {
      val ls = Files.list(tmp)
      try ls.toArray.map(_.asInstanceOf[Path]).toSet
        .filter(_.getFileName.toString.startsWith(s"graft_journal_${store}_"))
      finally ls.close()
    }
    val earlier = journalDirs
    assert(KeyedStore.journal(spark, store).isStreaming)
    val Seq(dir) = (journalDirs -- earlier).toSeq
    // the subscriber's dir becomes a plain file: its parquet append must fail
    Files.delete(dir)
    Files.write(dir, Array[Byte](1))
    intercept[Exception](KeyedStore.upsert(store, batch(2), Seq("k")))
    assert(contents(KeyedStore.get(spark, store)) === expected(1))
    assert(contents(spark.table(store)) === expected(1))

    Files.delete(dir)
    Files.createDirectory(dir)
    KeyedStore.upsert(store, batch(2), Seq("k"))
    assert(contents(KeyedStore.get(spark, store)) === expected(2))
    val journaled = spark.read.parquet(dir.toString).select("op", "key").collect()
      .map { case Row(op: String, key: String) => (op, key) }.toSeq.sorted
    assert(journaled === Seq(("UPSERT", """{"k":2}"""), ("UPSERT", """{"k":7}""")))
    KeyedStore.drop(store)
  }
}

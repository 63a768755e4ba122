package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** In-memory named KV/table store — the engine's stand-in for Hazelcast's IMap /
  * IList surface that Jet sources, sinks, and lookup joins depend on
  * (reference: Sources.map Sources.java:172, Sinks.map Sinks.java:136,
  * mapUsingIMap GeneralStage.java:678).
  *
  * Implementation: named snapshot DataFrames on the driver's catalog. Upsert is
  * last-writer-wins per key, implemented as union + keep-newest (a batch MERGE).
  * Every mutation commits through one step ([[commit]]): the next snapshot is
  * an eagerly local-checkpointed leaf with no lineage back to earlier ones, so
  * a write costs what its batch and the current contents cost, never what the
  * store's history cost. A frame read from the store keeps reading its
  * snapshot; Spark's ContextCleaner frees a snapshot's blocks once nothing
  * (store, view, frame or running query) references it.
  * This is a correctness-first single-session stand-in: at 100 TB scale the
  * store's role is played by a real table format (Delta/Iceberg MERGE) — the
  * API here is the stable seam where that swap happens.
  */
object KeyedStore {

  private val tables = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private val versions = new java.util.concurrent.atomic.AtomicLong(0)

  // per-store mutation lock: journal-before-swap means there is a window where
  // the journal already carries an UPSERT but `tables` still holds the old
  // frame — a journal(startFromOldest) subscription landing inside that window
  // would SYNC the STALE state at a HIGHER version and a version-ordered
  // consumer would converge to it. Store mutations and journal subscription
  // both run on the driver, so a coarse per-name lock closes the window at no
  // distributed cost (the locked section launches Spark jobs, it doesn't
  // serialize executor work beyond what the store swap already implies).
  private val storeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def locked[A](name: String)(body: => A): A =
    storeLocks.computeIfAbsent(name, _ => new Object).synchronized(body)

  // per-store change-journal directories, ONE PER SUBSCRIBER: parquet files
  // appended by upsert/delete (a DISTRIBUTED write — no rows pass through the
  // driver) and consumed as a file-stream source. Each journal() call gets a
  // private dir so START_FROM_CURRENT subscribers start empty and
  // startFromOldest SYNC snapshots reach only their own subscriber (Jet: every
  // journal consumer tracks its own read position). This is the scale-correct
  // journal shape: at 100 TB the dirs are object-store prefixes and the
  // writers are executors.
  private val journalDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.List[String]]()

  private val journalSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "op STRING, version BIGINT, key STRING, value STRING")

  // key columns last used to upsert each store, so SYNC records can emit the
  // SAME key shape as later UPSERT/DELETE records (the journal contract: state
  // keyed off `key` must be consistent for one entry across record types)
  private val storeKeys = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def changeFrame(df: DataFrame, keyCols: Seq[String], op: String,
                          version: Long): DataFrame =
    df.select(
      lit(op).as("op"), lit(version).as("version"),
      to_json(struct(keyCols.map(col): _*)).as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  private def recordChanges(name: String, df: DataFrame, keyCols: Seq[String], op: String): Unit =
    Option(journalDirs.get(name)).foreach { dirs =>
      if (!dirs.isEmpty) {
        val frame = changeFrame(df, keyCols, op, versions.incrementAndGet())
        // >1 subscriber: pin the frame so every dir gets IDENTICAL rows even
        // if the source plan is nondeterministic, and the plan runs once
        val pinned = if (dirs.size > 1) { val c = frame.cache(); c.count(); c } else frame
        try dirs.forEach(dir => pinned.write.mode("append").parquet(dir))
        finally if (dirs.size > 1) { pinned.unpersist(); () }
      }
    }

  /** Jet `Sources.mapJournal` (Sources.java:381, StreamEventJournalP) with
    * `JournalInitialPosition` semantics (pipeline/JournalInitialPosition.java):
    * an unbounded stream of this store's changes as (op, version, key, value)
    * rows with JSON-encoded key/row. START_FROM_CURRENT (default) emits only
    * changes after subscription — the journal dir starts empty and only
    * accumulates from first subscription, so the file stream naturally sees
    * nothing earlier. `startFromOldest` first writes one SYNC record per
    * existing entry (Jet's initial-snapshot replay) — also a distributed
    * write, so a 100 TB store snapshot never passes through the driver.
    */
  def journal(spark: SparkSession, name: String,
              startFromOldest: Boolean = false): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_journal_${name}_").toString
    // the whole subscription (version allocation + dir registration + SYNC
    // snapshot) runs under the store's mutation lock: a mutation can therefore
    // never be mid-journal-before-swap while we snapshot — the SYNC sees
    // either the fully-swapped new state or the old state with our dir
    // registered BEFORE the mutation journals (so the change reaches us too)
    locked(name) {
      val syncVersion = versions.incrementAndGet()
      journalDirs.computeIfAbsent(name,
        _ => java.util.Collections.synchronizedList(new java.util.ArrayList[String]()))
        .add(dir)
      if (startFromOldest && tables.containsKey(name)) {
        val cur = get(spark, name)
        val keyCols = Option(storeKeys.get(name)).getOrElse(cur.columns.toSeq)
        changeFrame(cur, keyCols, "SYNC", syncVersion).write.mode("append").parquet(dir)
      }
    }
    spark.readStream.schema(journalSchema).parquet(dir)
  }

  /** The one commit step of every mutation, run under the store's lock:
    * materialize `next` with an eager `localCheckpoint` (a leaf whose plan
    * holds no earlier snapshot), journal the change from it, then swap it in
    * and register the view. Journal-before-swap: a failed journal write
    * leaves the store untouched, so a caller's retry re-applies cleanly (the
    * journal may then hold a duplicate record for the failed attempt —
    * benign for version-keyed consumers; a doubled MERGE would not be). The
    * replaced snapshot is not released here: frames read from it and running
    * queries over it keep working, and Spark frees its blocks once they let
    * go of it.
    */
  private def commit(name: String, next: DataFrame)(record: DataFrame => Unit): Unit = {
    val snap = next.localCheckpoint(eager = true)
    record(snap)
    tables.put(name, snap)
    snap.createOrReplaceTempView(name)
  }

  def put(name: String, df: DataFrame): Unit = locked(name) {
    commit(name, df)(_ => ())
  }

  def get(spark: SparkSession, name: String): DataFrame =
    Option(tables.get(name)).getOrElse(
      throw new IllegalArgumentException(s"KeyedStore: no table '$name'"))

  def exists(name: String): Boolean = tables.containsKey(name)

  def names: Seq[String] = {
    import scala.jdk.CollectionConverters._
    tables.keySet().asScala.toSeq.sorted
  }

  /** Last-writer-wins upsert by key columns (Jet `Sinks.map` semantics: new
    * entries replace existing keys).
    */
  def upsert(name: String, df: DataFrame, keyCols: Seq[String]): Unit = locked(name) {
    require(keyCols.nonEmpty, "upsert needs key columns")
    storeKeys.put(name, keyCols)
    val next = Option(tables.get(name)).fold(df) { old =>
      // incoming rows (1) rank over stored ones (0) with the same key
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__incoming").desc)
      old.withColumn("__incoming", lit(0)).unionByName(df.withColumn("__incoming", lit(1)))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__incoming")
    }
    commit(name, next)(_ => recordChanges(name, df, keyCols, "UPSERT"))
  }

  /** Expression-based MERGE upsert — the engine behind Jet's merge-fn sinks
    * (`Sinks.mapWithMerging` Sinks.java:313, `mapWithUpdating` Sinks.java:451,
    * `UpdateMapP.java`): on key conflict, each value column is combined by a
    * caller-supplied expression over (old, incoming) instead of
    * last-writer-wins. Shape: old FULL OUTER JOIN incoming on the keys, then a
    * per-column conditional projection — a batch MERGE whose conflict logic is
    * a Catalyst expression, so the whole resolution runs in codegen (the Spark
    * analog of Jet's merge lambda, and the exact statement a Delta/Iceberg
    * `MERGE WHEN MATCHED THEN UPDATE SET` swap would take at 100 TB).
    *
    * `mergeFn`: value column → (old, incoming) → merged. Columns without an
    * entry take the incoming value on conflict (LWW).
    * `updateAlways=false` (merging): merge fns fire only when BOTH sides exist.
    * `true` (updating): fns fire for every incoming row; an absent old entry
    * reads as NULL columns — Jet passes `null` oldValue to updateFn.
    * `deleteWhen(old, incoming)`: matched rows where this predicate holds are
    * removed — Jet's "updateFn returned null removes the entry".
    *
    * Contract: the incoming frame carries at most ONE row per key (the usual
    * MERGE source contract — Delta/Iceberg MERGE reject multi-matching source
    * rows too). Pre-aggregate upstream when a batch can repeat keys.
    */
  def upsertMerging(name: String, df: DataFrame, keyCols: Seq[String],
                    mergeFn: Map[String, (Column, Column) => Column],
                    updateAlways: Boolean = false,
                    deleteWhen: Option[(String => Column, String => Column) => Column] = None): Unit = locked(name) {
    require(keyCols.nonEmpty, "upsertMerging needs key columns")
    storeKeys.put(name, keyCols)
    val spark = df.sparkSession
    val existing = Option(tables.get(name))
    if (existing.isEmpty && !updateAlways && deleteWhen.isEmpty) {
      // first write with plain merging semantics: every key is absent, so the
      // result IS the incoming frame — skip the join entirely
      upsert(name, df, keyCols)
      return
    }
    val old = existing.getOrElse(
      spark.createDataFrame(new java.util.ArrayList[Row](), df.schema))
    val o = old.withColumn("__op", lit(true)).alias("__o")
    val n = df.withColumn("__np", lit(true)).alias("__n")
    val oc = (c: String) => col(s"__o.$c")
    val nc = (c: String) => col(s"__n.$c")
    // null-safe key equality: NULL keys merge like any other key value
    val joinCond = keyCols.map(k => oc(k) <=> nc(k)).reduce(_ && _)
    val joined = o.join(n, joinCond, "full_outer")
    val kept = deleteWhen.fold(joined)(p =>
      joined.filter(not(nc("__np").isNotNull && coalesce(p(oc, nc), lit(false)))))
    // value columns = UNION of both sides (old's order first): a column the
    // incoming frame doesn't carry is preserved from the store, and a column
    // new to the store is NULL for untouched rows — columns are never
    // silently dropped by a partial-schema write
    val oldValueCols = old.columns.filterNot(keyCols.contains).toSeq
    val newValueCols = df.columns.filterNot(keyCols.contains).toSeq
    val valueCols = oldValueCols ++ newValueCols.filterNot(oldValueCols.contains)
    val keySel = keyCols.map(k => coalesce(nc(k), oc(k)).as(k))
    val valSel = valueCols.map { c =>
      val resolved =
        if (!newValueCols.contains(c)) oc(c)
        else if (!oldValueCols.contains(c)) when(nc("__np").isNotNull, nc(c))
        else mergeFn.get(c) match {
          case Some(f) if updateAlways =>
            when(nc("__np").isNotNull, f(oc(c), nc(c))).otherwise(oc(c))
          case Some(f) =>
            when(oc("__op").isNotNull && nc("__np").isNotNull, f(oc(c), nc(c)))
              .when(nc("__np").isNotNull, nc(c)).otherwise(oc(c))
          case None =>
            when(nc("__np").isNotNull, nc(c)).otherwise(oc(c))
        }
      resolved.as(c)
    }
    // the semi join is null-safe (<=>) like the merge itself, so NULL-keyed
    // rows journal too
    val touched = df.select(keyCols.map(c => col(c).as(s"__t_$c")): _*).dropDuplicates()
    val semiCond = keyCols.map(k => col(k) <=> col(s"__t_$k")).reduce(_ && _)
    commit(name, kept.select(keySel ++ valSel: _*)) { snap =>
      // deleteWhen removals journal as DELETE records (mirroring delete()):
      // the left_semi UPSERT join below only covers keys that SURVIVED the
      // merge, so without this a subscriber mirroring the store would keep
      // the removed entry forever. The deleted key set = old keys no longer
      // present in the new snapshot — derived from the two materialized
      // snapshots (old, snap) with a null-safe anti join, so the full-outer
      // merge join is never re-executed for journaling.
      deleteWhen.foreach { _ =>
        val snapKeys = snap
          .select(keyCols.map(c => col(c).as(s"__s_$c")): _*).dropDuplicates()
        val antiCond = keyCols.map(k => col(k) <=> col(s"__s_$k")).reduce(_ && _)
        val deleted = old.select(keyCols.map(col): _*).dropDuplicates()
          .join(snapKeys, antiCond, "left_anti")
        recordChanges(name, deleted, keyCols, "DELETE")
      }
      recordChanges(name, snap.join(touched, semiCond, "left_semi"), keyCols, "UPSERT")
    }
  }

  /** Delete by key (CDC DELETE ops): anti-join against the key set. */
  def delete(name: String, keysDf: DataFrame, keyCols: Seq[String]): Unit = locked(name) {
    Option(tables.get(name)).foreach { old =>
      val remaining = old.join(
        keysDf.select(keyCols.map(col): _*).dropDuplicates(), keyCols, "left_anti")
      commit(name, remaining)(_ =>
        recordChanges(name, keysDf.select(keyCols.map(col): _*), keyCols, "DELETE"))
    }
  }

  /** IList-style append. Journaled (op APPEND) so `Sinks.reliableTopic` readers
    * can subscribe to the list as a stream.
    */
  def append(name: String, df: DataFrame): Unit = locked(name) {
    commit(name, Option(tables.get(name)).map(_.unionByName(df)).getOrElse(df))(_ =>
      recordChanges(name, df, df.columns.toSeq, "APPEND"))
  }

  // last streaming batchId successfully MERGEd per (store, jobId):
  // foreachBatch re-delivers the in-flight batch after a restart, and a
  // re-applied ADDITIVE merge would double-count. The mark advances only
  // AFTER the merge commits (a failed batch must be retryable), and keying by
  // jobId keeps two queries feeding one store from clobbering each other's
  // high-water marks (batchIds are per-query).
  private val appliedBatch =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()

  /** True iff this (store, job, batchId) has NOT been applied yet — a batchId
    * at or below the job's high-water mark is a redelivery. Pure check: call
    * `commitBatch` after the merge succeeds. Keyed by the (store, job) PAIR —
    * no delimiter encoding, so names containing any character can't collide.
    */
  def shouldApplyBatch(name: String, jobId: String, batchId: Long): Boolean =
    batchId > appliedBatch.getOrDefault((name, jobId), -1L)

  /** Record a successfully merged batch — the point of no redelivery. */
  def commitBatch(name: String, jobId: String, batchId: Long): Unit = {
    appliedBatch.put((name, jobId), batchId)
    ()
  }

  def drop(name: String): Unit = locked(name) {
    storeKeys.remove(name)
    Option(journalDirs.remove(name)).foreach(_.forEach { dir =>
      // journal dirs are temp parquet trees — reclaim them with the store
      TempFiles.deleteTree(dir)
    })
    appliedBatch.keySet().removeIf(_._1 == name)
    // only the store's own reference goes: the view and any frame read from
    // the store keep the snapshot until they release it
    tables.remove(name)
    ()
  }

  def clear(): Unit = { names.foreach(drop); () }
}

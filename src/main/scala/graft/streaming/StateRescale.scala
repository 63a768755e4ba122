package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.StateBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.{Partitioner, TaskContext}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Offline state-width rescale — the missing half of Jet's
  * suspend → exportSnapshot → resume-at-new-parallelism cycle (reference:
  * hazelcast-jet-core/src/main/java/com/hazelcast/jet/Job.java:39+
  * `exportSnapshot`, sql/impl/SqlCreateSnapshot.java). Spark pins a stateful
  * query's state partition count to the `spark.sql.shuffle.partitions`
  * recorded in its checkpoint at first start (RescaleRestartSpec pins that
  * behavior); CHANGING the width therefore needs an offline rewrite:
  *
  *   1. read every operator's state from the old checkpoint with Spark's
  *      `statestore` data source (public reader, any provider),
  *   2. re-route each state row to the partition
  *      `HashPartitioning(keyColumns, newWidth)` will expect — `pmod(
  *      murmur3(key fields), newWidth)`, the exact distribution the resumed
  *      query's stateful operators require,
  *   3. bootstrap a fresh checkpoint that PRESERVES the original batch
  *      numbering: the old run's last committed offsets become
  *      `offsets/<B>` (conf rewritten to the new width, watermark + source
  *      positions verbatim), its commit becomes `commits/<B>`, and every new
  *      partition commits a state version chain up to `B + 1` through the
  *      provider API ([[StateBridge.writeStatePartition]]).
  *
  * The resumed query then plans batch `B + 1` from the recorded end offsets
  * at the NEW width with the full state redistributed — Jet's rescale
  * observable behavior, expressed in checkpoint surgery instead of a
  * Ringbuffer snapshot. Batch numbering is preserved (not reset to 0) because
  * idempotent sinks track committed batch ids ACROSS restarts — a FileSink
  * `_spark_metadata` that already holds batch 1 silently skips a replayed
  * batch 1, and with it the whole first post-rescale micro-batch (measured:
  * the skipped batch never runs the state stage, and the next one dies on the
  * missing state version). Scale note: step 2 is a single shuffle of the
  * state rows (the only data this touches — never the source data), and
  * step 3 writes each partition from its executor; the driver handles only
  * the three metadata files.
  *
  * Covers every built-in stateful layout: flatMapGroupsWithState / windowed
  * / global aggregation (no-prefix keys), stream-stream join (four stores
  * per operator; keyWithIndexToValue routes by the join keys WITHOUT the
  * trailing index column), and session windows (prefix-scan keys — routed by
  * the numColsPrefixKey prefix and re-written with the prefix-scan encoder
  * spec so range scans survive).
  */
object StateRescale {

  /** The state width recorded in the checkpoint (what the query will resume
    * at regardless of the session conf).
    */
  def recordedWidth(checkpoint: String): Int = {
    val (_, meta, _) = readOffsets(checkpoint, lastCommittedBatch(checkpoint))
    widthRe.findFirstMatchIn(meta)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"no spark.sql.shuffle.partitions in $checkpoint offsets metadata"))
  }

  def lastCommittedBatch(checkpoint: String): Long = {
    val commits = Paths.get(checkpoint, "commits")
    require(Files.isDirectory(commits), s"no commits log under $checkpoint")
    val ids = Files.list(commits).iterator().asScala
      .map(_.getFileName.toString).filter(_.matches("\\d+")).map(_.toLong).toSeq
    require(ids.nonEmpty, s"no committed batch under $checkpoint")
    ids.max
  }

  /** Rewrite `oldCkpt` into a fresh checkpoint at `newCkpt` whose stateful
    * operators run at `newWidth` partitions. The old checkpoint is not
    * touched; the query must be stopped (batch-aligned) first.
    */
  def rewrite(spark: SparkSession, oldCkpt: String, newCkpt: String,
              newWidth: Int): Unit = {
    require(newWidth > 0, s"newWidth must be positive, got $newWidth")
    val batch = lastCommittedBatch(oldCkpt)
    val (version, meta, sourceLines) = readOffsets(oldCkpt, batch)

    // ---- metadata files: offsets/<B> (new width), commits/<B>, metadata, sources/
    val dst = Paths.get(newCkpt)
    Files.createDirectories(dst.resolve("offsets"))
    Files.createDirectories(dst.resolve("commits"))
    val newMeta = widthRe.replaceAllIn(meta,
      java.util.regex.Matcher.quoteReplacement(
        s""""spark.sql.shuffle.partitions":"$newWidth""""))
    write(dst.resolve(s"offsets/$batch"), (version +: newMeta +: sourceLines).mkString("\n"))
    write(dst.resolve(s"commits/$batch"),
      new String(Files.readAllBytes(Paths.get(oldCkpt, "commits", batch.toString))))
    if (batch > 0) {
      // restart also reads offsets/<B-1> to seed committedOffsets
      val (pv, pm, ps) = readOffsets(oldCkpt, batch - 1)
      val pMeta = widthRe.replaceAllIn(pm,
        java.util.regex.Matcher.quoteReplacement(
          s""""spark.sql.shuffle.partitions":"$newWidth""""))
      write(dst.resolve(s"offsets/${batch - 1}"), (pv +: pMeta +: ps).mkString("\n"))
    }
    write(dst.resolve("metadata"), s"""{"id":"${java.util.UUID.randomUUID()}"}""")
    val oldSources = Paths.get(oldCkpt, "sources")
    if (Files.isDirectory(oldSources)) copyTree(oldSources, dst.resolve("sources"))

    // the original run's recorded conf governs provider class/format/codec
    val ckptConf = confRe.findAllMatchIn(meta).map(m => m.group(1) -> m.group(2)).toMap
    val storeConf = StateBridge.stateStoreConf(spark, ckptConf)

    // ---- per-operator state rewrite
    val operators = spark.read.format("state-metadata").load(oldCkpt)
      .select("operatorId", "operatorName", "stateStoreName").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    require(operators.nonEmpty, s"no stateful operator under $oldCkpt")
    for ((opId, opName, storeName) <- operators) {
      // per-store routing rule:
      //  - a join's keyWithIndexToValue store keys are [joinKeys..., index],
      //    but the operator distributes by the JOIN KEYS alone — the index
      //    column must not participate in the hash
      //  - a prefix-scan store (session windows: [groupKeys..., sessionStart],
      //    numColsPrefixKey = groupKeys) distributes by the prefix columns
      //    and must keep its prefix-scan encoder spec
      val numColsPrefixKey = prefixKeyCols(oldCkpt, opId, storeName)
      val df = spark.read.format("statestore")
        .option("operatorId", opId).option("storeName", storeName)
        .option("batchId", batch)
        .load(oldCkpt)
      val keySchema = df.schema("key").dataType.asInstanceOf[StructType]
      val routeFields =
        if (storeName.endsWith("keyWithIndexToValue")) keySchema.fieldNames.dropRight(1)
        else if (numColsPrefixKey > 0) keySchema.fieldNames.take(numColsPrefixKey)
        else keySchema.fieldNames
      rewriteStore(spark, df, s"$newCkpt/state", opId, storeName, newWidth,
        storeConf, targetVersion = batch + 1, routeFields.toSeq, numColsPrefixKey)
      // schema file: layout-identical state, so the old run's schema file is
      // authoritative — lives under partition 0's (per-store) _metadata
      val storeDir = if (storeName == "default") Nil else Seq(storeName)
      val oldSchema = Paths.get(oldCkpt,
        (Seq("state", opId.toString, "0") ++ storeDir ++ Seq("_metadata", "schema")): _*)
      if (Files.exists(oldSchema)) {
        val dstSchema = dst.resolve(
          (Seq("state", opId.toString, "0") ++ storeDir ++ Seq("_metadata", "schema"))
            .mkString("/"))
        Files.createDirectories(dstSchema.getParent)
        Files.copy(oldSchema, dstSchema, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // operator metadata records numPartitions — rewrite it (once per operator)
    for (opId <- operators.map(_._1).distinct) {
      val oldOpMeta = Paths.get(oldCkpt, "state", opId.toString, "_metadata", "metadata")
      if (Files.exists(oldOpMeta)) {
        val rewritten = new String(Files.readAllBytes(oldOpMeta))
          .replaceAll(""""numPartitions"\s*:\s*\d+""", s""""numPartitions":$newWidth""")
        val dstOpMeta = dst.resolve(s"state/$opId/_metadata/metadata")
        Files.createDirectories(dstOpMeta.getParent)
        write(dstOpMeta, rewritten)
      }
    }
  }

  /** numColsPrefixKey for a store, from the operator metadata file (absent or
    * unparseable → 0, the no-prefix layout).
    */
  private def prefixKeyCols(ckpt: String, opId: Long, storeName: String): Int = {
    val p = Paths.get(ckpt, "state", opId.toString, "_metadata", "metadata")
    if (!Files.exists(p)) return 0
    try {
      val text = new String(Files.readAllBytes(p))
      val json = text.substring(text.indexOf('\n') + 1) // strip "v1" header
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val stores = mapper.readTree(json).path("stateStoreInfo").elements()
      var n = 0
      while (stores.hasNext) {
        val st = stores.next()
        if (st.path("storeName").asText() == storeName)
          n = st.path("numColsPrefixKey").asInt(0)
      }
      n
    } catch { case _: Exception => 0 }
  }

  /** One store: route rows by the resumed query's hash distribution and
    * commit every partition (empty ones included — the provider requires
    * version 1 to exist for each partition id).
    */
  private def rewriteStore(spark: SparkSession, df: DataFrame, stateRoot: String,
                           opId: Long, storeName: String, newWidth: Int,
                           storeConf: org.apache.spark.sql.execution.streaming.state.StateStoreConf,
                           targetVersion: Long, routeFields: Seq[String],
                           numColsPrefixKey: Int): Unit = {
    val keySchema = df.schema("key").dataType.asInstanceOf[StructType]
    val valueSchema = df.schema("value").dataType.asInstanceOf[StructType]
    // functions.hash = Murmur3Hash(seed 42) over the DISTRIBUTION key columns
    // in order — identical to HashPartitioning.partitionIdExpression, which
    // is what the resumed stateful operator requires of its child
    // distribution (for joins/sessions that is a PREFIX of the store key)
    val keyCols = routeFields.map(f => col("key").getField(f))
    val routed = df
      .withColumn("_pid", pmod(hash(keyCols.toIndexedSeq: _*), lit(newWidth)))
      .select(col("_pid"), col("key"), col("value"))
      .rdd.map(r => (r.getInt(0), (r.getStruct(1), r.getStruct(2))))
      .partitionBy(new IdentityPartitioner(newWidth))
    routed.foreachPartition { it =>
      val pid = TaskContext.getPartitionId()
      StateBridge.writeStatePartition(stateRoot, opId, pid, storeName,
        keySchema, valueSchema, storeConf, targetVersion, it.map(_._2),
        numColsPrefixKey)
    }
  }

  private val widthRe = """"spark\.sql\.shuffle\.partitions"\s*:\s*"(\d+)"""".r
  private val confRe = """"(spark\.sql\.[\w.]+)"\s*:\s*"([^"]*)"""".r

  private def readOffsets(ckpt: String, batch: Long): (String, String, Seq[String]) = {
    val text = new String(Files.readAllBytes(Paths.get(ckpt, "offsets", batch.toString)))
    val lines = text.split("\n", -1).toSeq
    require(lines.size >= 2, s"malformed offsets/$batch under $ckpt")
    (lines.head, lines(1), lines.drop(2))
  }

  private def write(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes("UTF-8"))
    ()
  }

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
      }
    }
}

/** Routes a pre-computed partition id to itself — state rows must land on
  * exactly the partition the hash distribution chose, not a re-hash of it.
  */
private[streaming] final class IdentityPartitioner(n: Int) extends Partitioner {
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = key.asInstanceOf[Int]
}

package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.io.IOException
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Elasticsearch-shaped source/sink over the real REST protocol (reference:
  * extensions/elasticsearch/elasticsearch-7/src/main/java/com/hazelcast/jet/
  * elastic/ElasticSourceBuilder.java and ElasticSinkBuilder.java), built
  * Spark-first:
  *
  *   - source = one Spark partition per SLICE of a sliced scroll
  *     (ElasticSourceP.java:78-89: sliceId = processor index, max = total
  *     parallelism) — each task opens its own scroll, pages independently,
  *     and clears its context when done. This is the co-located parallel-read
  *     contract: at cluster scale each slice maps to a shard-local reader,
  *     and no single node sees the whole result set.
  *   - sink = per-partition `_bulk` NDJSON batches with bounded retry +
  *     exponential backoff on 429/IO errors (ElasticSinkBuilder.java:188,
  *     impl/RetryUtils.java:44) — idempotent because documents carry
  *     explicit ids (index = upsert in ES).
  *
  * Works against any endpoint speaking this subset; exercised in-sandbox
  * against [[InMemoryElastic]] (zero egress — the cluster is the only stubbed
  * part, the wire is real HTTP).
  */
object ElasticShaped {

  /** `ElasticSources.builder()` analog. `slices <= 0` means use the session
    * shuffle-partition default.
    */
  final case class SourceBuilder(
      endpoint: String,
      index: String,
      slicing: Boolean = false,
      slices: Int = 0,
      pageSize: Int = 500,
      scrollKeepAlive: String = "1m",
      retries: Int = 5) {

    def enableSlicing(): SourceBuilder = copy(slicing = true)
    def withSlices(n: Int): SourceBuilder = copy(slices = n)
    def withPageSize(n: Int): SourceBuilder = copy(pageSize = n)

    /** Build the DataFrame: columns `(id STRING, doc STRING)` — the hit `_id`
      * and raw `_source` JSON; parse downstream with `from_json` (the
      * `mapToItemFn` analog stays in Catalyst where it belongs).
      */
    def build(spark: SparkSession): DataFrame = {
      val effSlices =
        if (!slicing) 1
        else if (slices > 0) slices
        else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val (ep, idx, size, keep, ret) = (endpoint, index, pageSize, scrollKeepAlive, retries)
      val rdd = spark.sparkContext
        .parallelize(0 until effSlices, effSlices)
        .mapPartitions { sliceIds =>
          sliceIds.flatMap { sliceId =>
            readSlice(ep, idx, sliceId, effSlices, size, keep, ret)
          }
        }
        .map { case (id, doc) => Row(id, doc) }
      spark.createDataFrame(rdd,
        StructType(Seq(StructField("id", StringType), StructField("doc", StringType))))
    }
  }

  /** `ElasticSinks`/`ElasticSinkBuilder` analog: writes `(id, doc-json)` rows. */
  final case class SinkBuilder(
      endpoint: String,
      index: String,
      bulkSize: Int = 500,
      retries: Int = 5) {

    /** Bulk-write the frame; expects columns `id` and `doc`. */
    def write(df: DataFrame): Unit = {
      val (ep, idx, bs, ret) = (endpoint, index, bulkSize, retries)
      df.select("id", "doc").foreachPartition { (rows: Iterator[Row]) =>
        val batch = mutable.ArrayBuffer.empty[(String, String)]
        def flush(): Unit = if (batch.nonEmpty) {
          val body = batch
            .map { case (id, doc) =>
              s"""{"index":{"_index":"$idx","_id":"${escape(id)}"}}""" + "\n" + doc
            }
            .mkString("", "\n", "\n")
          withRetry(ret)(post(s"$ep/_bulk", body))
          batch.clear()
        }
        for (r <- rows) {
          batch += ((r.getString(0), r.getString(1)))
          if (batch.size >= bs) flush()
        }
        flush()
      }
    }
  }

  // ------------------------------------------------------------ scroll reader

  /** One slice's full scroll: open → page → clear, with retry on each call. */
  private def readSlice(
      endpoint: String,
      index: String,
      sliceId: Int,
      sliceMax: Int,
      pageSize: Int,
      keepAlive: String,
      retries: Int): Iterator[(String, String)] = {
    val mapper = new ObjectMapper()
    val sliceClause =
      if (sliceMax > 1) s""","slice":{"id":$sliceId,"max":$sliceMax}""" else ""
    val first = withRetry(retries)(post(
      s"$endpoint/$index/_search?scroll=$keepAlive",
      s"""{"size":$pageSize$sliceClause,"query":{"match_all":{}}}"""))
    val out = mutable.ArrayBuffer.empty[(String, String)]
    var node = mapper.readTree(first)
    val scrollId = node.get("_scroll_id").asText()
    var hits = node.get("hits").get("hits")
    while (hits.size() > 0) {
      val it = hits.elements()
      while (it.hasNext) {
        val h = it.next()
        out += ((h.get("_id").asText(), mapper.writeValueAsString(h.get("_source"))))
      }
      val next = withRetry(retries)(post(
        s"$endpoint/_search/scroll",
        s"""{"scroll":"$keepAlive","scroll_id":"$scrollId"}"""))
      node = mapper.readTree(next)
      hits = node.get("hits").get("hits")
    }
    // clear the context (ElasticScrollTraverser closes its scroll)
    withRetry(retries)(http("DELETE", s"$endpoint/_search/scroll",
      s"""{"scroll_id":"$scrollId"}"""))
    out.iterator
  }

  // -------------------------------------------------------------- http + retry

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def post(url: String, body: String): String = http("POST", url, body)

  private def http(method: String, url: String, body: String): String = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(30000)
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
      val status = conn.getResponseCode
      if (status >= 400)
        throw new IOException(s"$method $url -> $status")
      new String(conn.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    } finally conn.disconnect()
  }

  /** RetryUtils.withRetry (impl/RetryUtils.java:44): bounded retries with
    * capped exponential backoff on IOException.
    */
  private def withRetry[T](retries: Int)(call: => T): T = {
    var attempt = 0
    var backoff = 50L
    while (true) {
      try return call
      catch {
        case e: IOException =>
          attempt += 1
          if (attempt > retries) throw e
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, 5000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}

/** Jet service-factory (reference: pipeline/ServiceFactory.java): a recipe for a
  * non-serializable per-task resource (connection, client, model handle).
  * `create` runs inside the task, once per partition.
  */
final case class ServiceFactory[S](createFn: () => S, destroyFn: S => Unit = (_: S) => ())
    extends Serializable {
  def create(): S = createFn()
  def destroy(s: S): Unit = destroyFn(s)
}

object ServiceFactories {
  /** Jet `ServiceFactories.sharedService` / `nonSharedService` collapse to the
    * same per-partition lifecycle here (tasks are the unit of parallelism).
    */
  def service[S](create: () => S, destroy: S => Unit = (_: S) => ()): ServiceFactory[S] =
    ServiceFactory(create, destroy)

  /** Wrap a partition's output iterator with the service teardown contract:
    * destroy runs EXACTLY ONCE, on exhaustion OR task completion — a consumer
    * that re-checks hasNext after false must not double-close the handle, and
    * a downstream `limit` that never drains the iterator must not leak it
    * (the task-completion listener covers early exit).
    */
  private[pipeline] def closing[S, U](factory: ServiceFactory[S], svc: S,
                                      out: Iterator[U]): Iterator[U] = {
    var destroyed = false
    def destroyOnce(): Unit =
      if (!destroyed) { destroyed = true; factory.destroy(svc) }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => destroyOnce()))
    new Iterator[U] {
      def hasNext: Boolean = { val h = out.hasNext; if (!h) destroyOnce(); h }
      def next(): U = out.next()
    }
  }
}

/** Batch sink vocabulary (reference: pipeline/Sinks.java). */
trait Sink { def write(df: DataFrame): Unit }

object Sinks {

  /** Jet `Sinks.files` (Sinks.java:1026): format in {parquet,csv,json,text}. */
  def files(path: String, format: String = "parquet",
            mode: String = "overwrite",
            options: Map[String, String] = Map.empty): Sink = new Sink {
    def write(df: DataFrame): Unit =
      df.write.mode(mode).options(options).format(format).save(path)
  }

  def json(path: String): Sink = files(path, "json")
  def csv(path: String): Sink = files(path, "csv", options = Map("header" -> "true"))

  /** Jet `Sinks.noop` (Sinks.java:1084): full evaluation, discard output. */
  def noop: Sink = new Sink {
    def write(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
  }

  /** Jet `Sinks.map` (Sinks.java:136): upsert into a named KV store. */
  def map(name: String, keyCols: String*): Sink = new Sink {
    def write(df: DataFrame): Unit = KeyedStore.upsert(name, df, keyCols)
  }

  /** Jet `Sinks.cache` / `remoteCache` (Sinks.java:193-280):
    * same upsert — remoteness is the store address, not an operator.
    */
  def cache(name: String, keyCols: String*): Sink = map(name, keyCols: _*)

  /** Jet `Sinks.mapWithMerging` (Sinks.java:313-421, UpdateMapP.java): upsert
    * where key conflicts are resolved by per-column merge expressions over
    * (oldValue, newValue) — e.g. `Map("n" -> (_ + _))` for additive counters —
    * instead of replacement. Absent keys insert the incoming value unchanged.
    */
  def mapWithMerging(name: String, keyCols: Seq[String],
                     merge: Map[String, (Column, Column) => Column]): Sink = new Sink {
    def write(df: DataFrame): Unit = KeyedStore.upsertMerging(name, df, keyCols, merge)
  }

  /** Jet `Sinks.mapWithUpdating` (Sinks.java:451-591): each incoming item
    * updates its entry via updateFn(oldValue, item) — here per-column
    * expressions over (old, incoming), applied for EVERY incoming row; an
    * absent entry reads as NULL old columns (Jet passes null oldValue).
    * `deleteWhen(old, incoming)` emulates "updateFn returned null": matching
    * entries are removed.
    */
  def mapWithUpdating(name: String, keyCols: Seq[String],
                      update: Map[String, (Column, Column) => Column],
                      deleteWhen: Option[(String => Column, String => Column) => Column] = None): Sink =
    new Sink {
      def write(df: DataFrame): Unit =
        KeyedStore.upsertMerging(name, df, keyCols, update,
          updateAlways = true, deleteWhen = deleteWhen)
    }

  /** Jet `Sinks.mapWithEntryProcessor` (Sinks.java:650-731): ship a
    * read-modify-write processor to each incoming item's entry. The Spark-first
    * analog ships a Catalyst expression instead of a serialized processor —
    * same data-local read-modify-write, but codegen'd and planner-visible.
    * Incoming rows carry the key (plus any columns the expressions read);
    * absent entries are created (Jet EP `setValue` on a missing key inserts).
    */
  def mapWithEntryProcessor(name: String, keyCols: Seq[String],
                            process: Map[String, (Column, Column) => Column],
                            deleteWhen: Option[(String => Column, String => Column) => Column] = None): Sink =
    mapWithUpdating(name, keyCols, process, deleteWhen)

  /** Jet `Sinks.list` (Sinks.java:754): append to a named list. */
  def list(name: String): Sink = new Sink {
    def write(df: DataFrame): Unit = KeyedStore.append(name, df)
  }

  /** Jet `Sinks.socket` (Sinks.java:913-941, WriteBufferedP): write each row
    * as one line to a TCP endpoint. One connection per task (the reference's
    * per-processor buffered writer); a single-column row sends its value,
    * multi-column rows send comma-joined fields (Jet's default `toStringFn`).
    */
  def socket(host: String, port: Int): Sink = new Sink {
    def write(df: DataFrame): Unit = {
      // copy to locals: the task closure must not capture this (non-serializable) Sink
      val (h, p) = (host, port)
      df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val sock = new java.net.Socket(h, p)
          // BufferedWriter, NOT PrintWriter: PrintWriter swallows IOExceptions
          // into an error flag, and a broken peer would silently drop rows —
          // a failed write must fail the task (Jet WriteBufferedP semantics)
          val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
          try {
            it.foreach { r =>
              out.write(if (r.length == 1) String.valueOf(r.get(0))
                        else r.toSeq.map(String.valueOf).mkString(","))
              out.newLine()
            }
            out.flush()
          } finally {
            // close() flushes and can itself throw on a dead peer: never let
            // it mask the original write error or skip closing the socket
            try out.close() catch { case _: java.io.IOException => () }
            try sock.close() catch { case _: java.io.IOException => () }
          }
        }
      }
    }
  }

  /** Jet `Sinks.jdbc` (Sinks.java:1246). */
  def jdbc(url: String, table: String, props: java.util.Properties): Sink = new Sink {
    def write(df: DataFrame): Unit = df.write.mode("append").jdbc(url, table, props)
  }

  /** Jet remote sink variants (Sinks.java:193-280):
    * remoteness is the store address, not an operator — same tested paths.
    */
  def remoteCache(name: String, keyCols: String*): Sink = map(name, keyCols: _*)
  def remoteList(name: String): Sink = list(name)

  /** Jet `Sinks.observable(name)` (Sinks.java:1357): publish results to the
    * named client-side [[Observable]] channel — obtain it with
    * `Observables.get(name)` (the `JetInstance.getObservable` analog) and
    * subscribe or iterate.
    */
  def observable(name: String): Sink = ObservableSinks.sink(name)

  /** Jet `Sinks.fromProcessor` (Sinks.java:1370) — the custom-sink escape
    * hatch: any DataFrame-consuming function is a sink.
    */
  def fromProcessor(name: String)(writeFn: DataFrame => Unit): Sink = new Sink {
    def write(df: DataFrame): Unit = writeFn(df)
  }

  /** Jet `Sinks.filesBuilder` (Sinks.java:1026, FileSinkBuilder.java):
    * format/options/mode fluently; `.build()` yields the same tested
    * [[Sinks.files]] sink (rolling/exactly-once file semantics live on the
    * STREAMING side — `StreamSinks.files` writes through Spark's
    * transactional file commit protocol).
    */
  def filesBuilder(path: String): FileSinkBuilder = new FileSinkBuilder(path)

  /** Jet `Sinks.jdbcBuilder` (Sinks.java:1296, JdbcSinkBuilder.java):
    * url/table/batch fluently; `.exactlyOnce(jobId)` switches the built sink
    * to the 2PC [[JdbcTransactionalSink]] micro-batch delivery (data +
    * progress marker in one DB transaction) instead of plain appends.
    */
  def jdbcBuilder(url: String, table: String): JdbcSinkBuilder =
    new JdbcSinkBuilder(url, table)
}

/** Fluent form of [[Sinks.files]] (Jet FileSinkBuilder). */
final class FileSinkBuilder private[pipeline] (path: String) {
  private var fmt = "parquet"
  private var saveMode = "overwrite"
  private var opts = Map.empty[String, String]
  def format(f: String): FileSinkBuilder = { fmt = f; this }
  def mode(m: String): FileSinkBuilder = { saveMode = m; this }
  def option(k: String, v: String): FileSinkBuilder = { opts += (k -> v); this }
  def build(): Sink = Sinks.files(path, fmt, saveMode, opts)
}

/** Fluent form of [[Sinks.jdbc]] (Jet JdbcSinkBuilder). */
final class JdbcSinkBuilder private[pipeline] (url: String, table: String) {
  private val props = new java.util.Properties()
  private var exactlyOnceJob: Option[String] = None
  private var insertSql: Option[String] = None
  private var parts = 8
  def property(k: String, v: String): JdbcSinkBuilder = { props.put(k, v); this }
  /** Jet `JdbcSinkBuilder.exactlyOnce(true)` + jobName: use the 2PC
    * transactional delivery; requires the insert statement (the reference's
    * `updateQuery`) via [[updateQuery]].
    */
  def exactlyOnce(jobId: String): JdbcSinkBuilder = {
    exactlyOnceJob = Some(jobId); this
  }
  /** Jet `updateQuery`: the parameterized INSERT/UPDATE the sink executes. */
  def updateQuery(sql: String): JdbcSinkBuilder = { insertSql = Some(sql); this }
  def partitions(n: Int): JdbcSinkBuilder = { parts = n; this }
  def build(): Sink = exactlyOnceJob match {
    case None => Sinks.jdbc(url, table, props)
    case Some(job) => new Sink {
      def write(df: DataFrame): Unit = {
        val sql = insertSql.getOrElse(throw new IllegalArgumentException(
          "exactlyOnce jdbc sink needs updateQuery(...)"))
        JdbcTransactionalSink.ensureProgressTable(url)
        // batch jobs deliver as batch 0: a retried job replays it and the
        // committed progress marker skips already-delivered partitions
        JdbcTransactionalSink.writeBatch(url, sql, job, batchId = 0L, df, parts)
      }
    }
  }
}

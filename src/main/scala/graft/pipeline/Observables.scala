package graft.pipeline

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.CopyOnWriteArrayList

import org.apache.spark.sql.Row

/** Jet `Observable` (jet/Observable.java) — the named CLIENT-side result
  * channel: a job publishes rows to `Sinks.observable(name)`, any client
  * that obtained the same name observes them (`addObserver` onNext/onError/
  * onComplete, or `iterator`). Jet funnels results through a cluster
  * ringbuffer to the client; the Spark analog delivers through the driver
  * (`toLocalIterator`, partition-at-a-time) — a client-result channel is
  * driver-sized BY DEFINITION in both engines (Jet's capacity default is
  * 10k entries; `configureCapacity` mirrors it here as a retention bound
  * for late iterators).
  */
final class Observable[T] private[pipeline] (val name: String) {

  private val buffer = new java.util.concurrent.ConcurrentLinkedQueue[T]()
  private val observers =
    new CopyOnWriteArrayList[(T => Unit, Throwable => Unit, () => Unit)]()
  @volatile private var capacity = 10000
  @volatile private var done = false
  @volatile private var failed: Throwable = _

  /** Jet `Observable.configureCapacity` (Observable.java:137). */
  def configureCapacity(n: Int): Observable[T] = { capacity = n; this }

  /** Jet `addObserver`: late subscribers first replay everything retained. */
  def addObserver(onNext: T => Unit,
                  onError: Throwable => Unit = _ => (),
                  onComplete: () => Unit = () => ()): Unit = synchronized {
    buffer.forEach(t => onNext(t))
    if (failed != null) onError(failed)
    else if (done) onComplete()
    else { observers.add((onNext, onError, onComplete)); () }
  }

  /** Snapshot iterator over everything retained so far (Jet's `iterator`
    * blocks for completion; callers here typically publish from completed
    * batches, so the snapshot IS the result set).
    */
  def iterator: Iterator[T] = {
    val copy = new java.util.ArrayList[T](buffer)
    import scala.jdk.CollectionConverters._
    copy.iterator().asScala
  }

  private[pipeline] def publish(t: T): Unit = synchronized {
    buffer.add(t)
    while (buffer.size > capacity) buffer.poll()
    observers.forEach { case (onNext, _, _) => onNext(t) }
  }

  private[pipeline] def complete(): Unit = synchronized {
    done = true
    observers.forEach { case (_, _, onComplete) => onComplete() }
    observers.clear()
  }

  private[pipeline] def error(e: Throwable): Unit = synchronized {
    failed = e
    observers.forEach { case (_, onError, _) => onError(e) }
    observers.clear()
  }

  /** Jet `destroy`: drop the channel and its retained rows. */
  def destroy(): Unit = Observables.destroy(name)
}

/** Registry — the `JetInstance.getObservable(name)` analog. */
object Observables {
  private val registry = new ConcurrentHashMap[String, Observable[_]]()

  def get[T](name: String): Observable[T] =
    registry.computeIfAbsent(name, n => new Observable[T](n))
      .asInstanceOf[Observable[T]]

  private[pipeline] def destroy(name: String): Unit = {
    registry.remove(name)
    ()
  }
}

/** The sink half: `Sinks.observable(name)` (Sinks.java:1357). */
object ObservableSinks {

  /** Batch form: publish every row, then complete — the reference's
    * observable lifecycle onNext* → onComplete when the job finishes.
    * Rows stream through the driver partition-at-a-time (toLocalIterator),
    * never materializing the frame at once.
    */
  def sink(name: String): Sink = new Sink {
    def write(df: org.apache.spark.sql.DataFrame): Unit = {
      val obs = Observables.get[Row](name)
      try {
        val it = df.toLocalIterator()
        while (it.hasNext) obs.publish(it.next())
        obs.complete()
      } catch { case e: Throwable => obs.error(e); throw e }
    }
  }

  /** Streaming form: publish each micro-batch's rows (onNext per row; the
    * channel completes when the caller stops the query and invokes
    * [[Observable.complete]] — an unbounded stream has no natural
    * onComplete, same as Jet's observable on a streaming job).
    */
  def streamSink(name: String, checkpoint: Option[String] = None): StreamSink =
    StreamSinks.foreachBatch((batch, _) => {
      val obs = Observables.get[Row](name)
      val it = batch.toLocalIterator()
      while (it.hasNext) obs.publish(it.next())
    }, outputMode = "append", checkpoint = checkpoint)
}

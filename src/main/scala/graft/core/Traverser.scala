package graft.core

/** Jet's lazy pull-sequence (reference: hazelcast-jet-core/src/main/java/com/
  * hazelcast/jet/Traverser.java:46). The contract is identical: `next()` returns
  * the next item or `null` when exhausted; a traverser may be infinite; all
  * combinators are lazy and allocation-light so a processor can emit from one
  * across repeated cooperative calls without rebuilding it.
  *
  * Items are `Any` (the core API is untyped object streams in the reference
  * too); `null` is reserved as the end marker exactly as in the reference.
  */
trait Traverser[T] extends Serializable {

  /** Next item, or `null` when exhausted (Traverser.java:57). */
  def next(): T

  /** Traverser.java:70 `map`. */
  def map[R](f: T => R): Traverser[R] = { () =>
    val t = Traverser.this.next()
    if (t == null) null.asInstanceOf[R] else f(t)
  }

  /** Traverser.java:83 `filter`. */
  def filter(p: T => Boolean): Traverser[T] = { () =>
    var t = Traverser.this.next()
    while (t != null && !p(t)) t = Traverser.this.next()
    t
  }

  /** Traverser.java:96 `flatMap`: lazily concatenates the inner traversers. */
  def flatMap[R](f: T => Traverser[R]): Traverser[R] = new Traverser[R] {
    private var inner: Traverser[R] = _
    def next(): R = {
      while (true) {
        if (inner != null) {
          val r = inner.next()
          if (r != null) return r
          inner = null
        }
        val t = Traverser.this.next()
        if (t == null) return null.asInstanceOf[R]
        inner = f(t)
      }
      null.asInstanceOf[R] // unreachable
    }
  }

  /** Traverser.java:114 `takeWhile`: ends at the first non-matching item. */
  def takeWhile(p: T => Boolean): Traverser[T] = new Traverser[T] {
    private var done = false
    def next(): T = {
      if (done) return null.asInstanceOf[T]
      val t = Traverser.this.next()
      if (t == null || !p(t)) { done = true; null.asInstanceOf[T] } else t
    }
  }

  /** Traverser.java:136 `dropWhile`: skips the matching prefix. */
  def dropWhile(p: T => Boolean): Traverser[T] = new Traverser[T] {
    private var dropping = true
    def next(): T = {
      var t = Traverser.this.next()
      if (dropping) {
        while (t != null && p(t)) t = Traverser.this.next()
        dropping = false
      }
      t
    }
  }

  /** Traverser.java:168 `append`: emit `item` after this traverser ends. */
  def append(item: T): Traverser[T] = new Traverser[T] {
    private var tail: T = item
    def next(): T = {
      val t = Traverser.this.next()
      if (t != null) t
      else { val r = tail; tail = null.asInstanceOf[T]; r }
    }
  }

  /** Traverser.java:192 `prepend`: emit `item` before the first item. */
  def prepend(item: T): Traverser[T] = new Traverser[T] {
    private var head: T = item
    def next(): T =
      if (head != null) { val r = head; head = null.asInstanceOf[T]; r }
      else Traverser.this.next()
  }

  /** Traverser.java:212 `peek`. */
  def peek(action: T => Unit): Traverser[T] = { () =>
    val t = Traverser.this.next()
    if (t != null) action(t)
    t
  }

  /** Traverser.java:229 `onFirstNull`: run `action` once, at first exhaustion. */
  def onFirstNull(action: () => Unit): Traverser[T] = new Traverser[T] {
    private var fired = false
    def next(): T = {
      val t = Traverser.this.next()
      if (t == null && !fired) { fired = true; action() }
      t
    }
  }
}

/** Jet's `Traversers` factory vocabulary (hazelcast-jet-core/src/main/java/com/
  * hazelcast/jet/Traversers.java) plus the two stateful helper classes from
  * `com.hazelcast.jet.core`.
  */
object Traversers {

  private val EMPTY: Traverser[Any] = () => null

  /** Traversers.java:44 `empty`. */
  def empty[T]: Traverser[T] = EMPTY.asInstanceOf[Traverser[T]]

  /** Traversers.java:53 `singleton`. */
  def singleton[T](item: T): Traverser[T] = new Traverser[T] {
    private var v: T = item
    def next(): T = { val r = v; v = null.asInstanceOf[T]; r }
  }

  /** Traversers.java:62 `traverseIterator`. */
  def traverseIterator[T](it: Iterator[T]): Traverser[T] =
    () => if (it.hasNext) it.next() else null.asInstanceOf[T]

  /** Traversers.java:86 `traverseIterable`. */
  def traverseIterable[T](items: Iterable[T]): Traverser[T] =
    traverseIterator(items.iterator)

  /** Traversers.java:95 `traverseArray`. */
  def traverseArray[T](items: Array[T]): Traverser[T] =
    traverseIterator(items.iterator)

  /** Traversers.java:104-style varargs `traverseItems`. */
  def traverseItems[T](items: T*): Traverser[T] = traverseIterable(items)
}

/** Jet `AppendableTraverser` (core/AppendableTraverser.java): a small FIFO the
  * processor refills between emit rounds.
  */
final class AppendableTraverser[T](initialCapacity: Int) extends Traverser[T] {
  private val queue = new java.util.ArrayDeque[T](initialCapacity)
  override def append(item: T): AppendableTraverser[T] = { queue.add(item); this }
  def isEmpty: Boolean = queue.isEmpty
  def next(): T = {
    val r = queue.poll()
    r // null when empty, per the Traverser contract
  }
}

/** Jet `ResettableSingletonTraverser` (core/ResettableSingletonTraverser.java):
  * reusable one-slot traverser, the zero-allocation emit path for mapP.
  */
final class ResettableSingletonTraverser[T] extends Traverser[T] {
  private var item: T = _
  def accept(t: T): Unit = item = t
  def next(): T = { val r = item; item = null.asInstanceOf[T]; r }
}

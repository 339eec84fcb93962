package perfbench

import scala.collection.mutable

/** One timed call into a layer. Times are `System.nanoTime` readings. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Total length of the union of `[start, end)` intervals, each clipped to
    * `[lo, hi)`. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the time its direct children
    * cover (overlapping children are counted once). */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - coveredNs(children.map(c => (c.startNs, c.endNs)), span.startNs, span.endNs)
}

/** Records spans on the calling thread. Spans stay in memory until the run
  * ends. When disabled, `span` runs its body with no bookkeeping at all.
  * `onEnter(id)` / `onExit(parentId)` let the caller tag work started inside
  * a span (the Spark job group). */
final class Tracer(val enabled: Boolean,
    onEnter: Int => Unit = _ => (), onExit: Int => Unit = _ => ()) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private var nextOp = 0

  /** Spans finished so far, in the order they ended. */
  def spans: Seq[Span] = done.toSeq

  def current: Int = stack.headOption.getOrElse(0)

  /** A fresh op id; every span opened for one benchmark operation shares it. */
  def newOp(): Int = { nextOp += 1; nextOp }

  def span[T](name: String, op: Int = 0)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      stack.push(id)
      onEnter(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        onExit(parent)
        done += Span(id, name, parent, op, t0, t1)
      }
    }

  /** Self time of every span, keyed by span id. */
  def selfTimes: Map[Int, Long] = {
    val kids = done.groupBy(_.parent)
    done.iterator.map(s => s.id -> Span.selfNs(s, kids.getOrElse(s.id, Nil).toSeq)).toMap
  }
}

package graftbench

import scala.collection.mutable

/** One timed interval. Spans of one operation share `op`; `parent` is the
  * index of the enclosing span (-1 for an operation's root). Counter
  * snapshots are taken at both boundaries. */
final case class Span(op: String, name: String, parent: Int,
                      start: Double, end: Double,
                      before: Map[String, Double], after: Map[String, Double],
                      extra: Map[String, Double])

/** Span recorder. With `counters` absent it records nothing and adds only
  * the cost of evaluating the body, which is how the timed (untraced)
  * passes run. */
final class Tracer(counters: Option[Counters], t0: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var opId = ""

  def on: Boolean = counters.isDefined
  def now: Double = (System.nanoTime() - t0) / 1e9

  /** Root span of one operation. */
  def op[T](id: String, name: String)(body: => T): T = {
    opId = id
    counters.foreach(_.resetPeaks())
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T = counters match {
    case None => body
    case Some(c) =>
      val before = c.snapshot()
      val idx = spans.size
      spans += Span(opId, name, stack.headOption.getOrElse(-1), now, 0.0,
        before, Map.empty, Map.empty)
      stack.push(idx)
      try body
      finally {
        stack.pop()
        val end = now
        val after = c.snapshot()
        val (mx, med) = c.taskSpread(before("task_idx").toInt,
          after("task_idx").toInt)
        spans(idx) = spans(idx).copy(end = end, after = after,
          extra = Map("task_max_s" -> mx, "task_median_s" -> med))
      }
  }

  /** Attach extra measurements to the most recent span named `name`. */
  def note(name: String, kv: (String, Double)*): Unit = if (on) {
    val i = spans.lastIndexWhere(_.name == name)
    if (i >= 0) spans(i) = spans(i).copy(extra = spans(i).extra ++ kv)
  }
}

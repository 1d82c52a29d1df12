package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. Each span has a name, start, end and parent;
  * spans stay in memory until the run ends and are then written out once.
  * A disabled tracer records nothing and only runs the body. */
final class Tracer(val enabled: Boolean, counters: Option[Counters]) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  /** Run `body` inside a span. With `counted`, the listener bus is drained
    * at both ends and the span carries the Spark counts of its interval. */
  def span[T](name: String, counted: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      val before = if (counted) counters.map(_.snapshot()) else None
      spans += Span(id, parent, name, System.nanoTime(), -1L, None)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val end = System.nanoTime()
        val delta = before.map(b => counters.get.snapshot().minus(b))
        spans(id) = spans(id).copy(endNs = end, counts = delta)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Direct children of span `id`. */
  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Duration minus the part of the interval the child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - covered(children(s.id).map(c => (c.startNs, c.endNs))) / 1e9

  def toJson: String = spans.map { s =>
    val c = s.counts.map(c => s""","jobs":${c.jobs},"tasks":${c.tasks}""")
      .getOrElse("")
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""self_s":${selfSeconds(s)}$c}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val off = new Tracer(false, None)

  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long, counts: Option[Counters.Snapshot]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Length of the union of intervals (same unit as the input). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}

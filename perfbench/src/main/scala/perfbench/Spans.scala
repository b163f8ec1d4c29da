package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are nanoseconds on
  * the benchmark's clock; `parent` is -1 for a root span and `op`
  * identifies the operation (request or query) the span belongs to.
  */
case class Span(id: Int, name: String, layer: String, start: Long, end: Long,
                parent: Int, op: Int) {
  def duration: Long = end - start
}

object Spans {

  /** Total length of the union of `intervals`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its child spans cover (overlapping children count once).
    */
  def selfTime(span: Span, children: Seq[Span]): Long =
    span.duration - unionLength(children.map(c =>
      (math.max(c.start, span.start), math.min(c.end, span.end))))

  /** Self time summed per layer over every span in `spans`. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfTime(s, kids.getOrElse(s.id, Nil))).sum
    }
  }
}

/** Collects spans in memory; written out when the run ends. Disabled
  * tracers record nothing and cost one branch per boundary.
  */
final class Tracer(var enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Runs `body` inside a span; `body` receives the span's id (-1 when
    * disabled) so that spans it opens can name it as their parent.
    */
  def span[T](name: String, layer: String, parent: Int, op: Int)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = nextId; nextId += 1
      val t0 = System.nanoTime()
      try body(id)
      finally spans += Span(id, name, layer, t0, System.nanoTime(), parent, op)
    }

  /** Records a span measured elsewhere (e.g. a Spark job from its events). */
  def add(name: String, layer: String, start: Long, end: Long, parent: Int, op: Int): Unit =
    if (enabled) {
      spans += Span(nextId, name, layer, start, end, parent, op)
      nextId += 1
    }
}

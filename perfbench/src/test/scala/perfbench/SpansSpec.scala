package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(id: Int, layer: String, start: Long, end: Long, parent: Int) =
    Span(id, layer, layer, start, end, parent, op = 0)

  test("self time is span time minus the union of its children") {
    val parent = span(0, "op", 0, 100, -1)
    // overlapping children [10, 40) and [30, 60) cover 50; [90, 120) is
    // clipped to the parent's end and adds 10
    val kids = Seq(span(1, "a", 10, 40, 0), span(2, "b", 30, 60, 0), span(3, "c", 90, 120, 0))
    assert(Spans.selfTime(parent, kids) == 100 - 60)
  }

  test("a span without children keeps its whole duration") {
    assert(Spans.selfTime(span(0, "op", 5, 25, -1), Nil) == 20)
  }

  test("nested children count only toward their own parent") {
    val spans = Seq(
      span(0, "op", 0, 100, -1),
      span(1, "construct", 0, 60, 0),
      span(2, "spark_job", 10, 30, 1),
      span(3, "execute", 60, 100, 0),
      span(4, "spark_job", 70, 95, 3))
    val self = Spans.selfTimeByLayer(spans)
    assert(self("op") == 0)
    assert(self("construct") == 40)
    assert(self("execute") == 15)
    assert(self("spark_job") == 45)
  }

  test("union length merges overlaps and ignores empty intervals") {
    assert(Spans.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 20L), (30L, 35L))) == 20)
    assert(Spans.unionLength(Nil) == 0)
  }

  test("a disabled tracer records nothing and passes -1 as the span id") {
    val t = new Tracer(false)
    assert(t.span("x", "op", -1, 0)(id => id) == -1)
    assert(t.spans.isEmpty)
    val on = new Tracer(true)
    val inner = on.span("outer", "op", -1, 0)(id => on.span("inner", "construct", id, 0)(_ => id))
    assert(on.spans.map(_.name) == Seq("inner", "outer"))
    assert(on.spans.head.parent == inner)
  }
}

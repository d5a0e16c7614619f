package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, layer: String, start: Long, end: Long) =
    Span(id, parent, 1L, s"s$id", layer, start, end)

  test("self time subtracts the union of overlapping children once") {
    val parent = span(1, 0, "a", 0, 100)
    val kids = Seq(span(2, 1, "b", 10, 40), span(3, 1, "b", 30, 60), span(4, 1, "c", 50, 55))
    assert(Spans.selfTime(parent, kids) == 50)
  }

  test("children sticking out of the parent are clipped to it") {
    val parent = span(1, 0, "a", 0, 100)
    assert(Spans.selfTime(parent, Seq(span(2, 1, "b", -20, 10), span(3, 1, "b", 90, 130))) == 80)
    assert(Spans.selfTime(parent, Seq(span(2, 1, "b", -20, 200))) == 0)
  }

  test("self time per layer adds up each span's own time") {
    val spans = Seq(
      span(1, 0, "root", 0, 100),
      span(2, 1, "table", 10, 70),
      span(3, 1, "sources", 60, 90), // overlaps its sibling
      span(4, 2, "spark", 20, 30),
      span(5, 2, "spark", 25, 50))
    val self = Spans.selfTimeByLayer(spans)
    assert(self("root") == 100 - 80)
    assert(self("table") == 60 - 30)
    assert(self("sources") == 30)
    assert(self("spark") == 10 + 25)
  }

  test("nested recorder spans share a trace and point at their parent") {
    val r = new SpanRecorder
    r.span("op", "perfbench") { r.span("inner", "graft.table")(()) }
    r.span("next", "perfbench")(())
    val Seq(inner, op, next) = r.all
    assert(inner.parent == op.id && inner.trace == op.trace)
    assert(op.parent == 0 && next.parent == 0 && next.trace != op.trace)
  }
}

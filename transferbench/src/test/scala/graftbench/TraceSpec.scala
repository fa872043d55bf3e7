package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, start: Long, end: Long) =
    Span(id, parent, 0L, s"s$id", start, end)

  test("self time is span wall time minus the union of its child spans") {
    val root = span(0, -1, 0, 100)
    // no children: all of it is self time
    assert(Tracer.selfNs(root, Nil) == 100)
    // disjoint children
    assert(Tracer.selfNs(root, Seq(span(1, 0, 10, 20), span(2, 0, 50, 70))) == 70)
    // overlapping children count their union once
    assert(Tracer.selfNs(root, Seq(span(1, 0, 10, 40), span(2, 0, 30, 60))) == 50)
    // a child nested inside another child adds nothing
    assert(Tracer.selfNs(root, Seq(span(1, 0, 10, 90), span(2, 0, 20, 30))) == 20)
    // children reaching past the span are clipped to it
    assert(Tracer.selfNs(root, Seq(span(1, 0, -50, 10), span(2, 0, 95, 150))) == 85)
    // touching children
    assert(Tracer.selfNs(root, Seq(span(1, 0, 0, 50), span(2, 0, 50, 100))) == 0)
  }

  test("self time on a hand-built tree: each level subtracts only its children") {
    val op = span(0, -1, 0, 1000)
    val a = span(1, 0, 100, 400)
    val b = span(2, 0, 500, 900)
    val a1 = span(3, 1, 150, 250)
    val a2 = span(4, 1, 200, 350)
    val all = Seq(op, a, b, a1, a2)
    val kids = all.groupBy(_.parent)
    def self(s: Span) = Tracer.selfNs(s, kids.getOrElse(s.id, Nil))
    assert(self(op) == 1000 - 300 - 400)
    assert(self(a) == 300 - 200)
    assert(self(b) == 400)
    assert(self(a1) == 100 && self(a2) == 150)
  }
}

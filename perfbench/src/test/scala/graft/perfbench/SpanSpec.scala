package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {
  test("self time is duration minus the union of child intervals") {
    val spans = Seq(
      Span(1, 0, 1, "root", 0, 100),
      Span(2, 1, 1, "a", 10, 40),
      Span(3, 1, 1, "b", 30, 60),   // overlaps a: 10..60 counts once
      Span(4, 2, 1, "a.x", 15, 20),
      Span(5, 1, 1, "late", 90, 130), // runs past its parent: clipped to 90..100
      Span(6, 0, 6, "other", 0, 10))
    val self = Span.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(4) == 5)
    assert(self(5) == 40)
    assert(self(6) == 10)
  }

  test("a disabled tracer records nothing and a traced op nests its spans") {
    val off = new Tracer(false)
    assert(off.span("x")(42) == 42)
    assert(off.spans.isEmpty)
    val on = new Tracer(true)
    on.span("outer")(on.span("inner")(()))
    val byName = on.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("inner").op == byName("outer").op)
  }
}

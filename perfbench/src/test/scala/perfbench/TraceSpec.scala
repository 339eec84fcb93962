package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, s: Long, e: Long) = Span(id, s"s$id", parent, 0, s, e)

  test("self time is the span minus the union of its children") {
    val p = span(1, 0, 0, 100)
    assert(Span.selfNs(p, Nil) == 100)
    assert(Span.selfNs(p, Seq(span(2, 1, 10, 30), span(3, 1, 50, 60))) == 70)
    // overlapping children count once
    assert(Span.selfNs(p, Seq(span(2, 1, 10, 40), span(3, 1, 30, 60))) == 50)
    // a child nested in another child adds nothing
    assert(Span.selfNs(p, Seq(span(2, 1, 10, 60), span(3, 1, 20, 30))) == 50)
    // children are clipped to the parent
    assert(Span.selfNs(p, Seq(span(2, 1, -20, 10), span(3, 1, 90, 130))) == 80)
    assert(Span.selfNs(p, Seq(span(2, 1, 0, 100))) == 0)
  }

  test("coveredNs merges touching and disjoint intervals") {
    assert(Span.coveredNs(Seq((0L, 10L), (10L, 20L), (30L, 35L)), Long.MinValue, Long.MaxValue) == 25)
    assert(Span.coveredNs(Nil, 0, 10) == 0)
  }

  test("tracer nests spans, tags parents and ops, and reports self times") {
    val entered = scala.collection.mutable.ArrayBuffer.empty[Int]
    val exited = scala.collection.mutable.ArrayBuffer.empty[Int]
    val t = new Tracer(true, entered += _, exited += _)
    val op = t.newOp()
    t.span("outer", op) {
      t.span("inner", op)(Thread.sleep(5))
      Thread.sleep(5)
    }
    val Seq(inner, outer) = t.spans
    assert(outer.parent == 0 && inner.parent == outer.id)
    assert(inner.op == op && outer.op == op)
    assert(entered.toSeq == Seq(outer.id, inner.id))
    assert(exited.toSeq == Seq(outer.id, 0)) // back to the parent's tag, then none
    val self = t.selfTimes
    assert(self(inner.id) == inner.durNs)
    assert(self(outer.id) == outer.durNs - inner.durNs)
  }

  test("a disabled tracer records nothing and calls no hooks") {
    var hooks = 0
    val t = new Tracer(false, _ => hooks += 1, _ => hooks += 1)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.spans.isEmpty && hooks == 0)
  }
}

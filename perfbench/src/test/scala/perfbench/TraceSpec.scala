package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, start: Long, end: Long) =
    Span(id, parent, "memo", s"s$id", start, end, None)

  test("self time is span time minus direct children's time") {
    val spans = Seq(
      span(1, 0, 0, 100),  // op: children 2 and 3 take 30 + 50
      span(2, 1, 10, 40),
      span(3, 1, 40, 90),  // child 4 takes 20 of its 50
      span(4, 3, 50, 70))
    assert(Tracer.selfTimes(spans) == Map(1L -> 20L, 2L -> 30L, 3L -> 30L, 4L -> 20L))
  }

  test("self times of a tree sum to the root's duration") {
    val spans = Seq(span(1, 0, 0, 1000), span(2, 1, 0, 300), span(3, 1, 300, 900),
      span(4, 3, 310, 500), span(5, 3, 500, 800))
    assert(Tracer.selfTimes(spans).values.sum == 1000L)
  }

  test("the tracer nests spans per thread and records only inside `on`") {
    val t = new Tracer(enabled = true)
    t.span("memo", "outside")(())
    t.on {
      t.span("harness", "op") {
        t.span("memo", "plan")(())
        t.span("memo", "exec")(())
      }
    }
    val spans = t.spans
    assert(spans.map(_.name).toSet == Set("op", "plan", "exec"))
    val op = spans.find(_.name == "op").get
    assert(op.parent == 0L)
    assert(spans.filter(_.name != "op").forall(_.parent == op.id))
    val self = Tracer.selfTimes(spans)
    assert(self(op.id) == op.durNs - spans.filter(_.parent == op.id).map(_.durNs).sum)
  }

  test("only spans under a measured operation's root count") {
    def g(id: Long, parent: Long, group: Option[String]) =
      Span(id, parent, "memo", s"s$id", 0, 1, group)
    val spans = Seq(g(1, 0, Some("op-0")), g(2, 1, None), g(3, 2, None),
      g(4, 0, Some("op-1")), g(5, 4, None), g(6, 0, None))
    assert(Tracer.under(spans, Set("op-1")).map(_.id) == Seq(4L, 5L))
    assert(Tracer.under(spans, Set("op-0", "op-1")).map(_.id) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(Tracer.under(spans, Set.empty).isEmpty)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(enabled = false)
    t.on(t.span("memo", "x")(()))
    assert(t.spans.isEmpty)
  }

  test("job time inside an operation is the union of clipped intervals") {
    assert(Tracer.unionWithin(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100) == 30L)
    assert(Tracer.unionWithin(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35) == 17L)
    assert(Tracer.unionWithin(Seq.empty, 0, 10) == 0L)
    assert(Tracer.unionWithin(Seq((50L, 60L)), 0, 10) == 0L)
  }
}

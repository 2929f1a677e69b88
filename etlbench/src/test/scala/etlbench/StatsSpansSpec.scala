package etlbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpansSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.medianOr0(Nil) == 0.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("quantile interpolates between closest ranks") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 11.0)
    assert(Stats.quantile(xs, 0.9) == 10.0)
    assert(math.abs(Stats.quantile(Seq(1.0, 2.0), 0.25) - 1.25) < 1e-12)
  }

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, s"s$id", "r", start, end)

  test("self time subtracts the union of the children, clipped to the parent") {
    val root = span(0, -1, 0, 100)
    assert(Spans.selfNs(root, Nil) == 100)
    // overlapping children [10, 30) and [20, 50) cover 40
    assert(Spans.selfNs(root, Seq(span(1, 0, 10, 30), span(2, 0, 20, 50))) == 60)
    // disjoint children cover 10 + 10; one reaching past the end is clipped
    assert(Spans.selfNs(root, Seq(span(1, 0, 0, 10), span(2, 0, 90, 130))) == 80)
    // a child wholly outside the parent covers nothing
    assert(Spans.selfNs(root, Seq(span(1, 0, 200, 300))) == 100)
  }

  test("self times over a span tree") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 1, 15, 25),
      span(3, 0, 50, 60))
    val self = Spans.selfTimes(spans)
    assert(self == Map(0 -> 60L, 1 -> 20L, 2 -> 10L, 3 -> 10L))
    assert(self.values.sum == 100)
  }

  test("the tracer records nesting only when enabled") {
    var groups = List.empty[String]
    val t = new Tracer("run", (g: String, _: String) => groups ::= g, () => groups ::= "-")
    t.span("off")(())
    assert(t.spans.isEmpty)
    t.enabled = true
    t.span("outer")(t.span("inner")(()))
    val Seq(outer, inner) = t.spans
    assert(outer.parent == -1 && inner.parent == outer.id)
    assert(outer.startNs <= inner.startNs && inner.endNs <= outer.endNs)
    assert(groups.reverse == List("run/0", "run/1", "run/0", "-"))
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def span(id: Int, s: Double, e: Double, parent: Int = -1, kind: String = "k") =
    Span(id, kind, s"s$id", 0, s, e, parent)

  test("self time subtracts overlapping children once") {
    val p = span(0, 0, 10)
    val kids = Seq(span(1, 1, 4, 0), span(2, 3, 6, 0))
    assert(Spans.selfTime(p, kids) == 5.0) // children cover [1, 6]
    assert(Spans.overlap(p, kids) == 1.0) // [3, 4] ran twice
  }

  test("children are clipped to their parent and disjoint ones add up") {
    val p = span(0, 0, 10)
    assert(Spans.selfTime(p, Seq(span(1, -5, 2, 0), span(2, 8, 20, 0))) == 6.0)
    assert(Spans.selfTime(p, Seq(span(1, 1, 2, 0), span(2, 5, 7, 0))) == 7.0)
    assert(Spans.selfTime(p, Nil) == 10.0)
  }

  test("self times minus overlap account for the root's duration") {
    val tree = Seq(span(0, 0, 10, kind = "query"), span(1, 0, 4, 0, "build"),
      span(2, 4, 10, 0, "action"), span(3, 5, 9, 2, "job"), span(4, 5, 8, 3, "stage"),
      span(5, 6, 9, 3, "stage"))
    val (self, ovl) = Spans.selfByKind(tree)
    assert(self("stage") == 6.0)
    assert(self("job") == 0.0)
    assert(ovl == 2.0)
    assert(self.values.sum - ovl == 10.0)
  }

  test("the innermost containing span is the parent") {
    val outer = span(0, 0, 10)
    val inner = span(1, 2, 6, 0)
    assert(Spans.enclosing(Seq(outer, inner), 3, 5).contains(inner))
    assert(Spans.enclosing(Seq(outer, inner), 3, 8).contains(outer))
    assert(Spans.enclosing(Seq(inner), 8, 9).isEmpty)
  }
}

package reportbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {
  private def span(id: Int, start: Long, end: Long, parent: Int = 0) =
    Span(id, s"s$id", start, end, parent, cycle = 1)

  private val root = span(0, 100, 200, parent = -1)

  test("a span without children is all self time") {
    assert(Span.selfNs(root, Nil) == 100)
  }

  test("disjoint children are subtracted") {
    assert(Span.selfNs(root, Seq(span(1, 110, 130), span(2, 150, 190))) == 40)
  }

  test("overlapping children count once") {
    assert(Span.selfNs(root, Seq(span(1, 110, 150), span(2, 140, 170), span(3, 120, 130))) == 40)
  }

  test("children are clipped to the parent's interval") {
    assert(Span.selfNs(root, Seq(span(1, 50, 120), span(2, 190, 260))) == 70)
    assert(Span.selfNs(root, Seq(span(1, 0, 50), span(2, 300, 400))) == 100)
  }

  test("children covering the whole span leave no self time") {
    assert(Span.selfNs(root, Seq(span(1, 100, 160), span(2, 160, 200))) == 0)
  }
}

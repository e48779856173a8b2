package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long, name: String = "x") =
    Span(id, name, parent, "r", start * 1000000000L, end * 1000000000L)

  test("covered length of overlapping and disjoint intervals") {
    assert(Spans.covered(Nil) == 0)
    assert(Spans.covered(Seq((1L, 4L), (3L, 6L), (8L, 9L))) == 6)
    assert(Spans.covered(Seq((5L, 5L), (7L, 6L))) == 0)
    assert(Spans.covered(Seq((0L, 10L), (2L, 3L))) == 10)
  }

  test("self time is duration minus what direct children cover") {
    val spans = Seq(
      span(0, -1, 0, 10, "bench.round"),
      span(1, 0, 1, 4, "operators.clean"),
      span(2, 0, 5, 8, "sources.commit"),
      span(3, 1, 2, 3, "sources.tsv_read"))
    val self = Spans.selfSeconds(spans)
    assert(self(0) == 4.0) // children cover [1, 4) and [5, 8)
    assert(self(1) == 2.0) // its child covers [2, 3)
    assert(self(2) == 3.0)
    assert(self(3) == 1.0)
    // self times of a tree add up to its root's duration
    assert(self.values.sum == 10.0)
    assert(Spans.selfByName(spans)("operators.clean") == 2.0)
  }

  test("overlapping children are covered once") {
    val self = Spans.selfSeconds(Seq(span(0, -1, 0, 10), span(1, 0, 1, 4), span(2, 0, 3, 6)))
    assert(self(0) == 5.0)
  }

  test("a child reaching past its parent is clipped") {
    val self = Spans.selfSeconds(Seq(span(0, -1, 0, 4), span(1, 0, 2, 9)))
    assert(self(0) == 2.0)
  }

  test("the tracer nests spans and keeps their layers") {
    var entered = List.empty[Int]
    val t = new Tracer(true, "run-1", id => entered ::= id)
    val r = t.span("bench.round") {
      t.span("operators.clean")(())
      t.measured("sources.commit")(42)(n => Map("rows" -> n.toDouble))
    }
    assert(r == 42)
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("operators.clean").parent == byName("bench.round").id)
    assert(byName("sources.commit").parent == byName("bench.round").id)
    assert(byName("sources.commit").attrs == Map("rows" -> 42.0))
    assert(byName("bench.round").parent == -1)
    assert(t.layerOf(byName("operators.clean").id).contains("operators"))
    assert(t.spans.forall(_.run == "run-1"))
    // the local property follows the innermost open span and is cleared at the end
    assert(entered.head == -1)
    assert(t.current == -1)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(false, "off")
    assert(t.span("operators.clean")(7) == 7)
    assert(t.spans.isEmpty)
  }

  test("a span ends even when its body throws") {
    val t = new Tracer(true, "r")
    intercept[IllegalStateException](t.span("bench.round")(throw new IllegalStateException("x")))
    assert(t.spans.map(_.name) == Seq("bench.round"))
    assert(t.current == -1)
  }
}

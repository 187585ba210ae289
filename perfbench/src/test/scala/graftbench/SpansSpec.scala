package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  test("union length counts overlapping intervals once") {
    assert(Spans.unionLength(Nil) == 0L)
    assert(Spans.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Spans.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    // nested and touching intervals, out of order
    assert(Spans.unionLength(Seq((10L, 20L), (0L, 40L), (40L, 45L), (12L, 13L))) == 45L)
  }

  test("self time subtracts overlapping children once") {
    val parent = Span(0, -1, "exec", "q", 100L, 200L)
    val kids = Seq(
      Span(1, 0, "job", "q", 110L, 150L),
      Span(2, 0, "job", "q", 140L, 160L), // overlaps the first by 10
      Span(3, 0, "job", "q", 180L, 190L))
    assert(Spans.selfTime(parent, kids) == 100L - (50L + 10L))
  }

  test("children reaching outside the parent are clipped") {
    val parent = Span(0, -1, "build", "q", 100L, 200L)
    val kids = Seq(Span(1, 0, "job", "q", 50L, 120L), Span(2, 0, "job", "q", 190L, 260L))
    assert(Spans.selfTime(parent, kids) == 100L - 30L)
  }

  test("self time per name sums over spans and ignores grandchildren") {
    val spans = Seq(
      Span(0, -1, "query", "q", 0L, 100L),
      Span(1, 0, "build", "q", 0L, 40L),
      Span(2, 0, "exec", "q", 40L, 100L),
      Span(3, 2, "job", "q", 50L, 90L),
      Span(4, 2, "job", "q", 60L, 95L))
    val self = Spans.selfByName(spans)
    assert(self("query") == 0L)
    assert(self("build") == 40L)
    assert(self("exec") == 60L - 45L)
    assert(self("job") == 40L + 35L)
  }

  test("the tracer nests spans and keeps them in memory") {
    val t = new Tracer
    t.span(-1, "query", "q") { qs =>
      t.span(qs, "build", "q")(_ => ())
      t.add(qs, "job", "q", 1L, 2L)
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("build").parent == byName("query").id)
    assert(byName("job").parent == byName("query").id)
    assert(byName("query").parent == -1)
  }
}

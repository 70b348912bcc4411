package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self times per layer sum to the statement's span") {
    // statement [0, 100]: LakeSql.sql [5, 60] with a job [20, 50] and an
    // analysis [55, 60] inside it; collect [60, 95] with two overlapping
    // jobs merged into [65, 90]
    val spans = Seq(
      Span(0, -1, 7, "bench", "statement", 0, 100),
      Span(1, 0, 7, "lakesql", "LakeSql.sql", 5, 60),
      Span(2, 1, 7, "exec", "jobs", 20, 50),
      Span(3, 1, 7, "catalyst", "analyze", 55, 60),
      Span(4, 0, 7, "exec", "collect", 60, 95),
      Span(5, 4, 7, "exec", "jobs", 65, 90))
    val self = Trace.selfByLayer(spans)
    assert(self == Map("bench" -> 10L, "lakesql" -> 20L, "exec" -> 65L,
      "catalyst" -> 5L))
    assert(self.values.sum == 100L)
  }

  test("covered counts overlapping intervals once, clipped to the window") {
    assert(Trace.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 2, 35) == 23)
    assert(Trace.covered(Nil, 0, 10) == 0)
  }
}

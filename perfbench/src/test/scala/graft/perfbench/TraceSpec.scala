package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  // op [0,100] ⊃ construct [0,30], execute [30,100] ⊃ two overlapping
  // stages [40,70] and [60,90]
  private val spans = Seq(
    Span(0, "q1", "operation", 0, 100, -1),
    Span(1, "construct", "phase", 0, 30, 0),
    Span(2, "execute", "phase", 30, 100, 0),
    Span(3, "stage 1", "spark_stage", 40, 70, 2),
    Span(4, "stage 2", "spark_stage", 60, 90, 2))

  test("self time subtracts the union of children") {
    val self = Trace.selfTimes(spans)
    assert(self(0) == 0.0)
    assert(self(1) == 30e-6)
    // 70 long, children cover [40,90] = 50: overlap is not counted twice
    assert(math.abs(self(2) - 20e-6) < 1e-12)
    assert(self(3) == 30e-6 && self(4) == 30e-6)
    // self times sum to the root's wall, plus the overlap of concurrent
    // siblings, which each count in full
    assert(math.abs(self.values.sum - (100e-6 + 10e-6)) < 1e-12)
  }

  test("children sticking out of their parent are clipped") {
    val s = Seq(Span(0, "p", "phase", 10, 20, -1), Span(1, "j", "spark_job", 5, 15, 0))
    assert(math.abs(Trace.selfTimes(s)(0) - 5e-6) < 1e-12)
  }

  test("interval union") {
    assert(Trace.union(Nil) == 0)
    assert(Trace.union(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Trace.union(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20)
  }

  test("phase coverage of an operation") {
    val cov = Trace.childCoverage(spans, "operation")
    assert(cov.map(_._2) == Seq(1.0))
  }

  test("the tracer nests spans by call structure") {
    val t = new Tracer
    t.span("w", "workload") {
      t.span("op", "operation") {
        t.span("a", "phase")(())
        t.span("b", "phase")(())
      }
    }
    val all = t.all
    assert(all.map(_.name) == Seq("w", "op", "a", "b"))
    assert(all.map(_.parent) == Seq(-1, 0, 1, 1))
    assert(all.forall(s => s.end >= s.start))
    assert(Trace.toJson(all, Trace.selfTimes(all)).contains("\"name\":\"op\""))
  }
}

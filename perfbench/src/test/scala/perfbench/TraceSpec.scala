package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, start: Double, end: Double) = Span(id, s"s$id", start, end)

  test("self time subtracts the union of the work inside, clipped to the span") {
    val s = span(0, 0, 100)
    val inside = Seq((10.0, 30.0), (20.0, 40.0), (90.0, 120.0))
    // the work covers [10,40] and [90,100]: 40 of the span's 100
    assert(Trace.selfMs(s, inside) == 60.0)
    assert(Trace.selfMs(s, Nil) == 100.0)
  }

  test("covered merges overlapping and touching intervals once") {
    assert(Trace.covered(0, 10, Seq((1.0, 3.0), (3.0, 5.0), (4.0, 6.0))) == 5.0)
    assert(Trace.covered(0, 10, Seq((-5.0, 2.0), (8.0, 20.0))) == 4.0)
    assert(Trace.covered(0, 10, Seq((11.0, 12.0))) == 0.0)
  }

  test("events go to the span open when they started; self time leaves out jobs and planning") {
    val spans = Seq(span(0, 0, 100), span(1, 200, 300), span(2, 400, 450))
    val jobs = Seq(
      JobEvent(20, 40, tasks = 4, shuffleBytes = 100),
      JobEvent(60, 70, tasks = 1, shuffleBytes = 0),
      JobEvent(65, 80, tasks = 2, shuffleBytes = 0),   // overlaps the previous job
      JobEvent(150, 160, tasks = 9, shuffleBytes = 9)) // between spans: nobody's
    val plans = Seq(PlanEvent(12, 3), PlanEvent(35, 10), PlanEvent(210, 5))
    val a = Trace.attribute(spans, jobs, plans)
    // span 0: jobs cover [20,40] and [60,80]; planning adds [12,15] and [35,45], which
    // overlaps a job: together they cover 48
    assert(a(0) == Attributed(jobs = 3, tasks = 7, jobMs = 40, shuffleBytes = 100, planMs = 13,
      selfMs = 100 - 48))
    assert(a(1) == Attributed(jobs = 0, tasks = 0, jobMs = 0, shuffleBytes = 0, planMs = 5, selfMs = 95))
    assert(a(2) == Attributed(jobs = 0, tasks = 0, jobMs = 0, shuffleBytes = 0, planMs = 0, selfMs = 50))
  }

  test("a tracer records one span per call and nothing when off") {
    val t = new Tracer(enabled = true)
    assert(t.span("op")(7) == 7)
    t.span("op2")(())
    assert(t.recorded.map(_.name) == Seq("op", "op2"))
    assert(t.recorded.map(_.id).distinct.size == 2)
    assert(t.recorded.forall(s => s.end >= s.start))
    val off = new Tracer(enabled = false)
    assert(off.span("op")(42) == 42 && off.recorded.isEmpty)
  }
}

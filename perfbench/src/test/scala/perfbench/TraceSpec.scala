package perfbench

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, startMs: Long, endMs: Long) =
    Span(id, s"s$id", 1L, parent, startMs * 1000000L, endMs * 1000000L,
      startMs, endMs, 0L)

  private def job(t: Tracer, id: Int, start: Long, end: Long): Unit = {
    t.onJobStart(SparkListenerJobStart(id, start, Nil))
    t.onJobEnd(SparkListenerJobEnd(id, end, JobSucceeded))
  }

  test("driver time is the span wall minus the union of concurrent jobs") {
    val t = new Tracer(enabled = true)
    // two concurrent fusion arms [100, 300) and [150, 250), then a job
    // that runs past the span's end
    job(t, 1, 100, 300)
    job(t, 2, 150, 250)
    job(t, 3, 900, 1500)
    val c = t.counters(span(1, 0, 0, 1000))
    assert(c.jobs == 3)
    // covered: [100, 300) + [900, 1000) = 300 ms of a 1000 ms span
    assert(c.driverMs == 700.0)
  }

  test("jobs that start outside the span are not counted") {
    val t = new Tracer(enabled = true)
    job(t, 1, 0, 50)
    job(t, 2, 2000, 2100)
    val c = t.counters(span(1, 0, 100, 1000))
    assert(c.jobs == 0 && c.driverMs == 900.0)
  }

  test("self time subtracts the union of overlapping children") {
    val parent = span(1, 0, 0, 1000)
    val kids = Seq(span(2, 1, 100, 400), span(3, 1, 300, 600), span(4, 1, 900, 1200))
    // children cover [100, 600) and [900, 1000) inside the parent
    assert(Tracer.selfMs(parent, parent +: kids) == 400.0)
    // a grandchild does not reduce the grandparent's self time twice
    val grand = span(5, 2, 150, 200)
    assert(Tracer.selfMs(parent, parent +: grand +: kids) == 400.0)
    assert(Tracer.selfMs(kids.head, parent +: grand +: kids) == 250.0)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(enabled = false)
    assert(t.span("x", 1L)(42) == 42)
    assert(t.spans.isEmpty)
  }

  test("nested spans share the trace id and link to their parent") {
    val t = new Tracer(enabled = true)
    t.span("outer", 7L) { t.span("inner")(()) }
    val Seq(inner, outer) = t.spans
    assert(inner.parent == outer.id && inner.trace == 7L && outer.trace == 7L)
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def sp(id: Long, parent: Long, s: Long, e: Long, name: String = "bench.x") =
    Span(id, parent, 1L, name, s, e)

  test("union length merges overlapping and touching intervals") {
    assert(Trace.unionLength(Nil) == 0)
    assert(Trace.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Trace.unionLength(Seq((0L, 10L), (10L, 12L))) == 12)
    assert(Trace.unionLength(Seq((3L, 3L), (5L, 4L))) == 0)
  }

  test("self time is duration minus the part children cover") {
    val spans = Seq(
      sp(1, 0, 0, 100),
      sp(2, 1, 10, 40), sp(3, 1, 30, 60), // overlapping children: 50 covered
      sp(4, 2, 15, 20), // grandchild counts against its parent only
      sp(5, 1, 90, 130)) // spills past the parent: clipped to 10
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(4) == 5)
    // properly nested, non-overlapping children: self times add up to
    // the root's duration exactly
    val tree = Seq(sp(1, 0, 0, 100), sp(2, 1, 0, 30), sp(3, 1, 40, 90), sp(4, 3, 50, 60))
    assert(Trace.selfTimes(tree).values.sum == 100)
  }

  test("loose intervals nest under the innermost containing span") {
    val rec = Seq(sp(1, 0, 0, 100), sp(2, 1, 10, 50))
    val loose = Seq(Span(7, 0, 0, "spark.analysis", 20, 30),
      Span(8, 0, 0, "spark.planning", 60, 70),
      Span(9, 0, 0, "spark.planning", 200, 210))
    val out = Trace.nest(rec, loose).map(s => s.id -> s).toMap
    assert(out(7).parent == 2 && out(8).parent == 1)
    assert(!out.contains(9)) // in no traced operation
    assert(Trace.layerSelf(out.values.toSeq)("spark") == 20)
  }

  test("tracer records parents and a shared id per operation") {
    val tr = new Tracer(true)
    tr.op("bench.a")(tr.span("ingest.x")(tr.span("spark.y")(())))
    tr.op("bench.b")(())
    val byName = tr.spans.map(s => s.name -> s).toMap
    val a = byName("bench.a")
    assert(a.parent == 0 && a.op == a.id)
    assert(byName("ingest.x").parent == a.id && byName("ingest.x").op == a.id)
    assert(byName("spark.y").parent == byName("ingest.x").id)
    assert(byName("bench.b").op != a.op)
    val off = new Tracer(false)
    assert(off.op("bench.a")(42) == 42 && off.spans.isEmpty)
  }
}

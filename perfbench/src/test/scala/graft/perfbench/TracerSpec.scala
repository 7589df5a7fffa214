package graft.perfbench

import graft.perfbench.Tracer.Interval
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  // ingest [0, 100] holds upsert [40, 80]; a sibling merge runs later
  private val ingest = Interval(0, 0, 0L, 100L)
  private val upsert = Interval(1, 1, 40L, 80L)
  private val merge = Interval(2, 0, 100L, 150L)
  private val all = Seq(ingest, upsert, merge)

  test("an event belongs to the innermost span open at its time") {
    assert(Tracer.innermost(all, 10L) === Some(0))
    // a job the stream thread starts inside the nested sink span
    assert(Tracer.innermost(all, 50L) === Some(1))
    assert(Tracer.innermost(all, 80L) === Some(1))
    assert(Tracer.innermost(all, 90L) === Some(0))
    assert(Tracer.innermost(all, 120L) === Some(2))
    assert(Tracer.innermost(all, 200L) === None)
  }

  test("at a shared boundary the later-started span wins") {
    // ingest ends and merge starts in the same millisecond
    assert(Tracer.innermost(all, 100L) === Some(2))
  }

  test("self time subtracts direct children only") {
    // (id, parent, durNs): root 100 with children 30 and 20; the
    // first child has its own child of 10
    val self = Tracer.selfNs(Seq((0, -1, 100L), (1, 0, 30L), (2, 0, 20L), (3, 1, 10L)))
    assert(self === Map(0 -> 50L, 1 -> 20L, 2 -> 20L, 3 -> 10L))
  }

  test("job busy time is the union of overlapping job intervals") {
    assert(Tracer.unionLength(Nil) === 0L)
    assert(Tracer.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) === 20L)
    assert(Tracer.unionLength(Seq((0L, 10L), (10L, 12L))) === 12L)
    assert(Tracer.unionLength(Seq((3L, 4L), (0L, 10L))) === 10L)
    assert(Tracer.unionLength(Seq((5L, 5L), (7L, 6L))) === 0L)
  }

  test("spans record nothing while no session is attached") {
    Tracer.reset()
    assert(Tracer.span("etl.Snapshots.merge")(42) === 42)
    assert(Tracer.report().isEmpty)
  }
}

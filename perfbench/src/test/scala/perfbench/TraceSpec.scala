package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long, name: String = "s") =
    Span(id, name, parent, start, end, (end - start) * 1000000L)

  test("percentile rule: the highest ladder percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(99).contains(0.5))
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(999).contains(0.9))
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.tailPercentile(10000).contains(0.999))
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.median(xs) == 50.5)
  }

  test("latency lines report the median, the tail percentile and n") {
    val xs = (1 to 100).map(_ / 100.0)
    assert(Report.latency("search_s", xs) == "search_s p50 0.5050 s p90 0.9000 s (n=100)")
    assert(Report.latency("append_s", Seq(1.0, 3.0)) == "append_s p50 2.0000 s (n=2)")
  }

  test("self time is the span minus the union of its children, clipped to it") {
    val parent = span(1, 0, 0, 100)
    val all = Seq(parent, span(2, 1, 10, 30), span(3, 1, 20, 50), span(4, 1, 90, 120),
      span(5, 2, 12, 14), span(6, 0, 0, 100))
    // children cover [10, 50] and [90, 100]; grandchild 5 and sibling 6 do not count
    assert(Stats.selfMs(parent, all) == 50)
    assert(Stats.selfMs(all(1), all) == 18)
    assert(Stats.subtree(parent, all).map(_.id).toSet == Set(1, 2, 3, 4, 5))
  }

  test("driver idle time: span time with no job running, whichever group ran it") {
    val t = new GroupTally
    t.jobStart(1, "perfbench-1", Seq(10, 11), 10)
    t.jobStart(2, "perfbench-2", Seq(11, 12), 30)
    t.jobEnd(1, 40)
    t.jobEnd(2, 60)
    t.jobStart(3, null, Seq(13), 80) // still running when the span is read
    val jobs = t.jobs(now = 100)
    assert(jobs.map(_.end) == Seq(40, 60, 100))
    // jobs cover [10, 60] and [80, 100] of the span [0, 100]
    assert(Stats.driverIdleMs(span(1, 0, 0, 100), jobs) == 30)
    assert(Stats.driverIdleMs(span(2, 0, 60, 80), jobs) == 20)
    assert(Stats.driverIdleMs(span(3, 0, 20, 30), jobs) == 0)
  }

  test("task metrics sum per job group; a shared stage stays with its first job") {
    val t = new GroupTally
    t.jobStart(1, "perfbench-1", Seq(10, 11), 0)
    t.jobStart(2, "perfbench-2", Seq(11, 12), 5)
    def task(cpuMs: Long, shuffle: Long, failed: Boolean = false) =
      TaskSample(cpuMs * 1000000L, cpuMs, 1, shuffle, 7, 0, 100, 0, failed)
    t.taskEnd(10, task(5, 1000))
    t.taskEnd(11, task(3, 0))
    t.taskEnd(12, task(2, 500, failed = true))
    t.taskEnd(99, task(1, 0)) // a stage no job announced: the empty group
    val g1 = t.counters("perfbench-1")
    assert(g1.tasks == 2 && g1.cpuNs == 8000000L && g1.shuffleWriteBytes == 1000)
    assert(g1.extra("shuffle_read_bytes") == 14 && g1.extra("failed_tasks") == 0)
    val g2 = t.counters("perfbench-2")
    assert(g2.tasks == 1 && g2.extra("failed_tasks") == 1 && g2.shuffleWriteBytes == 500)
    assert(t.counters("").tasks == 1)
    assert(t.counters("perfbench-9").tasks == 0)
  }

  test("spans nest, record their parent, and close when the call throws") {
    val rec = new SpanRecorder(null)
    val (_, outer) = rec.span("outer") {
      rec.span("inner") { 1 }
      intercept[IllegalStateException](rec.span("failing") { throw new IllegalStateException })
    }
    val byName = rec.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == outer.id && byName("failing").parent == outer.id)
    assert(outer.parent == 0)
    assert(rec.spans.map(_.name) == Seq("inner", "failing", "outer"))
    assert(rec.spans.forall(s => s.end >= s.start && s.wallNs >= 0))
  }

  test("interval union handles nesting, touching and disjoint intervals") {
    assert(Stats.covered(Seq((0L, 10L), (2L, 3L), (10L, 15L), (20L, 25L)), 0, 100) == 20)
    assert(Stats.covered(Seq((0L, 10L)), 5, 8) == 3)
    assert(Stats.covered(Nil, 0, 10) == 0)
  }
}

package perfbench

import java.nio.file.Paths

/** Tests of the trace arithmetic and of the answer checks, without Spark.
  * Usage: perfbench.SelfTest <resources dir>; exits non-zero on a failure.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, got: Any, want: Any): Unit =
    if (got == want) println(s"ok   $name")
    else { failures += 1; println(s"FAIL $name: got $got, want $want") }

  private def job(id: Int, s: Long, e: Long): JobRec = {
    val j = new JobRec(id, s); j.endMs = e; j
  }

  def main(args: Array[String]): Unit = {
    import Intervals._
    expect("union of disjoint", union(Seq((5L, 7L), (1L, 3L))), Seq((1L, 3L), (5L, 7L)))
    expect("union of overlapping", union(Seq((1L, 4L), (2L, 6L), (6L, 8L))), Seq((1L, 8L)))
    expect("union drops empty", union(Seq((3L, 3L), (4L, 2L))), Seq())
    expect("nested interval", measure(Seq((0L, 10L), (2L, 3L))), 10L)
    // AQE runs stage jobs concurrently: three overlapping jobs of 4 ms
    // each inside [0, 6) cover 6 ms, not the 12 ms their sum suggests.
    expect("AQE overlap", measure(Seq((0L, 4L), (1L, 5L), (2L, 6L))), 6L)
    expect("clipped to span", coveredWithin((2L, 5L), Seq((0L, 3L), (4L, 9L))), 2L)

    // Span tree: request 1 [0,100) > search [10,60) > child [20,30), and
    // request-level sibling [70,90). Jobs: two overlapping in search,
    // one in the sibling, one before any span.
    def span(id: Int, name: String, parent: Int, s: Long, e: Long) =
      Span(id, name, parent, 1, s * 1000000L, e * 1000000L, s, e)
    val spans = Seq(
      span(1, "request.x", 0, 0, 100),
      span(2, "search.exact", 1, 10, 60),
      span(3, "inner", 2, 20, 30),
      span(4, "commit.delete", 1, 70, 90))
    val jobs = Seq(job(1, 12, 40), job(2, 25, 50), job(3, 75, 80), job(4, -5, -1))
    val att = new Attribution(spans, jobs)
    expect("job goes to the deepest open span", att.jobSpan(2), 3)
    expect("job in outer span", att.jobSpan(1), 2)
    expect("job before any span", att.jobSpan.get(4), None)
    expect("unattributed count", att.unattributed, 1)
    expect("jobs under nested spans", att.jobsUnder(spans(1)).map(_.id).sorted, Seq(1, 2))
    expect("self time of request", att.selfNs(spans.head), (100L - 50L - 20L) * 1000000L)
    expect("self time of search", att.selfNs(spans(1)), 40L * 1000000L)
    expect("job time is a union", att.jobMs(spans(1)), 38L)
    expect("driver time", att.driverMs(spans(1)), 50.0 - 38.0)
    expect("request job time", att.jobMs(spans.head), 38L + 5L)

    expect("median", Stats.median(Seq(3.0, 1.0, 2.0, 10.0)), 2.5)
    expect("p90", Stats.quantile((1 to 11).map(_.toDouble), 0.9), 10.0)
    expect("planted wrong answers are caught",
      Checks.plantedFailuresCaught(Checks.golden(Paths.get(args(0)))), true)
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}

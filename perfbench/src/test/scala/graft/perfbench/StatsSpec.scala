package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("job time is the union of overlapping jobs, so the gap stays >= 0") {
    // A 1000 ms call whose pool threads ran three overlapping jobs: their
    // summed durations (1500 ms) exceed the wall time, so wall - sum(job)
    // reads -500 ms. The union is 900 ms and the gap 100 ms.
    val jobs = Seq((0L, 600L), (100L, 700L), (400L, 700L))
    val (lo, hi) = (0L, 1000L)
    assert(jobs.map { case (s, e) => e - s }.sum == 1500L)
    assert((hi - lo) - jobs.map { case (s, e) => e - s }.sum == -500L)
    assert(Stats.unionLength(jobs) == 700L)
    val more = jobs :+ ((800L, 1000L))
    assert(Stats.unionLength(more) == 900L)
    assert(Stats.gap(lo, hi, more) == 100L)
  }

  test("jobs reaching outside the call count only inside it") {
    assert(Stats.gap(100L, 200L, Seq((50L, 150L), (180L, 400L))) == 30L)
    assert(Stats.gap(100L, 200L, Seq((0L, 90L))) == 100L)
    assert(Stats.gap(100L, 200L, Nil) == 100L)
  }

  test("touching and nested intervals merge") {
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L), (2L, 5L))) == 20L)
    assert(Stats.unionLength(Seq((5L, 5L))) == 0L)
  }

  test("percentiles interpolate and the tail keeps ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.median(xs) == 50.5)
    assert(Stats.tail(xs) == ((90, Stats.percentile(xs, 90))))
    assert(Stats.tail(xs.take(40))._1 == 75)
    assert(Stats.tail(xs.take(12)) == ((50, Stats.median(xs.take(12)))))
  }
}

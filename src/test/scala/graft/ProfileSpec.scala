package graft

import org.scalatest.funsuite.AnyFunSuite

/** Profile's job busy time is the union of job intervals, so the
  * driver gap (wall minus busy) never goes negative on concurrent jobs. */
class ProfileSpec extends AnyFunSuite {
  test("busy time is the union of overlapping job intervals") {
    // [0,10) and [5,20) overlap; [20,25) touches; [30,40) is disjoint;
    // [32,35) nests; a job that never ended covers nothing.
    val jobs = Seq((30L, 40L), (0L, 10L), (5L, 20L), (20L, 25L), (32L, 35L),
      (50L, 0L))
    assert(Profile.unionMs(jobs) == 35L)
    assert(jobs.filter { case (s, e) => e > s }.map { case (s, e) => e - s }.sum == 43L,
      "the summed durations overcount the overlaps")
    assert(Profile.unionMs(Nil) == 0L)
  }
}

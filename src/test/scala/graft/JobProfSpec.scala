package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.JobProf.jobTimeAndGaps

/** JobProf counts time covered by overlapping jobs once. */
class JobProfSpec extends AnyFunSuite {

  test("disjoint jobs: job time is the sum, gaps the rest of the wall") {
    assert(jobTimeAndGaps(100, Seq((10L, 20L), (40L, 70L))) == ((40L, 60L)))
  }

  test("overlapping jobs count their shared span once") {
    assert(jobTimeAndGaps(100, Seq((30L, 60L), (10L, 40L))) == ((50L, 50L)))
  }

  test("a job nested inside another adds nothing") {
    assert(jobTimeAndGaps(100,
      Seq((10L, 90L), (20L, 30L), (85L, 90L))) == ((80L, 20L)))
  }

  test("no jobs: the whole wall is driver time") {
    assert(jobTimeAndGaps(100, Nil) == ((0L, 100L)))
  }
}

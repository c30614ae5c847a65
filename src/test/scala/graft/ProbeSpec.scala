package graft

import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {
  import Probe.coveredMs

  test("coveredMs: disjoint intervals add up") {
    assert(coveredMs(Seq((0L, 10L), (20L, 25L), (30L, 31L))) == 16)
    assert(coveredMs(Seq((20L, 25L), (0L, 10L))) == 15, "input order must not matter")
    assert(coveredMs(Seq((0L, 10L), (10L, 20L))) == 20, "touching intervals")
  }

  test("coveredMs: overlapping intervals count their shared time once") {
    assert(coveredMs(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(coveredMs(Seq((5L, 15L), (0L, 10L), (12L, 30L))) == 30)
  }

  test("coveredMs: a nested interval adds nothing") {
    assert(coveredMs(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    assert(coveredMs(Seq((0L, 100L), (10L, 20L), (90L, 110L))) == 110)
    assert(coveredMs(Seq((0L, 10L), (0L, 10L))) == 10)
  }

  test("coveredMs: no intervals cover nothing") {
    assert(coveredMs(Nil) == 0)
  }
}

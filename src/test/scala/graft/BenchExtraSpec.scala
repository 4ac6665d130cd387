package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.BenchExtra

class BenchExtraSpec extends AnyFunSuite {
  test("a rep whose body throws comes back failed, not timed") {
    assert(BenchExtra.timeRep("throws")(throw new IllegalStateException("boom")).isEmpty)
    assert(BenchExtra.timeRep("returns")(()).exists(_ >= 0.0))
  }
}

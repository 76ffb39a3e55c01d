package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's best-of-runs step: a failing query must never be timed. */
class BenchSpec extends AnyFunSuite {

  test("bestOf: a throwing body yields no time") {
    var between = 0
    val r = Bench.bestOf(3)(throw new RuntimeException("boom"))(between += 1)
    assert(r.isFailure && r.failed.get.getMessage == "boom")
    assert(between == 1, "the release still runs after the failed run")
  }

  test("bestOf: a throw on a later run discards the earlier times") {
    var runs = 0
    val r = Bench.bestOf(3) {
      runs += 1
      if (runs == 2) throw new IllegalStateException("second run")
    }(())
    assert(r.isFailure, s"got $r")
    assert(runs == 2, "no run follows a failed one")
  }

  test("bestOf: all runs succeed -> the fastest, release after each") {
    var between = 0
    val sleeps = Iterator(300L, 5L, 150L)
    val r = Bench.bestOf(3)(Thread.sleep(sleeps.next()))(between += 1)
    assert(r.isSuccess && r.get >= 0.005 && r.get < 0.15, s"got $r")
    assert(between == 3)
  }
}

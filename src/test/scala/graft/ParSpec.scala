package graft

import java.util.concurrent.atomic.AtomicInteger

/** The driver-side parallelism helper's contract: input order, a hard
  * width bound, an empty call, settle-before-rethrow, and Spark local
  * properties reaching the tasks.
  */
class ParSpec extends SparkSpec {

  test("results come back in input order") {
    val items = (1 to 20).toSeq
    val out = Par.map(items, 4) { i =>
      Thread.sleep((20 - i) % 7 * 3L) // later items tend to finish first
      i * 10
    }
    assert(out == items.map(_ * 10))
  }

  test("no more than width tasks run at once") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    Par.map(1 to 12, 3) { _ =>
      val now = running.incrementAndGet()
      peak.accumulateAndGet(now, (a, b) => math.max(a, b))
      Thread.sleep(20)
      running.decrementAndGet()
    }
    assert(peak.get <= 3, s"peak ${peak.get}")
  }

  test("empty input returns Nil") {
    assert(Par.map(Seq.empty[Int], 4)(identity) == Nil)
  }

  test("every task finishes before the first failure is rethrown") {
    val finished = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Par.map(0 until 6, 6) { i =>
        if (i == 0) throw new IllegalStateException("first")
        Thread.sleep(100)
        finished.incrementAndGet()
      }
    }
    assert(e.getMessage == "first")
    assert(finished.get == 5)
  }

  test("a Spark local property set on the caller is visible in the tasks") {
    val sc = spark.sparkContext
    val key = "graft.parspec.tag"
    try {
      sc.setLocalProperty(key, "first")
      assert(Par.map(1 to 4, 2)(_ => sc.getLocalProperty(key)) ==
        Seq.fill(4)("first"))
      // a later call sees the caller's current value: no thread
      // outlives the call that made it
      sc.setLocalProperty(key, "second")
      val (a, b) = Par.par2(() => sc.getLocalProperty(key),
        () => sc.getLocalProperty(key))
      assert(a == "second" && b == "second")
    } finally sc.setLocalProperty(key, null)
  }
}

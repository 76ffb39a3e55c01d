package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** LifecycleBench's per-operation job counts: read after the clock
  * stops, once the listener has every event of the operation.
  */
class LifecycleBenchSpec extends SparkSpec {

  private def jobs(n: Int): Unit =
    (1 to n).foreach(_ => spark.sparkContext.parallelize(1 to 10, 2).count())

  test("an operation running N actions counts exactly N jobs, every time") {
    // a slow listener backs up the listener bus, so event delivery
    // trails the actions: a count read without waiting for the bus
    // comes out short
    val slow = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Thread.sleep(50)
    }
    spark.sparkContext.addSparkListener(slow)
    val ops = new LifecycleBench.Ops(spark, rounds = 3)
    try {
      val counts = (1 to 5).map { i =>
        ops.once(s"op_$i")(jobs(7))
        ops.jobs(s"op_$i")
      }
      assert(counts == Seq.fill(5)(7))
      // per-round operations keep the median: rounds run 1, 2, 3 jobs
      ops.perRound("rounds")(r => jobs(r + 1))
      assert(ops.jobs("rounds") == 2)
      assert(ops.json.contains("\"jobs\":{\"op_1\":7,"))
    } finally {
      ops.close()
      spark.sparkContext.removeSparkListener(slow)
    }
  }
}

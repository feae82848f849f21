package graft.pipeline

import graft.SparkSuite
import java.util.concurrent.atomic.AtomicBoolean

class FanOutSpec extends SparkSuite {

  test("fanOut settles every write before rethrowing the first original error") {
    val boom = new IllegalStateException("sink failed")
    val siblingDone = new AtomicBoolean(false)
    val fanOut = new Sinks.FanOut(spark.sparkContext)
    fanOut.start("boom")(throw boom)
    fanOut.start("sibling") { Thread.sleep(500); siblingDone.set(true) }
    val thrown = intercept[IllegalStateException](fanOut.settle())
    assert(siblingDone.get, "fanOut returned while a sibling write was still running")
    assert(thrown eq boom, "fanOut must rethrow the original exception, not a wrapper")
  }
}

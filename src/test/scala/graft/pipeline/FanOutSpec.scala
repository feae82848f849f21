package graft.pipeline

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

class FanOutSpec extends AnyFunSuite {

  test("fanOut settles every write before rethrowing the first original error") {
    val boom = new IllegalStateException("sink failed")
    val siblingDone = new AtomicBoolean(false)
    val thrown = intercept[IllegalStateException] {
      Sinks.fanOut(Seq(
        () => throw boom,
        () => { Thread.sleep(500); siblingDone.set(true) }))
    }
    assert(siblingDone.get, "fanOut returned while a sibling write was still running")
    assert(thrown eq boom, "fanOut must rethrow the original exception, not a wrapper")
  }
}

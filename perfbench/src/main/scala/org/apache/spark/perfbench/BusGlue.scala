package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark. The benchmark reads its counters
  * only after every event of the measured span has been delivered, so it
  * waits for the bus to drain between spans. */
object BusGlue {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

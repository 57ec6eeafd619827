package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private:
  * per-layer numbers are read only after every event of the measured
  * window has reached the benchmark's listeners.
  */
object BusShim {
  def drain(sc: SparkContext, timeoutMs: Long = 30000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

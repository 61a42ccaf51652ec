package org.apache.spark

/** The one Spark-internal call the trace recorder needs: wait until the
  * listener bus has delivered every event posted so far, so a span's
  * counters are complete when it is read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

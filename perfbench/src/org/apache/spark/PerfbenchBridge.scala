package org.apache.spark

/** One-hop access to the `private[spark]` listener-bus drain: the benchmark
  * reads its listener's counters only after every event of the measured
  * calls has been delivered. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

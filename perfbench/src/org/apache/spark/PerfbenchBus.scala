package org.apache.spark

/** Listener-bus flush for the benchmark driver. Listener events post
  * asynchronously, so per-query attribution needs the bus drained at
  * each query boundary; `LiveListenerBus` is `private[spark]`, hence
  * this forwarder in the spark package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}

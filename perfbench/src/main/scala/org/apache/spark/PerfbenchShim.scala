package org.apache.spark

/** Reaches the one `private[spark]` call the benchmark's tracer needs:
  * listener events are delivered asynchronously, so a traced round
  * waits for the bus to drain before it reads what was recorded. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The one package-private hook the benchmark needs: listener events are
  * delivered asynchronously, so per-layer sums are read only after the bus
  * has drained.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

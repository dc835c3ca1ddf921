package org.apache.spark

/** The one scheduler internal the benchmark needs: listener events are
  * delivered asynchronously, so per-pass job and task totals are read only
  * after the bus has delivered everything posted so far.
  */
object LakeBenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

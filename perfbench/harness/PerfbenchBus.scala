package org.apache.spark

/** Re-exports the one `private[spark]` call the benchmark needs: waiting
  * until the live listener bus has delivered every posted event, so a
  * traced pass's counters are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

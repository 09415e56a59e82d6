package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * posted event has reached its listeners, so a SparkListener's counts
  * are complete when a test reads them.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

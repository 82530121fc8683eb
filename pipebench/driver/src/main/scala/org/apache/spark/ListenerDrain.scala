package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered, so the harness reads complete job/task accounting after an
  * action returns (the bus delivers asynchronously).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Test access to the `private[spark]` listener bus: wait until every
  * posted event has reached every listener, so a count a listener
  * keeps is final.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

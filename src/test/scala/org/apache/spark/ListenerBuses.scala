package org.apache.spark

/** Listener-bus access for specs: the bus is `private[spark]`, and a spec
  * that counts events from a listener must see every event of the jobs it
  * ran before it reads the count. */
object ListenerBuses {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

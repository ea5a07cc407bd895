package org.apache.spark

/** Test access to the driver's listener bus. Listeners receive job and
  * query events asynchronously; a spec that counts jobs or inspects
  * executed plans waits here until every posted event is delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

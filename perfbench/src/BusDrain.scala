package org.apache.spark

/** The listener bus is `private[spark]`; this is the one call the
  * benchmark needs from it: block until every posted event has been
  * delivered, so counts read afterwards are complete.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

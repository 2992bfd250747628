package org.apache.spark

/** The listener bus is `private[spark]`; specs that count jobs with a
  * listener block here until every posted event has been delivered.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

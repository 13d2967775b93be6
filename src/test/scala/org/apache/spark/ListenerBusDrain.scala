package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * event posted so far (SQL execution ends included) has been delivered,
  * so a listener's tally is complete when the test reads it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to the `org.apache.spark` package; the
  * benchmark needs only to wait until it has delivered every event. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lives in the `org.apache.spark` package only to reach the listener bus:
  * counters are read after every queued event has been delivered, so a
  * window's totals never miss its last tasks.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

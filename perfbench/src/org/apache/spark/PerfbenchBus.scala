package org.apache.spark

/** Lives in Spark's package only to reach the listener bus's drain, so the
  * benchmark reads its span accounting after every event is delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

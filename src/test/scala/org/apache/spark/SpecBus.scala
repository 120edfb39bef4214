package org.apache.spark

/** Lives in Spark's package only to reach the listener bus's drain, so a
  * spec reads job status after every event has been delivered. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

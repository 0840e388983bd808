package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * span's job and task counters are complete when the span closes. The
  * bus drain is Spark-internal, hence this one object in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

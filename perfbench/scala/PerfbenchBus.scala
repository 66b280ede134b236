package org.apache.spark

/** Drains the asynchronous listener bus so that every event of an op has
  * been delivered before the op's trace is read. `listenerBus` is
  * `private[spark]`, hence this bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

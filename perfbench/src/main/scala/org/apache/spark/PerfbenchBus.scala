package org.apache.spark

/** Listener events arrive asynchronously; metrics are read only after
  * every event posted so far has been delivered. The bus lives behind
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

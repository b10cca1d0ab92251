package org.apache.spark

/** The listener bus's own drain, which Spark keeps package-private: it
  * returns once every listener has processed every event posted so far. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}

package org.apache.spark

/** The listener bus's own drain, which Spark keeps package-private: blocks
  * until every event posted so far has reached every listener, or throws
  * a TimeoutException after `timeoutMs`. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}

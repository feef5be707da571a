package org.apache.spark

/** The listener bus's own drain is `private[spark]`; this shim lives in
  * the spark package to call it, so listener-fed counters are read only
  * after every event posted so far has been delivered (no fixed sleep).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}

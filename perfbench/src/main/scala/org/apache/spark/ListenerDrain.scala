package org.apache.spark

/** The listener bus's own drain is `private[spark]`; this shim lives in
  * the spark package to call it, so counters are read only after every
  * event posted so far has been delivered (no fixed sleep).
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}

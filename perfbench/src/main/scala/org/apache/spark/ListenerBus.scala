package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it to credit asynchronous listener events to the span that
  * caused them before the next span opens. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

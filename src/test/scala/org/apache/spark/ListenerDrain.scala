package org.apache.spark

/** `SparkContext.listenerBus` is package-private; specs that count
  * listener events drain it first, so no event of the measured call is
  * still queued.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

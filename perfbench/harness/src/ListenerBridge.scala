package org.apache.spark

/** `SparkContext.listenerBus` is package-private; the traced run needs to
  * drain it before it reads the events of a pass or detaches its
  * listeners, so that no event of the pass is still queued.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

package org.apache.spark

/** Specs' access to the listener bus drain (`private[spark]`): after it
  * returns, every event posted so far has reached every listener.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

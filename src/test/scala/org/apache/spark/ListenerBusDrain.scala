package org.apache.spark

/** Test access to the listener bus's drain (`private[spark]`): after it
  * returns, every listener has seen the events posted so far, so a spec
  * can count what one request caused.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

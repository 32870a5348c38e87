package org.apache.spark

/** Listener events arrive asynchronously; a spec that counts jobs reads its
  * listener only after the bus has drained (the hook is `private[spark]`).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

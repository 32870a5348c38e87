package org.apache.spark

/** Listener-bus access for the benchmark's tracer: Spark delivers listener
  * events asynchronously, so per-call job and shuffle counts are only
  * complete once the bus has drained (the hook is `private[spark]`).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Access to the one `private[spark]` call the benchmark needs: waiting
  * until the listener bus has delivered every event, so a traced window's
  * task metrics are complete before they are read.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

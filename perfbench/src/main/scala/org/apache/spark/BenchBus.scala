package org.apache.spark

/** The listener bus is asynchronous and its drain call is package-private;
  * listener counts read before it is drained would miss the last events. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

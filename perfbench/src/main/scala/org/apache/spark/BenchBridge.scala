package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains the bus at every span boundary so that the
  * listener counts read there include every event of the work inside.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}

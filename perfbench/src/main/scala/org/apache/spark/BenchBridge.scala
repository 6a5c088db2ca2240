package org.apache.spark

/** Access to the listener bus, which is private to Spark: the traced
  * run must see every event of an operation before it reads the
  * counts the listener attributed to it. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark must read its listeners only after every event was delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}

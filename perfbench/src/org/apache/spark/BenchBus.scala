package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

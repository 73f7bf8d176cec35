package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event so far;
  * the listener bus's drain is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

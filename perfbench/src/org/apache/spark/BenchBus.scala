package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event posted
  * so far, before it folds a call's jobs (the listener bus is asynchronous
  * and its drain method is package-private).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark reads complete counters. The bus's drain call is
  * package-private to Spark.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

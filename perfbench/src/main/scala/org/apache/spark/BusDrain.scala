package org.apache.spark

/** Lets the benchmark wait for the listener bus, whose drain call is
  * package-private to Spark.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Lets the benchmark's tracer wait until the listener bus has delivered
  * every event posted so far (the bus is private to Spark). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

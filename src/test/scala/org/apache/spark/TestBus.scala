package org.apache.spark

/** Lets a spec wait until the listener bus has delivered every event
  * posted so far (the bus is private to Spark), so job counts read from
  * `statusTracker` afterwards are complete. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Blocks until Spark's asynchronous listener bus has delivered every
  * event posted so far (the bus itself is private to Spark).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

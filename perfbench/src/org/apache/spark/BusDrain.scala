package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so the
  * benchmark reads complete job and task records (the listener bus is
  * asynchronous and its drain hook is package-private).
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

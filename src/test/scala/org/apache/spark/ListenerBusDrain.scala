package org.apache.spark

/** Blocks until every event posted so far has reached its listeners, so a
  * test can count jobs exactly (the listener bus itself is package-private).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

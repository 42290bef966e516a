package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so counters fed by a `SparkListener` are complete when read. The bus
  * is `private[spark]`; this object sits in Spark's package to reach it.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

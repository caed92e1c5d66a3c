package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced op's counters are complete before the next op starts. The bus
  * is private to Spark, hence this one-line bridge in Spark's package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

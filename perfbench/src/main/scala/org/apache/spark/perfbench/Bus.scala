package org.apache.spark.perfbench

/** The listener bus is `private[spark]`; waiting for it to drain is
  * the only way to read every SparkListener event of a finished job. */
object Bus {
  def drain(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

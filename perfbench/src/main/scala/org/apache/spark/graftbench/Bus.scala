package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's bus thread after the action that
  * caused them returns; the traced run waits for them before it reads the
  * probe. The wait is package-private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

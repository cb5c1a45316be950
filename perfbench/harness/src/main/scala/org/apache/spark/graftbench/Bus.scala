package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus: the traced run drains it
  * after each op so every listener event is attributed to the op that
  * raised it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

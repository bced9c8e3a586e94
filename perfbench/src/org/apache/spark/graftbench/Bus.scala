package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark: the traced run
  * drains it before reading its listeners, so no late event is lost.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

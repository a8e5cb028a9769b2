package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps package-private. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  * The listener bus is private to Spark; this one call is the reason
  * the file sits in an `org.apache.spark` package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

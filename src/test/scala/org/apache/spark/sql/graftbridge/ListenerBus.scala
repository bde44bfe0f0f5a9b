package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to the listener bus (`SparkContext.listenerBus` is
  * `private[spark]`). */
object ListenerBus {
  /** Block until every event posted so far has reached every listener, so
    * the status store (`statusTracker`) has seen every finished job. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

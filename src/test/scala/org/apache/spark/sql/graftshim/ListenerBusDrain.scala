package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Blocks until every event posted so far has reached every listener, so a
 * test reads a listener's counts only after they are complete (the bus is
 * `private[spark]`). */
object ListenerBusDrain {
  def apply(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}

package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** The listener bus is Spark-private; living in Spark's package lets the
  * benchmark wait for queued events so counters read at an operation
  * boundary are complete. */
object ListenerBusAccess {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

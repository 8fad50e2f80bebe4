package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The benchmark reads its listener counters only after the listener bus
  * has delivered every event posted so far; that drain is package-private
  * in Spark. */
object PerfbenchBridge {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The listener bus drain is package-private to Spark; the benchmark
  * needs it so that per-layer numbers include every event of a run. */
object PerfbenchBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

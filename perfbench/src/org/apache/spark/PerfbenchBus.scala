package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Waits until every queued listener event has been delivered, the
  * QueryExecutionListener callbacks included (they ride the same bus).
  * The bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

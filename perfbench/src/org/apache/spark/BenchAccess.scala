package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one package-private Spark call the benchmark makes: wait until the
  * listener bus has delivered every queued event, so the listeners' counts
  * for an op are complete when it ends. */
object BenchAccess {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}

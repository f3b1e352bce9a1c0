package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one `private[spark]` call the engine's measurement needs: wait
  * until the listener bus has delivered every posted event, so counters
  * read afterwards include all tasks of the jobs that already returned.
  * Spark's bus is asynchronous and offers no public drain.
  */
object GraftSparkBridge {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}

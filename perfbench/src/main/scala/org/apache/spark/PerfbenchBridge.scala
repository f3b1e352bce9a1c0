package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one `private[spark]` call the benchmark needs: wait until the
  * listener buses have delivered every event, so counters read after a
  * job include all of its tasks.
  */
object PerfbenchBridge {
  def drainListeners(spark: SparkSession): Unit = {
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** [[RunMetrics]]: a measured window counts the jobs, tasks and shuffle
  * bytes of what ran inside it, read after a listener-bus drain (no
  * sleep), and nothing leaks into the next window.
  */
class RunMetricsSpec extends SparkSpec {
  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // exchanges of the plan AQE starts from (its root hides them until run)
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }).collect { case e: ShuffleExchangeExec => e }.size

  test("a window counts its jobs, tasks and shuffle bytes; the next starts clean") {
    // a listener that holds the bus back on every task end makes late
    // delivery certain: without the drain, a window would miss its last
    // tasks and the next window would count them
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slow)
    val m = RunMetrics.install(spark)
    try {
      val shuffled = spark.range(0, 20000, 1, 4).repartition(3)
        .select((col("id") * 2).as("x"))
      assert(exchanges(shuffled) == 1)
      val t0 = m.snapshot()
      noop(shuffled)
      val t1 = m.snapshot()
      val w1 = t1 - t0
      assert(w1.jobs >= 1, w1)
      assert(w1.stages >= 1, w1)
      assert(w1.tasks >= 1, w1)
      assert(w1.cpuNs > 0, w1)
      assert(w1.shuffleWriteBytes > 0, w1)
      assert(w1.shuffleReadBytes > 0, w1)

      val narrow = spark.range(0, 20000, 1, 4).select((col("id") * 2).as("x"))
      assert(exchanges(narrow) == 0)
      noop(narrow)
      val w2 = m.snapshot() - t1
      assert(w2.jobs >= 1, w2)
      assert(w2.tasks >= 1, w2)
      assert(w2.shuffleWriteBytes == 0, w2)
      assert(w2.shuffleReadBytes == 0, w2)
    } finally {
      spark.sparkContext.removeSparkListener(m)
      spark.sparkContext.removeSparkListener(slow)
    }
  }
}

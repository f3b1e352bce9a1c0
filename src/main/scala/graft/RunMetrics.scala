package graft

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Cumulative job, stage and task counters of one SparkContext, read as
  * before/after snapshots around a measured window:
  * {{{
  *   val m = RunMetrics.install(spark)
  *   val before = m.snapshot(); df.write.format("noop").save()
  *   val window = m.snapshot() - before
  * }}}
  * Events reach listeners asynchronously; `snapshot` first drains the
  * listener bus, so a window counts every task of the jobs it ran and
  * nothing of the next one. Task figures are summed from task-end
  * metrics: run time (ms) and CPU time (ns) as the executor reports them,
  * and shuffle bytes written and read (local plus remote). Bytes scanned
  * are not counted: parquet's vectored reads bypass the Hadoop FS
  * statistics that task input metrics come from.
  */
final class RunMetrics private (spark: SparkSession) extends SparkListener {
  import RunMetrics.Counters

  // written only by the listener bus's dispatch thread, read after a drain
  @volatile private var total = Counters()

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    total = total.copy(jobs = total.jobs + 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    total = total.copy(stages = total.stages + 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    total = total + (if (m == null) Counters(tasks = 1) else Counters(
      tasks = 1,
      runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead))
  }

  def snapshot(): Counters = {
    GraftSparkBridge.drainListeners(spark)
    total
  }
}

object RunMetrics {
  final case class Counters(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      runMs: Long = 0, cpuNs: Long = 0,
      shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0) {
    private def zip(o: Counters, f: (Long, Long) => Long) = Counters(
      f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
      f(runMs, o.runMs), f(cpuNs, o.cpuNs),
      f(shuffleWriteBytes, o.shuffleWriteBytes),
      f(shuffleReadBytes, o.shuffleReadBytes))
    def +(o: Counters): Counters = zip(o, _ + _)
    def -(o: Counters): Counters = zip(o, _ - _)
  }

  /** Registers a fresh listener on the session's context. */
  def install(spark: SparkSession): RunMetrics = {
    val m = new RunMetrics(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }
}

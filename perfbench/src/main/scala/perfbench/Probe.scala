package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Engine counters accumulated from Spark's own listener buses. Read
  * them through [[Probe.snapshot]] after [[Probe.drain]], so every event
  * of the work just finished has been delivered.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val planningMs = new AtomicLong
  /** (submitted, completed) epoch ms of every finished stage. */
  val stageSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageSpans.add((s, c))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  private def planned(qe: QueryExecution): Unit = {
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  def snapshot(): Probe.Snap = Probe.Snap(jobs.get, stages.get, tasks.get, taskRunMs.get,
    taskCpuNs.get, gcMs.get, shuffleWriteBytes.get, spillBytes.get, planningMs.get)

  /** Wall time in [fromMs, toMs] not covered by any stage: driver-side
    * planning, result handling and scheduling gaps.
    */
  def driverGapMs(fromMs: Long, toMs: Long): Long = {
    val spans = stageSpans.asScala.toSeq
      .map { case (s, c) => (math.max(s, fromMs), math.min(c, toMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var covered = 0L
    var end = fromMs
    spans.foreach { case (s, c) =>
      if (c > end) { covered += c - math.max(s, end); end = c }
    }
    (toMs - fromMs) - covered
  }
}

object Probe {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
      taskCpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
      planningMs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
      shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
      planningMs - o.planningMs)
  }

  def attach(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Blocks until both listener buses have delivered every queued event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.drainListeners(spark)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  /** Process CPU seconds, minus the CPU of threads the harness itself
    * runs (the HTTP fixture) and of the JIT compiler. JIT CPU is reported
    * on its own (`jvm.jit_cpu_s`): after warm-up it is still up to half of
    * the program threads' CPU per run and falls at a rate that differs
    * between processes, which would spread `cpu_s` past its bound.
    */
  def cpuSeconds(excludeThreads: () => Seq[Long]): Double = {
    val own = excludeThreads().map(threads.getThreadCpuTime).filter(_ > 0).sum
    (osBean.getProcessCpuTime - own) / 1e9 - jitCpuSeconds()
  }

  private val clockTicks = 100.0 // USER_HZ on Linux

  /** CPU seconds of the JIT compiler threads, from /proc/self/task. */
  def jitCpuSeconds(): Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0.0
    else tasks.iterator.map { t =>
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0.0
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / clockTicks // utime, stime
        }
      } catch { case _: Exception => 0.0 } // thread ended while listing
    }.sum
  }

  /** CPU seconds the hypervisor gave to other guests (all CPUs), from
    * /proc/stat: ambient load this machine's loadavg cannot show.
    */
  def stealSeconds(): Double =
    try {
      val cpu = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")))
        .linesIterator.next().trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toLong / clockTicks else 0.0
    } catch { case _: Exception => 0.0 }

  def loadavg(): String =
    try new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg"))).trim
    catch { case _: Exception => "" }

  /** Largest heap in use right after any GC since the last [[Heap.reset]]. */
  object Heap extends NotificationListener {
    private val peak = new AtomicLong(0L)
    private val installed = new AtomicBoolean(false)

    def install(): Unit = if (installed.compareAndSet(false, true))
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(this, null, null)
        case _ =>
      }

    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        peak.accumulateAndGet(used, math.max)
      }

    def reset(): Unit = peak.set(0L)

    /** Runs a full GC (so at least one sample exists) and returns the peak
      * in MiB. GC notifications arrive on their own thread; give the last
      * one a moment to land.
      */
    def peakMiBAfterGc(): Double = {
      System.gc()
      Thread.sleep(20)
      peak.get / (1024.0 * 1024.0)
    }
  }
}

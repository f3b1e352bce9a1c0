package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark process for one workload: set up, run the program in a
  * closed loop for the given seconds, check every run's output, and write
  * a JSON result file for `perfbench/run.py`.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile>
  *
  * `setup_s` is the time from JVM start to the end of warm-up: Spark
  * session start, input generation, fixture start, the cold first run and
  * [[WarmupRuns]] more runs. With trace 1 the measured window is split:
  * untraced runs first (for the `spark.*` counters and the overhead base),
  * then traced runs.
  */
object Main {
  /** Warm-up runs after the cold first run. A fixed count, so cheaper
    * warm-up lowers `setup_s`. The JIT keeps compiling after it (the
    * detail line's `jit_cpu_s`), which the run budget cannot wait out.
    */
  val WarmupRuns = 5
  /** A sample during which the hypervisor gave more than this share of the
    * machine's CPU time to other guests measures them, not the program.
    * Such samples are set aside when at least [[MinQuiet]] quiet ones exist.
    */
  val StealGate = 0.05
  val MinQuiet = 3

  final case class Sample(wallS: Double, cpuS: Double, jitCpuS: Double, heapMiB: Double,
      outBytes: Long, spark: Probe.Snap, driverGapS: Double, loadavg: String, stealS: Double,
      detail: Map[String, Any]) {
    def quiet(cores: Int): Boolean = stealS <= StealGate * cores * wallS
  }

  private def session(dir: String, cores: Int): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Exits explicitly: a thread the program leaves behind must not keep
    * the JVM alive, and a failure must end the run with a non-zero code.
    */
  def main(args: Array[String]): Unit = {
    val ok = try { measure(args); true }
    catch { case e: Throwable => e.printStackTrace(); false }
    sys.exit(if (ok) 0 else 1)
  }

  private def measure(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile>")
    val Array(name, seedS, secondsS, traceS, workDir, resultFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = Workloads(name)
    Probe.Heap.install()

    def runOnce(c: Ctx, failures: mutable.ArrayBuffer[String]): (Outcome, Sample) = {
      Probe.drain(c.spark)
      Probe.Heap.reset()
      val snap0 = c.probe.snapshot()
      val cpu0 = Probe.cpuSeconds(() => wl.harnessThreads)
      val jit0 = Probe.jitCpuSeconds()
      val steal0 = Probe.stealSeconds()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val o = wl.run(c)
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val cpu = Probe.cpuSeconds(() => wl.harnessThreads) - cpu0
      val jitCpu = Probe.jitCpuSeconds() - jit0
      val steal = Probe.stealSeconds() - steal0
      val heap = Probe.Heap.peakMiBAfterGc()
      Probe.drain(c.spark)
      val snap = c.probe.snapshot() - snap0
      val gap = c.probe.driverGapMs(startMs, endMs) / 1000.0
      val errs = wl.check(c, o)
      failures ++= errs
      val failed = if (errs.nonEmpty) math.max(1, o.failed) else o.failed
      (o.copy(failed = failed),
        Sample(wall, cpu, jitCpu, heap, o.outBytes, snap, gap, Probe.loadavg(), steal,
          wl.sampleDetail))
    }

    // ---- set-up: from JVM start to the end of warm-up
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    val dir = s"$workDir/run"
    Files.createDirectories(Paths.get(dir))
    val spark = session(dir, cores)
    val ctx = Ctx(spark, Probe.attach(spark), dir, seed, cores)
    val p0 = System.currentTimeMillis()
    wl.prepare(ctx)
    val w0 = System.currentTimeMillis()
    val failures = mutable.ArrayBuffer.empty[String]
    val warmup = (0 to WarmupRuns).map { _ =>
      val warm = mutable.ArrayBuffer.empty[String]
      val (o, s) = runOnce(ctx, warm)
      if (o.failed > 0 || warm.nonEmpty)
        throw new IllegalStateException(s"warm-up run failed: ${warm.mkString("; ")}")
      s.wallS
    }
    val setupS = (System.currentTimeMillis() - t0) / 1000.0
    val setupPhases = Map("jvm_and_session_s" -> (p0 - t0) / 1000.0,
      "prepare_s" -> (w0 - p0) / 1000.0, "first_run_s" -> warmup.head,
      "warmup_s" -> warmup.tail)

    // ---- measured window: closed loop, one run at a time
    def loop(budgetS: Double)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n == 0 || (System.nanoTime() - t0) / 1e9 < budgetS) { body; n += 1 }
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    var attempted = 0
    var failed = 0
    var last: Outcome = null
    def measureOnce(): Unit = {
      val (o, s) = runOnce(ctx, failures)
      attempted += o.attempted
      failed += o.failed
      samples += s
      last = o
    }
    loop(if (trace) seconds / 2 else seconds)(measureOnce())
    val quiet = samples.filter(_.quiet(cores))
    val measured = if (quiet.size >= MinQuiet) quiet else samples

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupS, "setup_phases" -> setupPhases,
      "samples" -> samples.map(s => Map("wall_s" -> s.wallS, "cpu_s" -> s.cpuS,
        "jit_cpu_s" -> s.jitCpuS,
        "live_heap_mb" -> s.heapMiB, "out_bytes" -> s.outBytes, "loadavg" -> s.loadavg,
        "steal_s" -> s.stealS, "quiet" -> s.quiet(cores),
        "jobs" -> s.spark.jobs, "tasks" -> s.spark.tasks) ++ s.detail).toSeq,
      "samples_used" -> measured.size)

    val endToEnd = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "wall_s" -> Workloads.median(measured.map(_.wallS).toSeq),
      "cpu_s" -> Workloads.median(measured.map(_.cpuS).toSeq),
      "live_heap_mb" -> Workloads.median(measured.map(_.heapMiB).toSeq),
      "out_bytes" -> Workloads.median(measured.map(_.outBytes.toDouble).toSeq))

    if (trace) {
      val t = new Trace
      val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
      loop(seconds / 2) {
        val (m, errs) = wl.traced(ctx, t, last)
        layers += m
        attempted += 1
        if (errs.nonEmpty) { failed += 1; failures ++= errs }
      }
      val (untimed, errs, n, check) = Untimed.trace(name, ctx, t)
      attempted += n
      if (errs.nonEmpty) { failed += 1; failures ++= errs }
      check.foreach(result("check") = _)
      t.write(Paths.get(s"$workDir/spans.jsonl"))
      def sparkMed(f: Sample => Double) = Workloads.median(measured.map(f).toSeq)
      val perLayer = mutable.LinkedHashMap[String, Double](
        "spark.jobs" -> sparkMed(_.spark.jobs.toDouble),
        "spark.stages" -> sparkMed(_.spark.stages.toDouble),
        "spark.tasks" -> sparkMed(_.spark.tasks.toDouble),
        "spark.task_run_s" -> sparkMed(_.spark.taskRunMs / 1000.0),
        "spark.task_cpu_s" -> sparkMed(_.spark.taskCpuNs / 1e9),
        "spark.gc_s" -> sparkMed(_.spark.gcMs / 1000.0),
        "spark.shuffle_write_bytes" -> sparkMed(_.spark.shuffleWriteBytes.toDouble),
        "spark.spill_bytes" -> sparkMed(_.spark.spillBytes.toDouble),
        "spark.driver_gap_s" -> sparkMed(_.driverGapS),
        "plans.planning_s" -> sparkMed(_.spark.planningMs / 1000.0),
        "jvm.jit_cpu_s" -> sparkMed(_.jitCpuS))
      perLayer ++= Workloads.medians(layers.toSeq)
      perLayer("trace.overhead_s") = perLayer("trace.total_s") - endToEnd("wall_s")
      perLayer ++= untimed
      result("per_layer") = perLayer
      result("spans") = s"$workDir/spans.jsonl"
    }

    result("end_to_end") = endToEnd
    result("attempted") = attempted
    result("failed") = failed
    result("failures") = failures.distinct.take(20).toSeq
    Files.write(Paths.get(resultFile), Json.write(result).getBytes("UTF-8"))
    wl.stop()
    spark.stop()
  }
}

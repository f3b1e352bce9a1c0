package graft

/** Benchmark main (driver contract): times SparkEntry.headline on
  * SPARK_GRAFT_SF_DIR, printing one JSON line.
  *
  * Results are fully materialized through the `noop` sink — `count()`
  * would let Catalyst prune every projection and undercount the real
  * work; noop executes the complete physical plan and discards rows.
  *
  * Trustworthiness of the artifact (round-7 additions, tightened in
  * round 12): this machine's ambient load swings wall time 30-40%,
  * which has twice produced phantom regressions in the committed JSON.
  * Three defenses:
  *   - each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) and the
  *     reported per-query number (and the headline total) is the MIN —
  *     the best observed run is the closest observable to the machine's
  *     quiet-window cost; {min,max,runs} are all in the JSON so spread
  *     is visible;
  *   - the min must be CORROBORATED: if the two fastest runs disagree
  *     by more than 2x (one lucky run proves nothing), up to 2 extra
  *     runs are added before recording; a query still uncorroborated
  *     after that lands in "noisy" (min unmeasurable this run, NOT
  *     regressed — bench_diff.py discounts those rows);
  *   - /proc/loadavg is recorded before and after the sweep AND its
  *     1-min figure per query ("load" in the detail line), so the diff
  *     tool can see which entries ran under ambient pressure;
  *   - (round 20) the sweep DEFENDS its start: a bounded pre-sweep
  *     quiet-wait (up to SPARK_GRAFT_BENCH_QUIET_WAIT_SEC, default 300,
  *     for the raw 1-min loadavg to reach the gate — raw is correct
  *     there, this JVM is idle until the warmup) plus a bounded
  *     sleep-before-requeue inside the per-query gate
  *     (SPARK_GRAFT_BENCH_GATE_SLEEP_SEC total, default 180), so an
  *     ambient burst decays instead of poisoning every retry in the
  *     same 1-min window; "quiet_wait_sec" lands in the artifact;
  *   - (round 18) the artifact is LOAD-GATED: three rounds running, the
  *     committed number needed after-the-fact ambient adjudication, so
  *     the gate now happens inside the sweep. Raw loadavg can't be the
  *     gate — the bench itself IS load (the r17 quiet sweep's median
  *     per-query 1-min load was 2.23 from our own local[4] JVM) — so
  *     each run is tagged with the AMBIENT load: 1-min loadavg minus
  *     this JVM's own CPU rate over the trailing minute (measured via
  *     getProcessCpuTime samples). A query whose every run executed
  *     above SPARK_GRAFT_BENCH_LOAD_GATE ambient (default 2.0) gets up
  *     to 2 fresh attempts; if none lands quiet it joins "noisy"
  *     (unmeasurable this sweep, NOT regressed) instead of silently
  *     reporting a poisoned min; when quiet runs exist, the reported
  *     min is taken over THOSE.
  *
  * A run whose query throws is FAILED: it is left out of the min, the
  * corroboration check and the total, and the query is named in the
  * "failed" list of both total lines. Each detail entry also carries the
  * [[RunMetrics]] window of the run that backs its min: jobs, stages,
  * tasks, summed task run and CPU seconds, and shuffle write/read
  * bytes. The counters are read after the timer stops.
  */
object Bench {
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "unavailable" }

  private def load1(): Double =
    try loadavg().split(" ")(0).toDouble catch { case _: Throwable => -1.0 }

  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
  private def selfCpuSec(): Double =
    osBean.map(_.getProcessCpuTime / 1e9).getOrElse(-1.0)

  /** Rolling (wallSec, selfCpuSec) samples for the trailing-minute own-
    * CPU rate — the subtrahend that turns raw loadavg into an ambient
    * estimate. The reference sample is chosen from the PRIOR history
    * (oldest within the last 60 s, else the oldest overall) BEFORE the
    * current sample is appended: appending first made a >60 s-stale
    * history match the just-appended sample itself (dt = 0 → estimate
    * unavailable → run classified quiet), silently disabling the gate
    * for exactly the long queries most exposed to ambient pressure.
    * The oldest-overall fallback keeps a (longer-window, hence
    * smoothed) own-rate estimate in play rather than none.
    */
  private val cpuSamples = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
  private def nowSec(): Double = System.nanoTime() / 1e9
  private def ambientLoad(): Double = {
    val cpu = selfCpuSec()
    if (cpu < 0) return -1.0 // bean unavailable: gate disabled downstream
    val t = nowSec()
    val cutoff = t - 60.0
    val base = cpuSamples.find(_._1 >= cutoff)
      .orElse(cpuSamples.headOption).getOrElse((t, cpu))
    cpuSamples += ((t, cpu))
    val dt = t - base._1
    val ownRate = if (dt >= 5.0) (cpu - base._2) / dt else -1.0
    if (ownRate < 0) -1.0 else math.max(0.0, load1() - ownRate)
  }

  /** One timed run: wall seconds, ambient load at its start, whether the
    * query completed, and the listener counters of its window. */
  private[graft] final case class Run(
      sec: Double, amb: Double, ok: Boolean, m: RunMetrics.Counters)

  // the min is "corroborated" when the two fastest completed runs agree
  // within 2x — a single lucky fast run under ambient load proves nothing
  private[graft] def corroborated(rs: Seq[Run]): Boolean = {
    val s = rs.filter(_.ok).map(_.sec).sorted
    s.length >= 2 && s(0) > 0 && s(1) / s(0) <= 2.0
  }

  // ambient gate: a run is "quiet" when the box's load MINUS our own
  // JVM's trailing-minute CPU rate is at or under the gate; -1 means
  // the estimate is unavailable (young history / no bean) and the run
  // is treated as quiet rather than poisoning the sweep
  private[graft] def quiet(r: Run, gate: Double): Boolean =
    r.amb < 0 || r.amb <= gate

  /** The runs a query's reported min is taken over: the completed QUIET
    * runs when any exist (the gate's whole point — a poisoned fast run
    * must not win), all completed runs otherwise (best observable,
    * flagged noisy). Failed runs never count. */
  private[graft] def pool(rs: Seq[Run], gate: Double): Seq[Run] = {
    val done = rs.filter(_.ok)
    val q = done.filter(quiet(_, gate))
    if (q.nonEmpty) q else done
  }

  /** The run that backs the reported min; None when every run failed. */
  private[graft] def backing(rs: Seq[Run], gate: Double): Option[Run] =
    pool(rs, gate).minByOption(_.sec)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Full-catalog sweep (opt-in, not the driver's headline contract):
    // times EVERY registered query once (k=1) so a regression in one of
    // the ~120 non-headline queries — correctness-verified each round
    // but otherwise never timed — can't stay invisible. The sweep's
    // detail line gets committed to PERF_NOTES once per round.
    val benchAll = sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")
    // r21 (verdict item 8): full-catalog default k=1 -> 2 so every
    // catalog query gets a corroborated, gate-checked min each round
    // even when the 1800-char one-line artifact truncates its tail
    // (headline k=3 unchanged; BENCH_ALL stays opt-in, the driver's
    // headline sweep is unaffected).
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS",
      if (benchAll) "2" else "3").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = RunMetrics.install(spark)

    // r20 (verdict item 2): a sweep that STARTS under ambient pressure
    // stays poisoned — the per-query gate can only re-queue a few times,
    // so a loaded box at t=0 used to produce a flagged-but-committed
    // artifact (BENCH_r19: loadavg_before 3.66, total 186.6 s vs the
    // same code's 130.9 s quiet). Bounded pre-sweep quiet-wait: poll the
    // 1-min loadavg (raw — our own JVM is idle before the warmup) until
    // it is at or under the gate or the wait budget runs out; the waited
    // seconds are recorded in the artifact either way.
    val quietWaitBudget = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_QUIET_WAIT_SEC", "300").toInt
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_GATE", "2.0").toDouble
    var quietWaited = 0
    while (quietWaited < quietWaitBudget && load1() > loadGate) {
      Thread.sleep(10000)
      quietWaited += 10
    }

    val loadBefore = loadavg()
    ambientLoad() // seed the own-CPU sample history before the warmup

    // Untimed warmup: noop-write every table so JIT, codegen caches, the
    // file index, and the first-reader page-cache penalty don't get
    // billed to whichever query happens to run first — per-query numbers
    // then reflect steady-state compute, the regime a long-running
    // cluster job actually operates in. (noop, not count(): count prunes
    // to an empty schema and never touches the column data pages.)
    Tables.names.foreach(t =>
      Tables(spark, sfDir, t).write.format("noop").mode("overwrite").save())

    // Optional subset for focused local iteration (driver leaves it unset).
    // Bench resolves from queries ++ benchOnly: the bench-only spellings
    // (XXH64 production kernels, spec-pinned) are timed but never enter
    // the Verify/oracle catalog.
    val catalog = SparkEntry.queries ++ SparkEntry.benchOnly
    val selected = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(
        if (benchAll) catalog.keys.toSeq.sorted else SparkEntry.benchHeadline)
    val (known, unknown) = selected.partition(catalog.contains)
    unknown.foreach(n => System.err.println(s"[bench] unknown query '$n' skipped"))
    // per-sweep budget for the r20 sleep-before-requeue (seconds)
    var gateSleepBudget = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_GATE_SLEEP_SEC", "180").toInt
    val results = known.map { name =>
      val fn = catalog(name)
      val qLoad = load1()
      def once(): Run = {
        val amb = ambientLoad()
        val before = metrics.snapshot()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        Run(sec, amb, ok, metrics.snapshot() - before)
      }
      var runs = (1 to runsPerQuery).map(_ => once())
      // a failed query gets no extra runs: its timings back nothing
      def retry = runsPerQuery > 1 && runs.forall(_.ok)
      var extra = 0
      while (retry && extra < 2 && !corroborated(runs)) {
        runs = runs :+ once()
        extra += 1
      }
      // load gate (r18): if every run so far executed above the ambient
      // gate, give the query up to 2 fresh chances to land on a quiet
      // window before declaring its min unmeasurable this sweep.
      // r20: each re-queue may first SLEEP a little (ambient pressure
      // decays on the 1-min horizon, so an immediate re-run usually
      // lands in the same noise window) — bounded by a per-SWEEP budget
      // so a box that stays loaded cannot stall the artifact.
      var gateExtra = 0
      while (retry && gateExtra < 2 && !runs.exists(quiet(_, loadGate))) {
        val nap = math.min(20, gateSleepBudget)
        if (nap > 0) { Thread.sleep(nap * 1000L); gateSleepBudget -= nap }
        runs = runs :+ once()
        gateExtra += 1
      }
      (name, runs, qLoad)
    }
    val loadAfter = loadavg()

    // Locale.ROOT: a comma-decimal locale would print 1,2345 and corrupt
    // the JSON artifact.
    def fmt(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    def fmt2(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)
    def str(s: String): String = "\"" + s + "\""
    // a query whose every run failed has no reported min: it is left out
    // of the detail map, the queries map and the total, and named below
    val measured = results.flatMap { case (k, rs, qLoad) =>
      backing(rs, loadGate).map(b => (k, rs.filter(_.ok), qLoad, b)) }
    val failed = results.collect { case (k, rs, _) if rs.exists(!_.ok) => str(k) }
    val detail = measured.map { case (k, done, qLoad, b) =>
      val m = b.m
      str(k) + ":{\"min\":" + fmt(b.sec) +
        ",\"max\":" + fmt(done.map(_.sec).max) +
        ",\"load\":" + fmt2(qLoad) +
        ",\"runs\":[" + done.map(r => fmt(r.sec)).mkString(",") + "]" +
        ",\"amb\":[" + done.map(r => fmt2(r.amb)).mkString(",") + "]" +
        Seq("jobs" -> m.jobs.toString, "stages" -> m.stages.toString,
          "tasks" -> m.tasks.toString, "task_run_s" -> fmt(m.runMs / 1e3),
          "task_cpu_s" -> fmt(m.cpuNs / 1e9),
          "shuffle_write_bytes" -> m.shuffleWriteBytes.toString,
          "shuffle_read_bytes" -> m.shuffleReadBytes.toString)
          .map { case (f, v) => "," + str(f) + ":" + v }.mkString + "}"
    }.mkString("{", ",", "}")
    // noisy = uncorroborated min OR no completed run under the ambient
    // gate — either way the number is unmeasurable this run, not regressed
    val noisy = measured.collect {
      case (k, done, _, _) if runsPerQuery > 1 &&
        (!corroborated(done) || !done.exists(quiet(_, loadGate))) => str(k)
    }
    val total = measured.map(_._4.sec).sum

    // Artifact contract: the driver captures only the LAST ~2000 chars of
    // stdout, so the FINAL line must be a complete compact JSON object —
    // rounds 7 and 8 shipped `parsed: null` because one ~12 kB line blew
    // past the tail. The verbose per-run detail goes on an EARLIER line
    // (still in the full log for archaeology); the final line carries the
    // headline total plus as many per-query mins as fit a 1800-char
    // budget (slowest first — the ones anyone compares across rounds),
    // with an explicit queries_omitted count when truncated.
    println(s"""{"metric":"detail","detail":$detail}""")
    // The SAME two lines, untruncated, persisted to a file: the driver
    // artifact tails stdout at ~2000 chars, which has repeatedly left a
    // load-poisoned per-query number unadjudicatable from the committed
    // JSON alone (r12 q_rfm, r13 q_gini each took a quiet re-run).
    // bench_diff.py reads this file directly — same line format as the
    // stdout capture, with the full queries map and per-query
    // {min,max,load,runs}. Committed per round as BENCH_DETAIL_r{N}.json.
    // max per-query 1-min load: one compact field on BOTH total lines so
    // a load-poisoned sweep is flaggable from the truncated artifact
    // alone (the per-query "load" values live on the detail line — the
    // adjudication convention in PERF_NOTES reads those, never the tail)
    val maxQLoad = "%.2f".formatLocal(java.util.Locale.ROOT,
      results.map(_._3).foldLeft(-1.0)(math.max))
    // max ambient across the runs that BACKED a reported min — the one
    // figure that says whether any committed number ran under pressure
    val maxQAmbient = fmt2(results.flatMap(r => pool(r._2, loadGate).map(_.amb))
      .foldLeft(-1.0)(math.max))
    def prefix(failedNames: Seq[String]): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""runs_per_query":$runsPerQuery,"noisy":${noisy.mkString("[", ",", "]")},""" +
      s""""failed":${failedNames.mkString("[", ",", "]")},""" +
      s""""max_q_load":$maxQLoad,"max_q_ambient":$maxQAmbient,""" +
      s""""load_gate":${fmt2(loadGate)},"quiet_wait_sec":$quietWaited,""" +
      s""""loadavg_before":"$loadBefore","loadavg_after":"$loadAfter",""" +
      s""""sf":"$sfDir","queries":{"""
    val entries = measured.sortBy(r => -r._4.sec)
      .map { case (k, _, _, b) => str(k) + ":" + fmt(b.sec) }
    val fullTotalLine = prefix(failed) + entries.mkString(",") + "}}"
    val detailOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "bench_detail_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailOut),
      (s"""{"metric":"detail","detail":$detail}""" + "\n" + fullTotalLine + "\n")
        .getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] detail file $detailOut not written: $e") }
    // strict prefix of what fits: stop at the FIRST entry that doesn't
    // fit — skipping it but keeping later (shorter) ones would silently
    // drop a slow query with a long name while keeping faster ones
    def fit(es: Seq[String], budget: Int): Vector[String] = es.to(LazyList)
      .scanLeft(("", 0)) { case ((_, used), e) => (e, used + e.length + 1) }
      .drop(1).takeWhile(_._2 <= budget).map(_._1).toVector
    // failed names come before the mins on the final line; a mass failure
    // keeps the first names that fit in 600 chars plus a "+N more" marker
    val keptFailed = fit(failed, 600)
    val finalPrefix = prefix(
      if (keptFailed.length == failed.length) failed
      else keptFailed :+ str(s"+${failed.length - keptFailed.length} more"))
    val kept = fit(entries, 1800 - finalPrefix.length - 40) // slack for the closing + omitted count
    val omitted = entries.length - kept.length
    println(finalPrefix + kept.mkString(",") + s"""},"queries_omitted":$omitted}""")
    spark.stop()
  }
}

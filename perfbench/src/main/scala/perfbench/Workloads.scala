package perfbench

import graft.MatchPipeline
import graft.ops.CoreOps
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** What a workload needs from the harness. */
final case class Ctx(spark: SparkSession, probe: Probe, dir: String, seed: Long, cores: Int)

/** One closed-loop run of the program: operations attempted and failed
  * (thrown), bytes its sink committed, and what the output check needs.
  */
final case class Outcome(attempted: Int, failed: Int, outBytes: Long, result: Any)

trait Workload {
  /** Generates the inputs under `c.dir` and starts any fixture. */
  def prepare(c: Ctx): Unit
  /** One run of the program. The only code inside the timing. */
  def run(c: Ctx): Outcome
  /** Checks the run just finished; returns one message per failure. */
  def check(c: Ctx, o: Outcome): Seq[String]
  /** One traced run: each layer's public function called in pipeline
    * order on the previous call's materialized output. Returns the layer
    * metrics and any drift-guard failures against the untraced `ref`.
    */
  def traced(c: Ctx, t: Trace, ref: Outcome): (Map[String, Double], Seq[String])
  def stop(): Unit = ()
  /** Threads the harness runs inside the process (left out of cpu_s). */
  def harnessThreads: Seq[Long] = Nil
  /** Fixture-side figures of the run just finished, for the detail line. */
  def sampleDetail: Map[String, Any] = Map.empty
}

object Workloads {
  val names: Seq[String] = Seq("match_etl", "match_http")

  def apply(name: String): Workload = name match {
    case "match_etl" => new MatchWorkload(http = false, nQueues = 20, idsPerQueue = 1000)
    case "match_http" => new MatchWorkload(http = true, nQueues = 2, idsPerQueue = 100)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  def dataFiles(path: String): Seq[Path] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.startsWith("part-")
      }.toList finally s.close()
    }
  }

  def dataBytes(path: String): Long = dataFiles(path).map(p => Files.size(p)).sum

  /** Runs `body` and returns what it returned plus the probe delta, read
    * after the listener buses have drained.
    */
  def measured[T](c: Ctx)(body: => T): (T, Probe.Snap) = {
    Probe.drain(c.spark)
    val before = c.probe.snapshot()
    val r = body
    Probe.drain(c.spark)
    (r, c.probe.snapshot() - before)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Per-key median over runs that each report a map of metrics. */
  def medians(runs: Seq[Map[String, Double]]): Map[String, Double] =
    runs.flatMap(_.keys).distinct.map(k => k -> median(runs.flatMap(_.get(k)))).toMap

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0))
    }
}

/** Per-call timing wrapper around a `MatchPipeline.Fetcher`. The wrapped
  * function runs inside Spark tasks of this JVM (local master), so the
  * counters are process-wide statics.
  */
object FetchTimer {
  val durationsNs = new ConcurrentLinkedQueue[java.lang.Long]()
  val calls = new AtomicLong
  val ok = new AtomicLong
  private val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger

  def reset(): Unit = {
    durationsNs.clear(); calls.set(0); ok.set(0); inflightMax.set(0)
  }

  def wrap(f: MatchPipeline.Fetcher): MatchPipeline.Fetcher = { id =>
    inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
    val t0 = System.nanoTime()
    try {
      val r = f(id)
      if (r._1 == 200) FetchTimer.ok.incrementAndGet()
      r
    } finally {
      durationsNs.add(System.nanoTime() - t0)
      calls.incrementAndGet()
      inflight.decrementAndGet()
    }
  }
}

/** The paper's match ETL (`MatchPipeline.run`: id scan, fetch, status
  * filter, nested transform, flatten, dedup, truncate-and-load), either
  * with the engine's in-memory fetcher or with the HTTP fetcher against
  * the loopback fixture, which puts the client, the bounded retry and the
  * typed error rows on the path.
  */
final class MatchWorkload(http: Boolean, nQueues: Int, idsPerQueue: Int) extends Workload {
  private val fetchPartitions = 8 // MatchPipeline.run's default fan-out
  private val maxRetries = 3 // MatchPipeline.fetchDetails' default
  private var puuid = ""
  private var queues: Seq[Int] = Nil
  private var outPath = ""
  private var fixture: Option[HttpFixture] = None
  private var expectedIds: Seq[String] = Nil
  private var planted500: Set[String] = Set.empty
  private var planted429: Set[String] = Set.empty

  def prepare(c: Ctx): Unit = {
    val rng = new java.util.SplittableRandom(c.seed)
    puuid = f"PUUID_${rng.nextLong()}%016x"
    queues = rng.ints(100, 1000).distinct().limit(nQueues.toLong).toArray.toSeq.sorted
    outPath = s"${c.dir}/out/matches"
    expectedIds = for (q <- queues; i <- 0 until idsPerQueue) yield f"NA1_$q%03d_$i%07d"
    if (http) {
      val faults = HttpFixture.plant(c.seed, expectedIds)
      planted500 = faults.collect { case (id, HttpFixture.Permanent500) => id }.toSet
      planted429 = faults.collect { case (id, HttpFixture.First429) => id }.toSet
      fixture = Some(new HttpFixture(puuid, faults, latencyMs = 20L, handlerThreads = c.cores))
    }
  }

  /** What `MatchPipeline.run` fetches with: its default in-memory fetcher
    * (passed as null), or HTTP.
    */
  private def fetcher: MatchPipeline.Fetcher =
    fixture.map(f => graft.sources.HttpFetchers.matchFetcher(f.baseUrl)).orNull

  def run(c: Ctx): Outcome = {
    fixture.foreach(_.reset())
    val m = MatchPipeline.run(c.spark, puuid, queues, idsPerQueue, outPath, fetch = fetcher)
    Outcome(1, 0, Workloads.dataBytes(outPath), m)
  }

  def check(c: Ctx, o: Outcome): Seq[String] = {
    val m = o.result.asInstanceOf[MatchPipeline.Metrics]
    val want = expectedIds.size.toLong
    val errs = Seq.newBuilder[String]
    if (m.fetched != want) errs += s"fetched ${m.fetched} != $want distinct ids"
    if (m.rejected != planted500.size) errs += s"rejected ${m.rejected} != ${planted500.size} planted 500s"
    if (m.loaded != want - planted500.size)
      errs += s"loaded ${m.loaded} != ${want - planted500.size}"
    val out = c.spark.read.parquet(outPath)
    val r = out.agg(count(lit(1)), countDistinct(col("match_id")),
      sum(when(col("player_puuid") === puuid, 0L).otherwise(1L)),
      sum(when((col("game_duration_units") === "s") === col("game_end").isNotNull, 0L)
        .otherwise(1L))).head()
    if (r.getLong(0) != r.getLong(1)) errs += s"${r.getLong(0) - r.getLong(1)} duplicate match_ids"
    if (r.getLong(2) != 0) errs += s"${r.getLong(2)} rows with another player's puuid"
    if (r.getLong(3) != 0) errs += s"${r.getLong(3)} rows whose units disagree with game_end"
    val loaded = out.select("match_id").collect().map(_.getString(0)).toSet
    if (loaded != expectedIds.toSet -- planted500) errs += "loaded ids != ids minus planted 500s"
    fixture.foreach { f =>
      val attempts = f.attemptsById
      val wrong = expectedIds.filter { id =>
        val want = if (planted500(id)) maxRetries + 1 else if (planted429(id)) 2 else 1
        attempts.getOrElse(id, 0) != want
      }
      if (wrong.nonEmpty) errs += s"${wrong.size} ids with unexpected attempt counts, e.g. ${wrong.head}"
    }
    errs.result()
  }

  def traced(c: Ctx, t: Trace, ref: Outcome): (Map[String, Double], Seq[String]) = {
    import c.spark.implicits._
    val m = ref.result.asInstanceOf[MatchPipeline.Metrics]
    fixture.foreach(_.reset())
    FetchTimer.reset()
    t.newRun()
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errs = Seq.newBuilder[String]
    t.span("match.run") {
      val ids = t.span("sources.ids_scan") {
        val pages0 = graft.sources.FakeMatchIdClient.fetches.get
        val (ids, d) = Workloads.measured(c) {
          c.spark.read.format("graft.sources.MatchIdsSource")
            .option("queues", queues.mkString(","))
            .option("idsPerQueue", idsPerQueue.toLong)
            .load()
            .filter(col("queue").isin(queues.map(Integer.valueOf): _*))
            .select("match_id").as[String]
            .distinct()
            .repartition(fetchPartitions)
            .localCheckpoint()
        }
        counts("sources.ids_scan.tasks") = d.tasks.toDouble
        counts("sources.ids_pages") = (graft.sources.FakeMatchIdClient.fetches.get - pages0).toDouble
        ids
      }
      val responses = t.span("sources.fetch") {
        val f = Option(fetcher).getOrElse(MatchPipeline.fakeFetcher(puuid))
        MatchPipeline.fetchDetails(ids, FetchTimer.wrap(f)).toDF().localCheckpoint()
      }
      val fetched = responses.count()
      val ms = FetchTimer.durationsNs.asScala.map(_ / 1e6).toSeq
      counts("sources.fetch.ms_p50") = Workloads.percentile(ms, 0.50)
      counts("sources.fetch.ms_p99") = Workloads.percentile(ms, 0.99)
      counts("sources.fetch.attempts") = FetchTimer.calls.get.toDouble
      counts("sources.fetch.ok_ratio") = FetchTimer.ok.get.toDouble / math.max(1L, FetchTimer.calls.get)
      counts("sources.fetch.inflight_max") = FetchTimer.inflightMax.get.toDouble
      fixture.foreach { f =>
        if (f.requestCount != FetchTimer.calls.get)
          errs += s"fixture saw ${f.requestCount} requests, fetch wrapper ${FetchTimer.calls.get}"
      }
      val errorRows = responses.filter(col("error")).select("match_id", "status").collect()
      if (errorRows.map(_.getString(0)).toSet != planted500 || errorRows.exists(_.getInt(1) != 500))
        errs += "typed error rows != planted permanent 500s"

      val okRows = t.span("ops.status_filter") {
        CoreOps.statusFilter(responses).localCheckpoint()
      }
      val ok = okRows.count()
      counts("ops.status_filter.rejected") = (fetched - ok).toDouble
      val flat = t.span("pipeline.transform") {
        MatchPipeline.transform(okRows, puuid).localCheckpoint()
      }
      val flatRows = flat.count()
      counts("pipeline.transform.rows_per_s") =
        flatRows / math.max(1e-9, t.durationS(t.named("pipeline.transform").last))
      val deduped = t.span("ops.dedup") {
        val (df, d) = Workloads.measured(c)(flat.dropDuplicates("match_id").localCheckpoint())
        counts("ops.dedup.shuffle_bytes") = d.shuffleWriteBytes.toDouble
        df
      }
      t.span("ops.truncate_load")(CoreOps.truncateLoad(deduped, outPath))
      counts("ops.truncate_load.files") = Workloads.dataFiles(outPath).size.toDouble
      val loaded = c.spark.read.parquet(outPath).count()
      // drift guard: the composition must reproduce MatchPipeline.run's counts
      Seq("fetched" -> (fetched, m.fetched), "ok" -> (ok, m.ok),
        "rejected" -> (fetched - ok, m.rejected), "loaded" -> (loaded, m.loaded))
        .foreach { case (k, (got, want)) =>
          if (got != want) errs += s"drift: traced $k $got != MatchPipeline.Metrics $want"
        }
    }
    Seq("sources.ids_scan", "sources.fetch", "pipeline.transform", "ops.dedup",
      "ops.truncate_load").foreach(n => counts(s"$n.s") = t.selfS(t.named(n).last))
    counts("trace.total_s") = t.durationS(t.named("match.run").last)
    (counts.toMap, errs.result())
  }

  override def stop(): Unit = { fixture.foreach(_.stop()); fixture = None }
  override def harnessThreads: Seq[Long] = fixture.map(_.threadIds).getOrElse(Nil)
  override def sampleDetail: Map[String, Any] = fixture.map(f => Map(
    "http_requests" -> f.requestCount, "http_inflight_max" -> f.maxInflight)).getOrElse(Map.empty)
}

/** `TrainingDataDemo.run` on a seeded documents table: JSONL quarantine
  * parse, admission gates, exact and n-gram near dedup, duplicate
  * clusters, decontamination, chunk write and compaction — many small
  * jobs and checkpoints. Traced through [[Untimed]].
  */
final class TrainingWorkload(nDocs: Int) extends Workload {
  private var dataDir = ""
  private var outDir = ""

  def prepare(c: Ctx): Unit = {
    dataDir = s"${c.dir}/data"
    outDir = s"${c.dir}/out/training"
    Inputs.documents(c.spark, dataDir, c.seed, nDocs)
    graft.ops.IngestOps.ensureJsonl(c.spark, dataDir)
  }

  def run(c: Ctx): Outcome = {
    val stats = graft.TrainingDataDemo.run(c.spark, dataDir, outDir)
    Outcome(1, 0, Workloads.dataBytes(outDir), stats.toMap)
  }

  def check(c: Ctx, o: Outcome): Seq[String] = {
    val s = o.result.asInstanceOf[Map[String, Long]]
    val errs = Seq.newBuilder[String]
    val quarantine = (nDocs - 1) / graft.ops.IngestOps.CorruptEvery + 1
    if (s("lines_in") != nDocs) errs += s"lines_in ${s("lines_in")} != $nDocs"
    if (s("quarantined") != quarantine) errs += s"quarantined ${s("quarantined")} != $quarantine"
    if (s("docs_in") != nDocs - quarantine) errs += s"docs_in ${s("docs_in")} != ${nDocs - quarantine}"
    val chain = Seq("docs_in", "admitted", "exact_deduped", "near_deduped", "decontaminated")
    chain.zip(chain.tail).foreach { case (a, b) =>
      if (s(b) > s(a) || s(b) <= 0) errs += s"attrition $a ${s(a)} -> $b ${s(b)}"
    }
    if (s("docs_out") != s("decontaminated")) errs += "docs_out != decontaminated"
    val out = c.spark.read.parquet(outDir)
    val r = out.agg(count(lit(1)), sum(when(col("split") === "train", 1L).otherwise(0L))).head()
    if (r.getLong(0) != s("chunks")) errs += s"chunks on disk ${r.getLong(0)} != ${s("chunks")}"
    if (r.getLong(1) != s("train_chunks")) errs += s"train chunks on disk ${r.getLong(1)} != ${s("train_chunks")}"
    errs.result()
  }

  def traced(c: Ctx, t: Trace, ref: Outcome): (Map[String, Double], Seq[String]) = {
    import graft.functions.TextOps
    import graft.operators.{DedupOps, GraphOps}
    val want = ref.result.asInstanceOf[Map[String, Long]]
    val got = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    t.newRun()
    t.span("training.run") {
      val parsed = t.span("ops.ingest") {
        graft.ops.IngestOps.readJsonlQuarantine(c.spark,
          graft.ops.IngestOps.ensureJsonl(c.spark, dataDir)).localCheckpoint()
      }
      got("lines_in") = parsed.count()
      got("quarantined") = parsed.filter(col("_corrupt_record").isNotNull).count()
      counts("ops.ingest.quarantined") = got("quarantined").toDouble
      val docs = parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
      got("docs_in") = docs.count()
      val admitted = t.span("functions.admission") {
        TextOps.admissionGates(docs).localCheckpoint()
      }
      got("admitted") = admitted.count()
      val exact = t.span("operators.exact_dedup") {
        DedupOps.exactDedup(admitted, "doc_id", "text").localCheckpoint()
      }
      got("exact_deduped") = exact.count()
      // TrainingDataDemo's arguments
      val pairs = t.span("operators.ngram_pairs") {
        DedupOps.ngramJaccardPairs(exact, "doc_id", "text", threshold = 0.6, n = 3,
          maxDocFreq = Some(1000)).localCheckpoint()
      }
      counts("operators.ngram_pairs.pairs") = pairs.count().toDouble
      val clusters = t.span("operators.dup_clusters") {
        val (df, d) = Workloads.measured(c)(GraphOps.dupClusters(pairs).localCheckpoint())
        counts("operators.dup_clusters.jobs") = d.jobs.toDouble
        df
      }
      // The demo's inline steps (no public function): drop cluster losers,
      // decontaminate, split, pack and write. The drift guard below pins
      // this copy to TrainingDataDemo.run's counters.
      t.span("training.other") {
        val losers = clusters.filter(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
        val deduped = exact.join(losers, Seq("doc_id"), "left_anti")
        got("near_deduped") = deduped.count()
        def spans(df: DataFrame) = df.select(col("doc_id"),
          explode(call_function("graft_shingle_hashes",
            TextOps.tokens(col("text")), lit(8), lit(42L))).as("h"))
        val benchSpans = spans(docs.filter(col("doc_id") % 50 === 0)).select("h").distinct()
        val contaminated = spans(deduped).join(broadcast(benchSpans), Seq("h"), "left_semi")
          .select("doc_id").distinct()
        val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
        got("decontaminated") = clean.count()
        val chunks = clean.withColumn("split",
            when(CoreOps.hashSample(col("doc_id"), lit("d")), "train").otherwise("heldout"))
          .select(col("doc_id"), col("split"), posexplode(TextOps.chunks(col("text"), 512)))
          .withColumnsRenamed(Map("pos" -> "chunk_idx", "col" -> "chunk"))
        chunks.write.mode("overwrite").partitionBy("split").parquet(outDir)
        val r = c.spark.read.parquet(outDir)
          .agg(count(lit(1)), sum(when(col("split") === "train", 1L).otherwise(0L))).head()
        got("chunks") = r.getLong(0)
        got("train_chunks") = r.getLong(1)
      }
      t.span("ops.compact") {
        Seq("train", "heldout").foreach { s =>
          val leaf = s"$outDir/split=$s"
          if (Files.exists(Paths.get(leaf))) {
            graft.ops.LayoutOps.compactFiles(c.spark, leaf, leaf + ".cpct", 128L << 20)
            graft.ops.LocalFs.deleteTree(Paths.get(leaf))
            Files.move(Paths.get(leaf + ".cpct"), Paths.get(leaf))
          }
        }
      }
    }
    Seq("ops.ingest", "functions.admission", "operators.exact_dedup", "operators.ngram_pairs",
      "operators.dup_clusters", "ops.compact").foreach(n => counts(s"$n.s") = t.selfS(t.named(n).last))
    counts("training.other_s") = t.selfS(t.named("training.other").last)

    val errs = got.toSeq.collect { case (k, v) if want(k) != v =>
      s"drift: traced $k $v != TrainingDataDemo.run ${want(k)}"
    }
    (counts.toMap, errs)
  }
}

/** The eight catalog queries that reach layers the match ETL does not
  * (MinHash kernel, graph fast paths, the star join, summary rewrite,
  * as-of join, fixed-cost-bound small queries), on sf 0.01 tables
  * generated from the run's seed. Traced through [[Untimed]]; each
  * result is checked against its DuckDB oracle by the runner.
  */
object Catalog {
  val queries: Seq[String] = Seq("q_dedup_minhash", "q_kcore", "q_pagerank", "q_star_join",
    "q_tpch_q12", "q_zipf", "q_mv_rewrite", "q_asof_join")
  val sf = 0.01

  /** Traces one pass of the queries through the `noop` sink. */
  def traced(c: Ctx, t: Trace, dataDir: String): Map[String, Double] = {
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    t.newRun()
    t.span("catalog.run") {
      queries.foreach { q =>
        val (_, d) = Workloads.measured(c) {
          t.span(s"queries.$q") {
            graft.SparkEntry.queries(q)(c.spark, dataDir).write.format("noop")
              .mode("overwrite").save()
          }
        }
        counts(s"queries.$q.s") = t.selfS(t.named(s"queries.$q").last)
        counts(s"queries.$q.jobs") = d.jobs.toDouble
        counts(s"plans.$q.planning_s") = d.planningMs / 1000.0
      }
    }
    counts.toMap
  }

  /** Writes each result and the oracle SQL for the runner's DuckDB check. */
  def writeCheck(c: Ctx, dataDir: String, checkDir: String): Map[String, Any] = {
    queries.foreach(q => graft.SparkEntry.queries(q)(c.spark, dataDir)
      .write.mode("overwrite").parquet(s"$checkDir/$q"))
    val oracle = queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    Files.write(Paths.get(s"$checkDir/oracle_sql.json"), Json.write(oracle).getBytes("UTF-8"))
    Map("data" -> dataDir, "results" -> checkDir, "queries" -> queries)
  }
}

/** Layers no timed workload reaches: the training-data pipeline and the
  * catalog queries. Timed workloads of their own do not fit the run budget
  * or the spread bounds on a shared 4-core machine (see README), so the
  * traced runs trace them after their own pipeline: the training pipeline
  * in `match_etl`'s, the catalog in `match_http`'s, which keeps both
  * traced runs well inside the time limit of a run. Each is run untraced
  * first, which also warms up what the traced runs call, then traced
  * [[Repeats]] times and reported as medians.
  */
object Untimed {
  val Repeats = 2

  /** Layer metrics, failures, operations attempted, and the catalog
    * results for the runner's oracle check.
    */
  def trace(name: String, c: Ctx, t: Trace)
      : (Map[String, Double], Seq[String], Int, Option[Map[String, Any]]) = name match {
    case "match_etl" => training(c, t)
    case "match_http" => catalog(c, t)
  }

  /** An untraced `TrainingDataDemo.run`, checked, and the drift guard's
    * reference; then the traced compositions.
    */
  private def training(c: Ctx, t: Trace) = {
    val tc = c.copy(dir = s"${c.dir}/training")
    val training = new TrainingWorkload(nDocs = 1000)
    training.prepare(tc)
    val ref = training.run(tc)
    // before the traced runs write over the demo's output
    val errs = training.check(tc, ref)
    val runs = Seq.fill(Repeats)(training.traced(tc, t, ref))
    (Workloads.medians(runs.map(_._1)), errs ++ runs.flatMap(_._2).distinct, 1 + Repeats, None)
  }

  /** An untraced pass that writes the results for the oracle check; then
    * the traced passes.
    */
  private def catalog(c: Ctx, t: Trace) = {
    val dir = s"${c.dir}/catalog"
    Inputs.catalog(c.spark, dir, c.seed, Catalog.sf)
    val check = Catalog.writeCheck(c, dir, s"${c.dir}/check")
    val runs = Seq.fill(Repeats)(Catalog.traced(c, t, dir))
    (Workloads.medians(runs), Nil, 0, Some(check))
  }
}

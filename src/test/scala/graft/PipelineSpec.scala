package graft

import graft.MatchPipeline
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val puuid = "THE_PLAYER_PUUID"

  test("end-to-end run: scan -> fetch -> filter -> transform -> load, with metrics") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString + "/matches"
    val m = MatchPipeline.run(spark, puuid,
      queues = Seq(400, 450), idsPerQueue = 120, outPath = out)

    assert(m.fetched == 240) // 2 queues x 120 ids, distinct
    assert(m.ok == 240)      // fake fetcher always succeeds within retries
    assert(m.rejected == 0)
    assert(m.loaded == 240)

    val df = spark.read.parquet(out)
    // flattened schema: scalar cols + player struct flattened incl. nested champion
    val cols = df.columns.toSet
    assert(cols.contains("match_id") && cols.contains("game_date") &&
      cols.contains("player_puuid") && cols.contains("player_champion_name") &&
      cols.contains("player_champion_level"))
    // every row belongs to the queried player
    assert(df.filter(col("player_puuid") =!= puuid).count() == 0)
    // units fallback: both branches exercised by the fake's even/odd hash
    val units = df.select("game_duration_units").distinct().as[String].collect().toSet
    assert(units == Set("s", "ms"))
    // 's' rows have an end timestamp, 'ms' rows do not (utils/utils.py:130-147)
    assert(df.filter(col("game_duration_units") === "s" && col("game_end").isNull).count() == 0)
    assert(df.filter(col("game_duration_units") === "ms" && col("game_end").isNotNull).count() == 0)
  }

  test("transient failures are retried; permanent failures become typed error rows") {
    // The same fetcher twice: as is (CPU-bound) and behind a 20 ms sleep,
    // so the second time the window's calls overlap.
    val ids = Seq("NA1_400_0000010", "NA1_400_0000020", "NA1_400_0000030",
      "NA1_400_0000001", "NA1_400_0000002", "NA1_400_0000003", "NA1_400_0000040")
    def arm(sleepMs: Long): (Map[String, MatchPipeline.Response], Map[String, Int], Int) = {
      val flaky = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val base = MatchPipeline.fakeFetcher(puuid)
      val fetch: MatchPipeline.Fetcher = { id =>
        if (id.endsWith("1")) {
          // fails twice, then succeeds (within maxRetries=3)
          val n = flaky.merge(id, 1, (a, b) => a + b)
          if (n <= 2) (429, "slow down") else base(id)
        } else if (id.endsWith("2")) (404, "not found") // permanent
        else base(id)
      }
      FetchLog.reset()
      val rs = MatchPipeline.fetchDetails(spark.sparkContext.parallelize(ids, 1).toDS(),
        FetchLog.logged(fetch, sleepMs)).collect().map(r => r.match_id -> r).toMap
      (rs, FetchLog.attemptsById, FetchLog.maxInflight.get)
    }
    val (rs, attempts, _) = arm(0L)

    assert(rs("NA1_400_0000001").status == 200) // retried to success
    assert(rs("NA1_400_0000002").status == 404) // typed error row, no crash
    assert(rs("NA1_400_0000002").error)
    assert(rs("NA1_400_0000003").status == 200)
    assert(attempts == ids.map(_ -> 1).toMap ++ Map("NA1_400_0000001" -> 3, "NA1_400_0000002" -> 4))

    val (pooledRs, pooledAttempts, pooledInflight) = arm(20L)
    assert(pooledInflight > 1) // one partition, several calls at once
    assert(pooledRs == rs)
    assert(pooledAttempts == attempts)
  }

  test("a blocking fetcher overlaps calls beyond the task slots, within the pool bound, in order") {
    val slots = spark.sparkContext.defaultParallelism
    val ids = (0 until 160).map(i => f"NA1_400_$i%07d")
    val base = MatchPipeline.fakeFetcher(puuid)
    def run(fetch: MatchPipeline.Fetcher): (Seq[String], Int) = {
      FetchLog.reset()
      val rs = MatchPipeline.fetchDetails(spark.sparkContext.parallelize(ids, 4).toDS(), fetch)
        .collect()
      assert(rs.forall(r => r.status == 200 && !r.error))
      (rs.map(_.match_id).toSeq, FetchLog.maxInflight.get)
    }

    val (order, inflight) = run(FetchLog.logged(base, sleepMs = 30L))
    assert(order == ids) // input order within and across the 4 partitions
    assert(inflight > slots)
    assert(inflight <= MatchPipeline.MaxInFlight)

    // CPU-only: each call burns 1 ms of thread CPU and never waits
    val spin: MatchPipeline.Fetcher = { id =>
      val clock = java.lang.management.ManagementFactory.getThreadMXBean
      val t0 = clock.getCurrentThreadCpuTime
      while (clock.getCurrentThreadCpuTime - t0 < 1000000L) {}
      base(id)
    }
    val (cpuOrder, cpuInflight) = run(FetchLog.logged(spin, sleepMs = 0L))
    assert(cpuOrder == ids)
    assert(cpuInflight <= MatchPipeline.MaxInFlight) // the pool bounds every fetcher
  }

  test("early stop cancels the fetch window: no call starts after the job returns") {
    val ids = (0 until 100).map(i => f"NA1_400_$i%07d")
    val fetch = FetchLog.logged(MatchPipeline.fakeFetcher(puuid), sleepMs = 30L)
    Seq(1, 4).foreach { n =>
      FetchLog.reset()
      val rs = MatchPipeline.fetchDetails(spark.sparkContext.parallelize(ids, 1).toDS(), fetch)
        .limit(n).collect()
      val returned = System.nanoTime()
      assert(rs.map(_.match_id).toSeq == ids.take(n))
      Thread.sleep(300)
      val started = FetchLog.startedNs.asScala.toSeq
      // the first row fills the window; each later one tops it up by one id
      assert(started.size <= MatchPipeline.MaxInFlight + n - 1)
      assert(FetchLog.maxInflight.get <= MatchPipeline.MaxInFlight)
      assert(started.forall(_ <= returned), s"${started.count(_ > returned)} calls after return")
    }
  }

  test("a partition's first calls already overlap: 3 blocking ids are 3 calls in flight") {
    val ids = Seq("NA1_400_0000001", "NA1_400_0000002", "NA1_400_0000003")
    FetchLog.reset()
    val rs = MatchPipeline.fetchDetails(spark.sparkContext.parallelize(ids, 1).toDS(),
      FetchLog.logged(MatchPipeline.fakeFetcher(puuid), sleepMs = 30L)).collect()
    assert(rs.map(_.match_id).toSeq == ids)
    assert(FetchLog.maxInflight.get == 3)
  }

  test("documents not containing the player are skipped (reference logs+skips)") {
    val fetch: MatchPipeline.Fetcher = MatchPipeline.fakeFetcher("SOMEBODY_ELSE")
    val ids = spark.createDataset(Seq("NA1_430_0000007"))
    val rs = MatchPipeline.fetchDetails(ids, fetch).toDF()
    assert(MatchPipeline.transform(rs, puuid).count() == 0)
  }

  test("loaded is the row count the load committed: skipped players and typed errors") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipe3").toString + "/m"
    val mine = MatchPipeline.fakeFetcher(puuid)
    val other = MatchPipeline.fakeFetcher("SOMEBODY_ELSE")
    val fetch: MatchPipeline.Fetcher = { id =>
      if (id == "NA1_400_0000007") (500, "permanent server error")
      else if (id.endsWith("0")) other(id) // the queried player is not in it
      else mine(id)
    }
    val m = MatchPipeline.run(spark, puuid, Seq(400), idsPerQueue = 40, outPath = out,
      fetch = fetch)
    assert(m.fetched == 40)
    assert(m.rejected == 1)
    assert(m.ok == 39)
    assert(m.loaded == spark.read.parquet(out).count())
    assert(m.loaded < m.ok)
    assert(m.loaded == 35) // 39 ok minus the 4 documents without the player
  }

  test("a document whose player is past the end of info.participants is skipped, not thrown") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipe4").toString + "/m"
    val mine = MatchPipeline.fakeFetcher(puuid)
    val short = "NA1_400_0000013"
    val player = puuid
    val fetch: MatchPipeline.Fetcher = { id =>
      if (id == short) {
        val players = (0 until 10).map(i => if (i == 9) s""""$player"""" else s""""P$i"""")
        (200, s"""{"metadata": {"matchId": "$id", "participants": [${players.mkString(",")}]},
                 |"info": {"gameCreation": 1600000000000, "participants": [{"puuid": "P0"}]}}""".stripMargin)
      } else mine(id)
    }
    val m = MatchPipeline.run(spark, puuid, Seq(400), idsPerQueue = 40, outPath = out,
      fetch = fetch)
    assert(m.fetched == 40 && m.ok == 40)
    assert(m.loaded == 39)
    val df = spark.read.parquet(out)
    assert(df.count() == m.loaded)
    assert(df.filter(col("match_id") === short).count() == 0)
  }

  test("truncate-reload: a second run fully replaces the first") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipe2").toString + "/m"
    MatchPipeline.run(spark, puuid, Seq(400), idsPerQueue = 50, outPath = out)
    val m2 = MatchPipeline.run(spark, puuid, Seq(430), idsPerQueue = 30, outPath = out)
    assert(m2.loaded == 30)
    assert(spark.read.parquet(out).count() == 30)
  }

  test("typed cogroup merges two keyed Datasets per key (clicks vs purchases)") {
    // the typed-Dataset escape hatch for per-key multi-input merge logic
    // that joins can't express cleanly (both sides as iterators, one
    // output shape); each side shuffles once on the key, same as a join
    val clicks = Seq((1L, "c1"), (1L, "c2"), (2L, "c3")).toDS()
    val buys = Seq((1L, 9.5), (3L, 5.0)).toDS()
    val out = clicks.groupByKey(_._1)
      .cogroup(buys.groupByKey(_._1)) { (user, cs, bs) =>
        val clicked = cs.size
        val spent = bs.map(_._2).sum
        Iterator((user, clicked, spent))
      }.collect().toSet
    // users present on either side appear exactly once, absent side empty
    assert(out == Set((1L, 2, 9.5), (2L, 1, 0.0), (3L, 0, 5.0)))
  }
}

/** Every call the logged fetchers of these specs make. Tasks and the fetch
  * pool run in this JVM (local master), so statics see each call.
  */
object FetchLog {
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  val startedNs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val inflight = new AtomicInteger
  val maxInflight = new AtomicInteger

  def reset(): Unit = { attempts.clear(); startedNs.clear(); maxInflight.set(0) }
  def attemptsById: Map[String, Int] = attempts.asScala.map { case (k, v) => k -> v.get }.toMap

  /** `f` behind a `sleepMs` sleep, with each call logged. */
  def logged(f: MatchPipeline.Fetcher, sleepMs: Long): MatchPipeline.Fetcher = { id =>
    attempts.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()
    startedNs.add(System.nanoTime())
    maxInflight.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try {
      if (sleepMs > 0) Thread.sleep(sleepMs)
      f(id)
    } finally inflight.decrementAndGet()
  }
}

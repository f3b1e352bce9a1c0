package graft

import graft.ops.CoreOps
import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, CancellationException, ExecutionException, ExecutorService, Executors, Future}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference application, end-to-end, as one declarative Spark job
  * (zwilson999/lol_data_pipeline `pipeline.py` `main()`, SURVEY.md §3.1):
  *
  *   id scan (graft.sources.MatchIdsSource, queue pushdown; its pages
  *     are packed into at most leaf-node-parallelism tasks, each reading
  *     its pages in order)
  *     → distinct ids (matches.py:46-48 — *intended* semantics; the
  *       reference computes the set then returns the pre-dedup list)
  *     → throttled per-partition detail fetch with bounded retry and
  *       TYPED error rows (pipeline.py:49-80; the reference's non-429
  *       error path yields None rows that would crash its own filter)
  *     → status == 200 filter with observed reject count (pipeline.py:45-46)
  *     → nested-document transform (utils/utils.py:78-153): projection,
  *       conditional units fallback, participant array lookup, flatten
  *     → truncate-and-load sink (db.py:23-38) with observed row counts.
  *
  * Metrics that the reference printed as log lines are Spark
  * `Observation`s — computed inside the job, no extra pass, cluster-safe.
  * `loaded` is observed on the deduped frame the sink writes, so it is
  * the row count the load committed (the reference logs the length of
  * the rows it hands to `insert_many`, db.py:34,38), without reading the
  * output back.
  *
  * The detail "fetch" is a pluggable function; the default fabricates a
  * deterministic match document per ID (zero-egress container). An HTTP
  * client slots in without touching plan shape: the fetch runs inside
  * `mapPartitions`, and a fetcher that blocks is overlapped on a per-JVM
  * pool of [[MatchPipeline.MaxInFlight]] threads (the asyncio-semaphore
  * analog, pipeline.py:50); retry stays executor-side.
  */
object MatchPipeline {

  /** Typed fetch result (reference Response record, utils/utils.py:15-23). */
  case class Response(match_id: String, status: Int, error: Boolean, payload: String)

  /** Riot match document schema — FIXTURES.md §2, reconstructed from the
    * reference's field accesses. gameEndTimestamp nullable: its absence
    * drives the units fallback (utils/utils.py:130-147).
    */
  val matchSchema: StructType = StructType(Seq(
    StructField("metadata", StructType(Seq(
      StructField("matchId", StringType),
      StructField("participants", ArrayType(StringType))))),
    StructField("info", StructType(Seq(
      StructField("gameCreation", LongType),
      StructField("gameDuration", LongType),
      StructField("gameStartTimestamp", LongType),
      StructField("gameEndTimestamp", LongType),
      StructField("gameId", LongType),
      StructField("gameMode", StringType),
      StructField("gameVersion", StringType),
      StructField("mapId", IntegerType),
      StructField("participants", ArrayType(StructType(Seq(
        StructField("puuid", StringType),
        StructField("win", BooleanType),
        StructField("kills", IntegerType),
        StructField("deaths", IntegerType),
        StructField("assists", IntegerType),
        StructField("champion", StructType(Seq(
          StructField("name", StringType),
          StructField("level", IntegerType)))))))))))))

  /** One fetch attempt: deterministic fake document, or a transient/
    * permanent failure for planted IDs (tests). Replace with HTTP.
    */
  type Fetcher = String => (Int, String)

  /** Deterministic fake: 10 participants; the queried player is placed by
    * id hash; pre-2021 matches (even hash) omit gameEndTimestamp, which
    * exercises the units fallback. ~every 13th id returns 503 once.
    */
  def fakeFetcher(puuid: String): Fetcher = { id =>
    val h = math.abs(id.hashCode.toLong)
    val slot = (h % 10).toInt
    val players = (0 until 10)
      .map(i => if (i == slot) puuid else s"PUUID_${h % 997}_$i")
    val hasEnd = h % 2 == 1
    val start = 1600000000000L + (h % 100000000L)
    val endField =
      if (hasEnd) s""""gameEndTimestamp": ${start + 1800000L},""" else ""
    val parts = players.zipWithIndex.map { case (p, i) =>
      s"""{"puuid": "$p", "win": ${i % 2 == 0}, "kills": ${(h + i) % 20},
         |"deaths": ${(h + i) % 11}, "assists": ${(h + i) % 25},
         |"champion": {"name": "champ_${(h + i) % 160}", "level": ${1 + ((h + i) % 18).toInt}}}""".stripMargin
    }.mkString(",")
    val doc =
      s"""{"metadata": {"matchId": "$id", "participants": [${players.map(p => s""""$p"""").mkString(",")}]},
         |"info": {"gameCreation": $start, "gameDuration": ${if (hasEnd) 1800 else 1800000L},
         |"gameStartTimestamp": $start, $endField
         |"gameId": ${h % 10000000L}, "gameMode": "CLASSIC", "gameVersion": "12.5.1",
         |"mapId": 11, "participants": [$parts]}}""".stripMargin
    (200, doc)
  }

  /** Most detail calls the fetch pool has in flight per JVM: the
    * reference's default `rate_limit`, the size of its `asyncio.Semaphore`
    * (pipeline.py:50,126), so one process never holds more requests open
    * against the API than the reference does. It is per JVM, not per
    * partition, so more partitions do not raise it. The pool size is the
    * bound; no semaphore is needed.
    */
  val MaxInFlight = 20

  /** Calls each partition makes on its task thread, timed, before it
    * decides whether its fetcher blocks.
    */
  private[graft] val ProbeCalls = 3

  private lazy val fetchPool: ExecutorService =
    Executors.newFixedThreadPool(MaxInFlight, { r: Runnable =>
      val t = new Thread(r, "graft-fetch")
      t.setDaemon(true)
      t
    })

  /** Executor-side fetch with bounded retry — the scalable form of the
    * reference's semaphore + sleep + recursive-retry loop
    * (pipeline.py:49-80, matches.py:38-40, both retry paths buggy there;
    * here: bounded attempts, typed failure rows, no recursion).
    *
    * Each partition fetches its first `ProbeCalls` ids inline on the task
    * thread, timing each call by wall clock and thread CPU. If every one
    * of those calls spent over three quarters of its time off the CPU
    * (the fetcher waits on a socket or a sleep), the rest of the partition
    * goes through a sliding window of at most [[MaxInFlight]] futures on
    * the shared per-JVM pool and comes back in input order. A CPU-bound
    * fetcher stays inline, where the pool would only add hand-offs: it
    * looks that idle only on a CPU oversubscribed four times over, or on
    * a single call stalled by a GC pause or a class-init lock, so the
    * rule asks for every probe call and for the three quarters. At
    * most `MaxInFlight` + (running tasks) calls are in flight per JVM:
    * the pool's threads plus task threads still probing or inline.
    * The retry loop runs per id either way, so attempt counts do not
    * depend on the arm. When the task ends, for any reason, the
    * partition's outstanding calls are cancelled and start no retry.
    */
  def fetchDetails(
      ids: Dataset[String], fetch: Fetcher, maxRetries: Int = 3): Dataset[Response] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions(part => new Fetching(part, fetch, maxRetries))
  }

  private def fetchWithRetry(id: String, fetch: Fetcher, maxRetries: Int): Response = {
    var attempt = 0
    var result: Response = null
    while (result == null) {
      val (status, body) =
        try fetch(id)
        catch { case e: Exception => (599, e.getMessage) }
      if (status == 200)
        result = Response(id, 200, error = false, body)
      else if (attempt >= maxRetries)
        result = Response(id, status, error = true, body)
      else attempt += 1
    }
    result
  }

  /** One partition's responses, in input order: probed inline, then
    * inline or windowed on the fetch pool (see [[fetchDetails]]).
    */
  private final class Fetching(ids: Iterator[String], fetch: Fetcher, maxRetries: Int)
      extends Iterator[Response] {
    private val clock = ManagementFactory.getThreadMXBean
    private var probed = 0
    private var blocked = 0
    private var window: java.util.ArrayDeque[Future[Response]] = null // null: inline
    @volatile private var closed = false

    /** Pooled calls check this before each attempt, so a cancelled id
      * makes no further request.
      */
    private val guarded: Fetcher = { id =>
      if (closed) throw new CancellationException("fetch task completed")
      fetch(id)
    }

    def hasNext: Boolean = ids.hasNext || (window != null && !window.isEmpty)

    def next(): Response =
      if (window != null) {
        while (window.size < MaxInFlight && ids.hasNext) {
          val id = ids.next()
          val call: Callable[Response] = () => fetchWithRetry(id, guarded, maxRetries)
          window.add(fetchPool.submit(call))
        }
        try window.poll().get()
        catch { case e: ExecutionException => throw e.getCause }
      } else if (probed < ProbeCalls && clock.isCurrentThreadCpuTimeSupported) {
        val (wall0, cpu0) = (System.nanoTime(), clock.getCurrentThreadCpuTime)
        val r = fetchWithRetry(ids.next(), fetch, maxRetries)
        val cpu = clock.getCurrentThreadCpuTime - cpu0
        if (System.nanoTime() - wall0 > 4 * cpu) blocked += 1
        probed += 1
        if (blocked == ProbeCalls) openWindow()
        r
      } else fetchWithRetry(ids.next(), fetch, maxRetries)

    private def openWindow(): Unit = {
      window = new java.util.ArrayDeque[Future[Response]](MaxInFlight)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        closed = true
        window.forEach(_.cancel(true))
      })
    }
  }

  /** The per-document transform (utils/utils.py:78-153), declaratively:
    * nested projection + ms→date (F1) + units fallback (P5) + participant
    * array lookup (J1) + struct flatten (F2, intended semantics).
    */
  def transform(responses: DataFrame, puuid: String): DataFrame = {
    val parsed = responses
      .withColumn("doc", from_json(col("payload"), matchSchema))
    val pos = array_position(col("doc.metadata.participants"), puuid)
    val me = element_at(col("doc.info.participants"), pos.cast(IntegerType))
    val projected = parsed
      .filter(pos > 0) // reference logs+skips when player absent (utils/utils.py:100-102)
      .select(
        col("doc.metadata.matchId").as("match_id"),
        CoreOps.msToDate(col("doc.info.gameCreation")).as("game_date"),
        col("doc.info.gameCreation").as("game_creation"),
        col("doc.info.gameDuration").as("game_duration"),
        when(col("doc.info.gameEndTimestamp").isNotNull, lit("s"))
          .otherwise(lit("ms")).as("game_duration_units"),
        col("doc.info.gameEndTimestamp").as("game_end"),
        col("doc.info.gameId").as("game_id"),
        col("doc.info.gameMode").as("game_mode"),
        col("doc.info.gameVersion").as("game_version"),
        col("doc.info.mapId").as("map_id"),
        me.as("player"))
    CoreOps.flattenStruct(projected)
  }

  case class Metrics(fetched: Long, ok: Long, rejected: Long, loaded: Long)

  /** Full run. Returns the loaded row count metrics (the counts the
    * reference logs at pipeline.py:42,46 and db.py:34,38).
    */
  def run(
      spark: SparkSession, puuid: String, queues: Seq[Int], idsPerQueue: Int,
      outPath: String, fetch: Fetcher = null, fetchPartitions: Int = 8): Metrics = {
    import spark.implicits._
    val f = Option(fetch).getOrElse(fakeFetcher(puuid))

    val ids = spark.read.format("graft.sources.MatchIdsSource")
      .option("queues", queues.mkString(","))
      .option("idsPerQueue", idsPerQueue)
      .load()
      .filter(col("queue").isin(queues.map(Integer.valueOf): _*)) // pushed
      .select("match_id").as[String]
      .distinct() // intended A1 semantics
      .repartition(fetchPartitions) // fetch tasks; a blocking fetcher overlaps more on the fetch pool

    val obs = new Observation("fetch_stats")
    val responses = fetchDetails(ids, f).toDF()
      .observe(obs,
        count(lit(1)).as("fetched"),
        sum(when(col("status") === 200, 1L).otherwise(0L)).as("ok"))
    val okRows = CoreOps.statusFilter(responses)

    val loadObs = new Observation("load_stats")
    val flat = transform(okRows, puuid).dropDuplicates("match_id")
      .observe(loadObs, count(lit(1)).as("loaded"))
    CoreOps.truncateLoad(flat, outPath)

    val fetched = obs.get("fetched").asInstanceOf[Long]
    val ok = obs.get("ok").asInstanceOf[Long]
    val loaded = loadObs.get("loaded").asInstanceOf[Long]
    Metrics(fetched, ok, fetched - ok, loaded)
  }
}

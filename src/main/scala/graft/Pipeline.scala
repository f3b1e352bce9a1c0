package graft

import graft.ops.CoreOps
import java.util.concurrent.{Callable, CancellationException, ExecutionException, ExecutorService, Executors, Future}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The reference application, end-to-end, as one declarative Spark job
  * (zwilson999/lol_data_pipeline `pipeline.py` `main()`, SURVEY.md §3.1):
  *
  *   id scan (graft.sources.MatchIdsSource, queue pushdown; its pages
  *     are packed into at most leaf-node-parallelism tasks, each reading
  *     its pages in order)
  *     → distinct ids (matches.py:46-48 — *intended* semantics; the
  *       reference computes the set then returns the pre-dedup list),
  *       hashed into the fetch partitions by the same exchange
  *     → detail fetch on one per-JVM pool, at most 20 calls in flight,
  *       with bounded retry and TYPED error rows (pipeline.py:49-80;
  *       the reference's non-429 error path yields None rows that would
  *       crash its own filter)
  *     → status == 200 filter with observed reject count (pipeline.py:45-46)
  *     → nested-document transform (utils/utils.py:78-153): one streaming
  *       pass over each document reads only the leaves the row
  *       needs and builds only the player's participant; projection, units
  *       fallback, participant lookup and flatten fused; a document
  *       without the player, or whose player is past the end of
  *       `info.participants`, is skipped, never thrown
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
  * `mapPartitions`, and every call runs on one per-JVM pool of
  * [[MatchPipeline.MaxInFlight]] threads (the asyncio-semaphore analog,
  * pipeline.py:50); retry stays executor-side.
  */
object MatchPipeline {

  /** Typed fetch result (reference Response record, utils/utils.py:15-23). */
  case class Response(match_id: String, status: Int, error: Boolean, payload: String)

  /** One loaded row before its two derived columns (`game_date`,
    * `game_duration_units`): the document's match id and `info` scalars and
    * the player's participant struct, flattened. Every field is nullable.
    */
  case class MatchRow(
      match_id: String,
      game_creation: java.lang.Long,
      game_duration: java.lang.Long,
      game_end: java.lang.Long,
      game_id: java.lang.Long,
      game_mode: String,
      game_version: String,
      map_id: Integer,
      player_puuid: String,
      player_win: java.lang.Boolean,
      player_kills: Integer,
      player_deaths: Integer,
      player_assists: Integer,
      player_champion_name: String,
      player_champion_level: Integer)

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

  /** Most detail calls in flight per JVM: the reference's default
    * `rate_limit`, the size of its `asyncio.Semaphore` (pipeline.py:50,126),
    * so one process never holds more requests open against the API than
    * the reference does. Only the fetch pool's threads call the fetcher,
    * so the pool size is the bound: it is per JVM, not per partition, and
    * neither more partitions nor more task slots raise it.
    */
  val MaxInFlight = 20

  /** Partitions [[run]] spreads the deduped ids over for the fetch. */
  private val FetchPartitions = 8

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
    * Every id of a partition goes through a sliding window of at most
    * [[MaxInFlight]] futures on the shared per-JVM fetch pool, and the
    * responses come back in input order. The task thread never calls the
    * fetcher, so at most `MaxInFlight` calls are in flight per JVM however
    * many tasks run: the reference's one semaphore. Each future runs the
    * whole retry loop for its id. When the task ends, for any reason, the
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

  /** One partition's responses, in input order, windowed on the fetch
    * pool (see [[fetchDetails]]).
    */
  private final class Fetching(ids: Iterator[String], fetch: Fetcher, maxRetries: Int)
      extends Iterator[Response] {
    private val window = new java.util.ArrayDeque[Future[Response]](MaxInFlight)
    @volatile private var closed = false
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
      closed = true
      window.forEach(_.cancel(true))
    })

    /** Pooled calls check this before each attempt, so a cancelled id
      * makes no further request.
      */
    private val guarded: Fetcher = { id =>
      if (closed) throw new CancellationException("fetch task completed")
      fetch(id)
    }

    def hasNext: Boolean = ids.hasNext || !window.isEmpty

    def next(): Response = {
      while (window.size < MaxInFlight && ids.hasNext) {
        val id = ids.next()
        val call: Callable[Response] = () => fetchWithRetry(id, guarded, maxRetries)
        window.add(fetchPool.submit(call))
      }
      try window.poll().get()
      catch { case e: ExecutionException => throw e.getCause }
    }
  }

  /** The per-document transform (utils/utils.py:78-153): nested
    * projection, ms→date (F1), units fallback (P5), participant array
    * lookup (J1) and struct flatten (F2, intended semantics), fused into one
    * typed pass per document. [[MatchDocReader]] walks each payload once
    * with Spark's bundled Jackson (one factory per partition), touches only
    * the leaves the row needs and builds only the player's participant
    * struct. A document without the player yields no row
    * (the reference logs and skips it, utils/utils.py:100-102), and so does
    * one whose player position is past the end of `info.participants`, so
    * a single malformed document never fails the load. Every other value
    * is what Spark's JSON parsing with the document schema (FIXTURES.md §2)
    * gives, malformed input included; `MatchTransformSpec` holds the two
    * equal. The output is 17 columns, all nullable but
    * `game_duration_units`.
    */
  def transform(responses: DataFrame, puuid: String): DataFrame = {
    import responses.sparkSession.implicits._
    val rows = responses.select(col("payload")).as[String]
      .mapPartitions { docs =>
        val reader = new MatchDocReader(puuid)
        docs.flatMap(doc => Option(reader.read(doc)))
      }
    rows.select(
      col("match_id"),
      CoreOps.msToDate(col("game_creation")).as("game_date"),
      col("game_creation"),
      col("game_duration"),
      when(col("game_end").isNotNull, lit("s")).otherwise(lit("ms")).as("game_duration_units"),
      col("game_end"),
      col("game_id"),
      col("game_mode"),
      col("game_version"),
      col("map_id"),
      col("player_puuid"),
      col("player_win"),
      col("player_kills"),
      col("player_deaths"),
      col("player_assists"),
      col("player_champion_name"),
      col("player_champion_level"))
  }

  case class Metrics(fetched: Long, ok: Long, rejected: Long, loaded: Long)

  /** Full run. Returns the loaded row count metrics (the counts the
    * reference logs at pipeline.py:42,46 and db.py:34,38).
    */
  def run(
      spark: SparkSession, puuid: String, queues: Seq[Int], idsPerQueue: Int,
      outPath: String, fetch: Fetcher = null): Metrics = {
    import spark.implicits._
    val f = Option(fetch).getOrElse(fakeFetcher(puuid))

    val ids = spark.read.format("graft.sources.MatchIdsSource")
      .option("queues", queues.mkString(","))
      .option("idsPerQueue", idsPerQueue)
      .load()
      .filter(col("queue").isin(queues.map(Integer.valueOf): _*)) // pushed
      .select("match_id").as[String]
      // fetch tasks, hashed by id; their calls share the fetch pool. The
      // distinct (intended A1 semantics) reuses this partitioning: one exchange.
      .repartition(FetchPartitions, col("match_id"))
      .distinct()

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

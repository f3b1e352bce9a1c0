package graft.sources

/** Real-socket HTTP implementations of the two fetch seams the engine
  * mirrors from the reference (zwilson999/lol_data_pipeline
  * `matches.py:30-35` paged id GETs, `pipeline.py:49-80` match detail
  * GETs with 429/Retry-After handling) — built on the in-JDK
  * `java.net.http.HttpClient`, zero added dependencies.
  *
  * Executor discipline: nothing here is serialized with a live socket.
  * [[HttpMatchIdClient]] is constructed executor-side by
  * `ClientConf.make()`, and [[HttpFetchers.matchFetcher]] closes only
  * over the URL string — the shared client is a per-JVM lazy val, so
  * each executor builds exactly one connection pool.
  */
object HttpClients {
  lazy val shared: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10))
      .build()

  private[graft] def get(url: String): (Int, String, java.net.http.HttpHeaders) = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(30)).GET().build()
    val resp = shared.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body(), resp.headers())
  }
}

/** Paged match-ID pages over HTTP: GET `baseUrl/ids?queue=&start=&count=`
  * returning a JSON array of id strings — the DSv2 source's pushdown
  * (queue subset, page windows) lands verbatim in these query params,
  * one GET per planned page; each InputPartition issues its pages' GETs
  * in order. JSON via Spark's own jackson.
  */
class HttpMatchIdClient(val queues: Seq[Int], baseUrl: String) extends MatchIdClient {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def fetchPage(queue: Int, start: Int, count: Int): Seq[String] = {
    val (status, body, _) =
      HttpClients.get(s"$baseUrl/ids?queue=$queue&start=$start&count=$count")
    require(status == 200,
      s"ids page fetch failed: HTTP $status for queue=$queue start=$start count=$count")
    mapper.readValue(body, classOf[Array[String]]).toSeq
  }
}

object HttpFetchers {
  /** Longest `Retry-After` pause a match-detail fetch honors. */
  private val MaxRetryAfterMs = 5000L

  /** Match-detail fetcher over HTTP: GET `baseUrl/match/{id}`. On a 429
    * the server's `Retry-After` (seconds, capped at `MaxRetryAfterMs`)
    * is honored BEFORE the status is returned, so the bounded retry in
    * `MatchPipeline.fetchDetails` re-attempts after the server-requested
    * pause — the reference's rate-limit sleep (`pipeline.py:75-80`)
    * without unbounded stalls or a change to the `Fetcher` contract.
    * Transport errors surface as thrown exceptions, which fetchDetails
    * already converts to typed 599 rows.
    */
  def matchFetcher(baseUrl: String): graft.MatchPipeline.Fetcher = { id =>
    val (status, body, headers) = HttpClients.get(s"$baseUrl/match/$id")
    if (status == 429) {
      val ra = headers.firstValue("Retry-After")
      val waitMs =
        if (ra.isPresent) scala.util.Try(ra.get.trim.toLong).getOrElse(0L) * 1000L else 0L
      if (waitMs > 0) Thread.sleep(math.min(waitMs, MaxRetryAfterMs))
    }
    (status, body)
  }
}

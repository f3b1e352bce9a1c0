package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.HttpFetchers
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The S2/S3 seams against a REAL socket: an in-process JDK HttpServer
  * serves the fixture pages and match documents, a real
  * `java.net.http.HttpClient` fetches them from executor tasks, and the
  * server's request log proves what actually crossed the wire —
  * pushdown params in the query string, one GET per planned page,
  * a scripted 429 + Retry-After driving the bounded-retry path, and a
  * persistent 500 driving the typed-error path
  * (reference `matches.py:30-40`, `pipeline.py:49-80`).
  */
class HttpPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def respond(x: HttpExchange, status: Int, body: String,
      headers: (String, String)*): Unit = {
    headers.foreach { case (k, v) => x.getResponseHeaders.add(k, v) }
    val b = body.getBytes("UTF-8")
    x.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length.toLong)
    if (b.nonEmpty) x.getResponseBody.write(b)
    x.close()
  }

  test("pushdown params cross the wire; real 429 retries and 500s become typed rows") {
    val idsPerQueue = 25
    val puuid = "PUUID_under_test"
    val idsRequests = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val matchHits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    // planted again at positions 7 and 8 of the page 10..19, past the
    // probe calls, so those faults are fetched on the pooled window
    val rateLimited = Set("NA1_430_0", "NA1_430_17")
    val broken = Set("NA1_430_1", "NA1_430_18")
    val inflight = new java.util.concurrent.atomic.AtomicInteger
    val maxInflight = new java.util.concurrent.atomic.AtomicInteger

    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.createContext("/ids", (x: HttpExchange) => {
      val q = x.getRequestURI.getQuery
      idsRequests.add(q)
      val p = q.split("&").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      val (queue, start, count) = (p("queue").toInt, p("start").toInt, p("count").toInt)
      val ids = (start until math.min(start + count, idsPerQueue))
        .map(i => s""""NA1_${queue}_$i"""")
      respond(x, 200, ids.mkString("[", ",", "]"))
    })
    server.createContext("/match/", (x: HttpExchange) => {
      val id = x.getRequestURI.getPath.stripPrefix("/match/")
      val hit = matchHits.merge(id, 1, (a, b) => Integer.valueOf(a + b)).intValue
      maxInflight.accumulateAndGet(inflight.incrementAndGet(), math.max)
      Thread.sleep(20) // service latency: the fetcher blocks, so the fetch window opens
      inflight.decrementAndGet()
      if (rateLimited(id)) {
        // planted rate limit: first attempt 429 + Retry-After, then 200
        if (hit == 1) respond(x, 429, "rate limited", "Retry-After" -> "0")
        else respond(x, 200, MatchPipeline.fakeFetcher(puuid)(id)._2)
      } else if (broken(id)) {
        respond(x, 500, "permanent server error") // never recovers
      } else respond(x, 200, MatchPipeline.fakeFetcher(puuid)(id)._2)
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      // S2: the DSv2 scan over HTTP, with a queue predicate to push
      val ids = spark.read.format("graft.sources.MatchIdsSource")
        .option("queues", "400,430").option("idsPerQueue", idsPerQueue)
        .option("pageSize", 10).option("maxPerQueue", idsPerQueue)
        .option("baseUrl", base)
        .load()
        .filter(col("queue") === 430)
      val got = ids.select("match_id").as[String].collect().toSet
      assert(got == (0 until idsPerQueue).map(i => s"NA1_430_$i").toSet)

      // pushdown proof, from the server's own log: the pruned queue 400
      // never crossed the wire, and the page windows arrived as
      // start/count params — one GET per planned page
      val qs = idsRequests.asScala.toSeq
      assert(qs.nonEmpty && qs.forall(_.contains("queue=430")))
      assert(!qs.exists(_.contains("queue=400")))
      assert(qs.map(q => q.split("&").find(_.startsWith("start=")).get).sorted ==
        Seq("start=0", "start=10", "start=20"))

      // S3: detail fetch over the same socket with bounded retry
      val resp = MatchPipeline.fetchDetails(
        ids.select("match_id").as[String],
        HttpFetchers.matchFetcher(base), maxRetries = 2).collect()
      val by = resp.map(r => r.match_id -> r).toMap
      // the planted 429 recovered after exactly one real retry
      assert(by("NA1_430_0").status == 200 && !by("NA1_430_0").error)
      assert(matchHits.get("NA1_430_0").intValue == 2)
      // the persistent 500 exhausted its budget into a typed error row
      assert(by("NA1_430_1").status == 500 && by("NA1_430_1").error)
      assert(by("NA1_430_1").payload == "permanent server error")
      assert(matchHits.get("NA1_430_1").intValue == 3) // 1 + maxRetries, bounded
      // the same faults on the pooled window
      assert(by("NA1_430_17").status == 200 && !by("NA1_430_17").error)
      assert(matchHits.get("NA1_430_17").intValue == 2)
      assert(by("NA1_430_18").status == 500 && by("NA1_430_18").error)
      assert(matchHits.get("NA1_430_18").intValue == 3)
      assert(maxInflight.get > spark.sparkContext.defaultParallelism) // the window opened
      assert(resp.count(_.status == 200) == idsPerQueue - broken.size)

      // the wire documents flow through the standard transform untouched
      val flat = MatchPipeline.transform(
        graft.ops.CoreOps.statusFilter(resp.toSeq.toDF()), puuid)
      assert(flat.count() == idsPerQueue - broken.size)
      assert(flat.columns.contains("player_kills"))
    } finally server.stop(0)
  }
}

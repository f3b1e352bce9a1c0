package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{InetAddress, InetSocketAddress}
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Loopback match-detail service for the HTTP fetch path: serves
  * `GET /match/{id}` with the engine's deterministic match document,
  * after a modeled service latency, with faults planted by seed.
  *
  * It is built to measure the client, not itself:
  *   - `sun.net.httpserver.nodelay` must be true (set on the JVM command
  *     line): with Nagle on the server and delayed ACK on the client every
  *     response waits ~50 ms for the ACK timer;
  *   - the latency is modeled by completing the exchange from one
  *     scheduler thread, so no handler thread sleeps and the handler
  *     pool (at most one thread per core) never becomes the bottleneck;
  *   - a request log counts attempts per id and the in-flight maximum.
  */
final class HttpFixture(puuid: String, faults: Map[String, HttpFixture.Fault], latencyMs: Long,
    handlerThreads: Int) {
  private val ownThreads = ConcurrentHashMap.newKeySet[java.lang.Long]()
  private def factory(name: String): ThreadFactory = r => {
    val t = new Thread(r, name)
    t.setDaemon(true)
    ownThreads.add(t.getId)
    t
  }
  private val handlers = Executors.newFixedThreadPool(handlerThreads, factory("fixture-handler"))
  private val completer = Executors.newSingleThreadScheduledExecutor(factory("fixture-completer"))
  private val docs = graft.MatchPipeline.fakeFetcher(puuid)

  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  private val requests = new AtomicLong
  private val inflight = new AtomicInteger
  private val inflightMax = new AtomicInteger

  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 1024)
  server.createContext("/match/", (ex: HttpExchange) => {
    val id = ex.getRequestURI.getPath.stripPrefix("/match/")
    val attempt = attempts.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()
    requests.incrementAndGet()
    inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
    val (status, body) = faults.get(id) match {
      case Some(HttpFixture.Permanent500) => (500, "planted permanent failure")
      case Some(HttpFixture.First429) if attempt == 1 =>
        ex.getResponseHeaders.add("Retry-After", "0")
        (429, "planted rate limit")
      case _ => docs(id)
    }
    completer.schedule((() => {
      try {
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally {
        ex.close()
        inflight.decrementAndGet()
      }
    }): Runnable, latencyMs, TimeUnit.MILLISECONDS)
  })
  server.setExecutor(handlers)
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Clears the request log; each pipeline run starts with fresh faults. */
  def reset(): Unit = { attempts.clear(); requests.set(0); inflightMax.set(0) }

  def requestCount: Long = requests.get
  def maxInflight: Int = inflightMax.get
  def attemptsById: Map[String, Int] = attempts.asScala.map { case (k, v) => k -> v.get }.toMap

  /** Ids of every thread the fixture runs, including the server's own
    * dispatcher, so their CPU can be left out of the program's.
    */
  def threadIds: Seq[Long] = ownThreads.asScala.toSeq.map(_.longValue) ++
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("HTTP-Dispatcher"))
      .map(_.getId)

  def stop(): Unit = {
    server.stop(0)
    completer.shutdownNow()
    handlers.shutdownNow()
    completer.awaitTermination(10, TimeUnit.SECONDS)
    handlers.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object HttpFixture {
  sealed trait Fault
  case object Permanent500 extends Fault
  case object First429 extends Fault

  /** Plants faults on a seeded random choice of ids: 1% (at least one)
    * fail permanently with 500, 10% get one 429 with `Retry-After: 0`
    * before they succeed. Exact counts keep every seed equally hard.
    */
  def plant(seed: Long, ids: Seq[String]): Map[String, Fault] = {
    val shuffled = new scala.util.Random(seed).shuffle(ids)
    val n500 = math.max(1, ids.size / 100)
    shuffled.take(n500).map(_ -> (Permanent500: Fault)).toMap ++
      shuffled.slice(n500, n500 + ids.size / 10).map(_ -> (First429: Fault))
  }
}

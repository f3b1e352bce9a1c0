package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.FakeMatchIdClient
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MatchIdsSourceSpec extends SparkSpec {
  import spark.implicits._

  private def source(idsPerQueue: Int = 1000): DataFrame =
    spark.read.format("graft.sources.MatchIdsSource")
      .option("queues", "400,430,450")
      .option("idsPerQueue", idsPerQueue)
      .load()

  private def fetchesDuring(f: => Unit): Int = {
    val before = FakeMatchIdClient.fetches.get()
    f
    FakeMatchIdClient.fetches.get() - before
  }

  test("full scan pages all queues (reference: 10 pages x 3 queues)") {
    val n = fetchesDuring {
      assert(source().count() == 3000)
    }
    assert(n == 30)
  }

  test("pages pack into at most defaultParallelism splits, each page fetched once") {
    val df = source()
    assert(df.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
    var ids: Array[String] = Array.empty
    val n = fetchesDuring {
      ids = df.select("match_id").as[String].collect()
    }
    assert(n == 30, s"expected 30 page fetches, got $n")
    assert(ids.length == 3000)
    assert(ids.toSet ==
      (for (q <- Seq(400, 430, 450); i <- 0 until 1000) yield f"NA1_$q%03d_$i%07d").toSet)
  }

  test("spark.sql.leafNodeDefaultParallelism sets the split count") {
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
    try {
      val df = source()
      assert(df.rdd.getNumPartitions == 1)
      val n = fetchesDuring {
        assert(df.count() == 3000)
      }
      assert(n == 30, s"expected 30 page fetches, got $n")
    } finally spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
  }

  test("a queue's scan stops at its short last page") {
    // the fake client always holds `idsPerQueue` ids, the cap the scan
    // plans to, so only a service holding fewer ids sends a short page:
    // this one holds 100 per queue against the default cap of 1000
    val requests = new java.util.concurrent.atomic.AtomicInteger
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ids", (x: HttpExchange) => {
      requests.incrementAndGet()
      val p = x.getRequestURI.getQuery.split("&").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      val (start, count) = (p("start").toInt, p("count").toInt)
      val body = (start until math.min(start + count, 100))
        .map(i => s""""NA1_${p("queue")}_$i"""").mkString("[", ",", "]").getBytes("UTF-8")
      x.sendResponseHeaders(200, body.length.toLong)
      x.getResponseBody.write(body)
      x.close()
    })
    server.start()
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
    try {
      val df = spark.read.format("graft.sources.MatchIdsSource")
        .option("queues", "400,430")
        .option("baseUrl", s"http://127.0.0.1:${server.getAddress.getPort}").load()
      assert(df.count() == 200)
      val n = requests.get
      // the default cap plans 10 pages per queue; page 0 is full and
      // page 1 comes back empty, so each queue stops after 2 requests
      assert(n == 4, s"expected 4 page fetches, got $n")
    } finally {
      spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
      server.stop(0)
    }
  }

  test("pageSize <= 0 and idsPerQueue < 0 are rejected, naming the option") {
    def scan(opt: String, v: Int): DataFrame =
      spark.read.format("graft.sources.MatchIdsSource")
        .option("queues", "400").option(opt, v).load()
    Seq("pageSize" -> 0, "pageSize" -> -100, "idsPerQueue" -> -1).foreach { case (opt, v) =>
      val e = intercept[IllegalArgumentException](scan(opt, v).count())
      assert(e.getMessage.contains(opt), e.getMessage)
    }
    val n = fetchesDuring {
      assert(scan("idsPerQueue", 0).count() == 0)
    }
    assert(n == 0)
  }

  test("queue predicate is pushed: only that queue's pages are fetched") {
    var rows: Array[(Int, String)] = Array.empty
    val n = fetchesDuring {
      rows = source().filter(col("queue") === 450)
        .as[(Int, String)].collect()
    }
    assert(rows.length == 1000)
    assert(rows.forall(_._1 == 450))
    assert(rows.forall(_._2.startsWith("NA1_450_")))
    assert(n == 10, s"expected 10 page fetches for one queue, got $n")
  }

  test("queue IN (...) pushes the queue set") {
    val n = fetchesDuring {
      assert(source().filter(col("queue").isin(400, 430)).count() == 2000)
    }
    assert(n == 20)
  }

  test("limit is pushed: page planning capped per queue") {
    val n = fetchesDuring {
      val got = source().limit(50).collect()
      assert(got.length == 50)
    }
    // cap=50 -> planning shrinks to 1 page of 50 per queue (3 total);
    // CollectLimit may stop even earlier once 50 rows arrive.
    assert(n <= 3, s"expected at most 3 capped page fetches, got $n")
  }

  test("pushed filters appear in the scan description") {
    val plan = source().filter(col("queue") === 450)
      .queryExecution.executedPlan.toString
    assert(plan.contains("MatchIdsScan"))
    assert(plan.contains("queues=450"))
  }

  test("non-queue predicates stay in the Spark plan and still apply") {
    val rows = source(10).filter(col("queue") === 400 && col("match_id").endsWith("3"))
      .as[(Int, String)].collect()
    assert(rows.length == 1)
    assert(rows.head._2 == "NA1_400_0000003")
  }

  test("source composes with the reference pipeline chain (dedup + count)") {
    // matches.py shape: union of per-queue scans -> distinct -> limit
    val ids = source(100).select("match_id")
    val deduped = ids.unionByName(ids).distinct()
    assert(deduped.count() == 300)
  }
}

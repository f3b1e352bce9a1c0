package graft

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

  test("pageSize <= 0 and maxPerQueue < 0 are rejected, naming the option") {
    def scan(opt: String, v: Int): DataFrame =
      spark.read.format("graft.sources.MatchIdsSource")
        .option("queues", "400").option(opt, v).load()
    Seq("pageSize" -> 0, "pageSize" -> -100, "maxPerQueue" -> -1).foreach { case (opt, v) =>
      val e = intercept[IllegalArgumentException](scan(opt, v).count())
      assert(e.getMessage.contains(opt), e.getMessage)
    }
    val n = fetchesDuring {
      assert(scan("maxPerQueue", 0).count() == 0)
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

package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming semantics (SURVEY.md §2.10) driven through
  * MemoryStream micro-batches.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(min * 60000L)

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class FpDoc(fp: String, doc_id: Long)

  case class Ev2(event_id: Long, ts: Timestamp, user_id: Long,
      device_id: Long)

  test("tumblingAgg aggregates per window and drops data later than watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.tumblingAgg(mem.toDF(), "10 minutes", "10 minutes")
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .writeStream.format("memory").queryName("tumbling").outputMode("update").start()
    try {
      mem.addData(
        Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(5), 1, "click", 2.0),
        Ev(3, ts(12), 2, "view", 5.0))
      q.processAllAvailable()
      // watermark now 12-10=2min; this event (t=1) is older -> dropped
      mem.addData(Ev(4, ts(55), 1, "click", 100.0)) // advance watermark far
      q.processAllAvailable()
      mem.addData(Ev(5, ts(1), 1, "click", 7.0)) // late beyond watermark
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .groupBy("ws", "event_type").agg(max("n").as("n"), max("sum_value").as("s"))
        .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(
        (0L, "click", 2L, 3.0),   // events 1,2; late event 5 never lands
        (10L, "view", 1L, 5.0),
        (50L, "click", 1L, 100.0)))
    } finally q.stop()
  }

  test("dedupWithinWatermark drops duplicate event_ids inside the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.dedupWithinWatermark(mem.toDF(), "1 hour")
      .select("event_id").writeStream
      .format("memory").queryName("dedup").outputMode("append").start()
    try {
      mem.addData(Ev(1, ts(1), 1, "a", 1.0), Ev(1, ts(2), 1, "a", 1.0),
        Ev(2, ts(3), 1, "a", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(2, ts(4), 1, "a", 1.0), Ev(3, ts(5), 1, "a", 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("sessionAgg merges gap-bounded sessions; append emits them once finalized") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // session windows only support APPEND output (sessions MERGE as
    // events arrive — an already-emitted row could grow, so rows are
    // emitted only once the watermark passes the session end)
    val q = StreamingOps.sessionAgg(mem.toDF(), gap = "30 minutes", watermark = "10 minutes")
      .select(col("session_window.start").as("ws"), col("user_id"),
        col("n"), col("sum_value"))
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      mem.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(20), 1, "a", 2.0))
      q.processAllAvailable()
      // 25 min after event 2: extends the SAME session (gap not exceeded)
      mem.addData(Ev(3, ts(45), 1, "a", 4.0))
      q.processAllAvailable()
      // 40 min later: gap exceeded -> a new session opens
      mem.addData(Ev(4, ts(85), 1, "a", 8.0))
      q.processAllAvailable()
      // advance the watermark far; both earlier sessions finalize, the
      // flush event's own session stays pending
      mem.addData(Ev(5, ts(300), 2, "a", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000,
          r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(
        (0L, 1L, 3L, 7.0),   // events 1-3 merged into one session [0, 75)
        (85L, 1L, 1L, 8.0))) // event 4 opened a fresh session [85, 115)
    } finally q.stop()
  }

  test("flatMapGroupsWithState carries per-user running state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.runningPerUser(mem.toDF())
      .writeStream.format("memory").queryName("running").outputMode("append").start()
    try {
      mem.addData(Ev(1, ts(1), 7, "a", 10.0), Ev(2, ts(2), 7, "a", 5.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts(3), 7, "a", 2.5), Ev(4, ts(4), 8, "a", 1.0))
      q.processAllAvailable() // state for user 7 must survive batch 1 -> 2
      val rows = spark.table("running")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(
        (7L, 1L, 1L, 10.0), (7L, 2L, 2L, 15.0),
        (7L, 3L, 3L, 17.5),            // continues from batch-1 state
        (8L, 4L, 1L, 1.0)))
    } finally q.stop()
  }

  test("intervalCoverageStream merges islands across micro-batches (RocksDB state)") {
    import graft.streaming.StreamingOps.{CoverageOut, IntervalIn}
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[IntervalIn]
    val q = StreamingOps.intervalCoverageStream(mem.toDS())
      .writeStream.format("memory").queryName("interval_cov")
      .outputMode("update").start()
    try {
      mem.addData(IntervalIn(1, 1, 5), IntervalIn(1, 10, 12))
      q.processAllAvailable()
      // batch-1 summary: two islands, 5 + 3 covered days
      val b1 = spark.table("interval_cov").as[CoverageOut].collect().toSet
      assert(b1 == Set(CoverageOut(1, 2, 8)))
      // [5,9] bridges INTO [1,5] (touch at 5) but NOT [10,12]
      // (day-adjacency does not merge — the batch query's rule)
      mem.addData(IntervalIn(1, 5, 9), IntervalIn(2, 3, 4))
      q.processAllAvailable()
      val all = spark.table("interval_cov").as[CoverageOut].collect().toSet
      assert(all.contains(CoverageOut(1, 2, 12)), s"got $all") // [1,9]+[10,12]
      assert(all.contains(CoverageOut(2, 1, 2)), s"got $all")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("heavyHittersStream: cross-batch MG state equals the direct merge fold (RocksDB)") {
    import graft.streaming.StreamingOps.MgCandidate
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[String]
    val k = 3
    // ONE bucket so the expected sketch is a single deterministic fold
    val q = StreamingOps.heavyHittersStream(mem.toDF().toDF("item"), k,
        buckets = 1)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("update").start()
    def countMap(xs: Seq[String]) =
      xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val batch1 = Seq.fill(6)("a") ++ Seq.fill(4)("b") ++
      Seq("c", "d", "e", "f")
    val batch2 = Seq.fill(5)("b") ++ Seq.fill(3)("g") ++ Seq("a", "c")
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      val s1 = spark.table("hh_stream").as[MgCandidate].collect()
        .filter(_.n == batch1.size).map(c => c.item -> c.weight).toMap
      val expect1 = graft.operators.HeavyHitters
        .mergeReduce(Map.empty, countMap(batch1), k)
      assert(s1 == expect1, s"$s1 != $expect1")
      mem.addData(batch2: _*)
      q.processAllAvailable() // sketch state must survive batch 1 -> 2
      val n2 = batch1.size + batch2.size
      val s2 = spark.table("hh_stream").as[MgCandidate].collect()
        .filter(_.n == n2).map(c => c.item -> c.weight).toMap
      val expect2 = graft.operators.HeavyHitters
        .mergeReduce(expect1, countMap(batch2), k)
      assert(s2 == expect2, s"$s2 != $expect2")
      // the MG guarantee end-to-end: 'a' (7) and 'b' (9) exceed
      // n/(k+1) = 6 and must be present
      assert(s2.contains("a") && s2.contains("b"), s2)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState (RocksDB) matches flatMapGroupsWithState running totals") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val q = StreamingOps.runningPerUserTws(mem.toDF())
      .writeStream.format("memory").queryName("running_tws").outputMode("append").start()
    try {
      mem.addData(Ev(1, ts(1), 7, "a", 10.0), Ev(2, ts(2), 7, "a", 5.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts(3), 7, "a", 2.5), Ev(4, ts(4), 8, "a", 1.0))
      q.processAllAvailable() // ValueState for user 7 must survive batch 1 -> 2
      val rows = spark.table("running_tws")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      // identical to the flatMapGroupsWithState expectation above
      assert(rows == Set(
        (7L, 1L, 1L, 10.0), (7L, 2L, 2L, 15.0),
        (7L, 3L, 3L, 17.5),
        (8L, 4L, 1L, 1.0)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  // TimeMode.ProcessingTime makes the no-trigger engine spin empty
  // micro-batches continuously (TTL cleanup requests re-triggering),
  // which starves processAllAvailable — so each step runs the query to
  // completion with AvailableNow against a SHARED checkpoint; the
  // RocksDB state (incl. TTL expiry timestamps) persists across the
  // restarts, which doubles as a state-recovery assertion. The memory
  // sink can't recover from a checkpoint, so output goes through
  // foreachBatch into a driver-side buffer.
  private def runTtlDedupOnce(mem: MemoryStream[FpDoc], ckpt: String,
      ttl: java.time.Duration): Set[(String, Long)] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val q = StreamingOps.ttlDedupStream(mem.toDF(), ttl)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamingOps.TtlAdmitted], _: Long) =>
          b.collect().foreach(a => buf.add((a.fp, a.doc_id)))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    import scala.jdk.CollectionConverters._
    buf.asScala.toSet
  }

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("ttlDedupStream suppresses repeats across restarts while TTL holds") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[FpDoc]
      val ckpt = java.nio.file.Files.createTempDirectory("ttl_hold").toString
      // TTL far above any restart gap: state MUST still be live in run 2
      val ttl = java.time.Duration.ofMinutes(10)
      mem.addData(FpDoc("A", 10), FpDoc("A", 7), FpDoc("B", 20))
      // min doc_id per key within a batch wins (7 over 10 for A)
      assert(runTtlDedupOnce(mem, ckpt, ttl) == Set(("A", 7L), ("B", 20L)))
      mem.addData(FpDoc("A", 30), FpDoc("C", 40))
      assert(runTtlDedupOnce(mem, ckpt, ttl) == Set(("C", 40L)),
        "repeat inside TTL must be suppressed by restored state")
    }
  }

  test("ttlDedupStream re-admits a fingerprint after its TTL expires") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[FpDoc]
      val ckpt = java.nio.file.Files.createTempDirectory("ttl_expire").toString
      // TTL far below the AvailableNow stop/start gap (measured multiple
      // seconds): the entry is guaranteed expired by run 2 — no sleeps
      val ttl = java.time.Duration.ofMillis(500)
      mem.addData(FpDoc("A", 10))
      assert(runTtlDedupOnce(mem, ckpt, ttl) == Set(("A", 10L)))
      mem.addData(FpDoc("A", 50))
      assert(runTtlDedupOnce(mem, ckpt, ttl) == Set(("A", 50L)),
        "expired fingerprint must be re-admitted")
    }
  }

  test("idleSessions fires the event-time timer when the watermark passes the idle gap") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val q = StreamingOps.idleSessions(mem.toDF(), gap = "10 minutes",
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("idle_sessions")
      .outputMode("append").start()
    try {
      // user 7: two events in one session; user 8: one event
      mem.addData(Ev(1, ts(1), 7, "a", 10.0), Ev(2, ts(3), 7, "a", 5.0),
        Ev(3, ts(4), 8, "a", 2.0))
      q.processAllAvailable()
      assert(spark.table("idle_sessions").isEmpty) // nothing idle yet
      // advance the watermark past both idle deadlines (3+10, 4+10 min)
      mem.addData(Ev(4, ts(40), 9, "a", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(5, ts(41), 9, "a", 1.0)) // one more batch so timers run
      q.processAllAvailable()
      val rows = spark.table("idle_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set((7L, 2L, 15.0), (8L, 1L, 2.0)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-static broadcast as-of: streaming facts against a static timeline") {
    // the stateless broadcast index makes the as-of usable DIRECTLY as
    // a stream-static transform (like a broadcast hash join): each
    // micro-batch binary-searches the static dimension timeline with no
    // state and no fact-side shuffle — the 100 TB streaming-ingest
    // enrichment path
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[Ev]
    val dim = Seq((1L, ts(10), 900L), (1L, ts(30), 901L), (2L, ts(20), 902L))
      .toDF("user_id", "ts", "rate_id")
    val enriched = graft.plans.NativeAsOfJoin.asOfBroadcast(
      memL.toDF().select("user_id", "ts", "event_id"), dim,
      Seq("user_id"), "ts", Seq("rate_id"), tieBreak = Some("rate_id"))
    val q = enriched.writeStream.format("memory").queryName("asof_ss")
      .outputMode("append").start()
    try {
      memL.addData(Ev(1, ts(15), 1, "purchase", 0.0), // after 900, before 901
        Ev(2, ts(30), 1, "purchase", 0.0),            // at-or-equal 901
        Ev(3, ts(5), 2, "purchase", 0.0),             // before any rate
        Ev(4, ts(25), 3, "purchase", 0.0))            // keyless
      q.processAllAvailable()
      memL.addData(Ev(5, ts(40), 2, "purchase", 0.0)) // second batch
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, asof_rate_id FROM asof_ss")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getLong(1))).sortBy(_._1).toSeq
      assert(got == Seq((1L, 900L), (2L, 901L), (3L, null), (4L, null),
        (5L, 902L)))
    } finally q.stop()
  }

  test("stream-static join against a registered summary rewrites the static side per micro-batch") {
    // the dashboard-over-stream shape: each micro-batch of events is
    // enriched from an aggregate WRITTEN against the base orders table;
    // SummaryRewrite (a session optimizer rule) re-plans the STATIC
    // side of the stream-static join onto the keys-sized summary INSIDE
    // IncrementalExecution, so at 100 TB every micro-batch probes
    // |keys| summary rows instead of re-scanning the fact corpus.
    val sfDir = "/root/testdata/sf0.001"
    graft.plans.SummaryRewrite.clear()
    def statAgg() = Tables(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("key_sum"))
    // truth captured UNREWRITTEN (no spec registered yet)
    val truth = statAgg().collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    graft.operators.SummaryTables.ensure(spark, sfDir)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val enriched = mem.toDF().withColumnRenamed("value", "prio")
      .join(statAgg(), col("prio") === col("o_orderpriority"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_events"),
        max(col("n_orders")).as("n_orders"), max(col("key_sum")).as("key_sum"))
    val q = enriched.writeStream.format("memory").queryName("mv_ss")
      .outputMode("complete").start()
    try {
      def batchState(): Map[String, (Long, Long, Long)] =
        spark.sql("SELECT prio, n_events, n_orders, key_sum FROM mv_ss")
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toMap
      mem.addData("1-URGENT", "3-MEDIUM", "1-URGENT")
      q.processAllAvailable()
      assert(batchState() == Map(
        "1-URGENT" -> (2L, truth("1-URGENT")._1, truth("1-URGENT")._2),
        "3-MEDIUM" -> (1L, truth("3-MEDIUM")._1, truth("3-MEDIUM")._2)))
      mem.addData("5-LOW")
      q.processAllAvailable()
      assert(batchState() == Map(
        "1-URGENT" -> (2L, truth("1-URGENT")._1, truth("1-URGENT")._2),
        "3-MEDIUM" -> (1L, truth("3-MEDIUM")._1, truth("3-MEDIUM")._2),
        "5-LOW" -> (1L, truth("5-LOW")._1, truth("5-LOW")._2)))
      // scan-level proof from the LAST micro-batch's executed plan: the
      // static side read the summary files, never the base table
      val exec = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val locs = exec.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }
      assert(locs.exists(_.contains("graft_summary")), locs.mkString("\n"))
      assert(!locs.exists(_.contains("orders.parquet")), locs.mkString("\n"))
    } finally {
      q.stop()
      graft.plans.SummaryRewrite.clear()
    }
  }

  test("streaming left: Auto resolves to the broadcast exec; Merge fails loudly") {
    // the merge exec is not streamable (it would need a stateful sort
    // on the stream) — the strategy must resolve Auto to the
    // stream-static broadcast exec regardless of right-side stats, and
    // reject an explicit Merge at PLANNING time with the real reason
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[Ev]
    val dim = Seq((1L, ts(10), 900L)).toDF("user_id", "ts", "rate_id")
    // Auto on a streaming left, with the broadcast threshold DISABLED —
    // batch Auto would pick merge here; streaming must still broadcast
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val auto = graft.plans.NativeAsOfJoin.asOfKeys(
        memL.toDF().select("user_id", "ts", "event_id"), dim,
        Seq("user_id"), "ts", Seq("rate_id"), tieBreak = Some("rate_id"))
      val q = auto.writeStream.format("memory").queryName("asof_auto_ss")
        .outputMode("append").start()
      try {
        memL.addData(Ev(1, ts(15), 1, "purchase", 0.0))
        q.processAllAvailable()
        val got = spark.sql(
          "SELECT event_id, asof_rate_id FROM asof_auto_ss").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got == Seq((1L, 900L)))
      } finally q.stop()
      val merge = graft.plans.NativeAsOfJoin.asOfKeys(
        memL.toDF().select("user_id", "ts", "event_id"), dim,
        Seq("user_id"), "ts", Seq("rate_id"), tieBreak = Some("rate_id"),
        strategy = graft.plans.AsOfPhysicalStrategy.Merge)
      val err = intercept[Exception] {
        val q2 = merge.writeStream.format("memory").queryName("asof_merge_ss")
          .outputMode("append").start()
        try { memL.addData(Ev(2, ts(16), 1, "purchase", 0.0)); q2.processAllAvailable() }
        finally q2.stop()
      }
      // the STRATEGY's planning-time message, not an incidental failure
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(err).exists(_.contains("not streamable")),
        messages(err).mkString(" | "))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("asOfEnrichStream == native batch as-of on out-of-order arrivals") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val memL = MemoryStream[Ev]
    val memR = MemoryStream[Ev]
    val q = StreamingOps.asOfEnrichStream(memL.toDF(), memR.toDF(),
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // batch 1: right precedes left in event time
      memR.addData(Ev(100, ts(10), 1, "click", 0.0))
      memL.addData(Ev(1, ts(20), 1, "purchase", 0.0))
      q.processAllAvailable()
      // batch 2: equal-ts right TIE (ids 101/99 -> min 99 must win), an
      // at-or-equal left, an OUT-OF-ORDER left (t15 < the already-seen
      // t20, inside the watermark slack), and a left on a right-less key
      memR.addData(Ev(101, ts(30), 1, "click", 0.0),
        Ev(99, ts(30), 1, "click", 0.0))
      memL.addData(Ev(2, ts(30), 1, "purchase", 0.0),
        Ev(3, ts(15), 1, "purchase", 0.0),
        Ev(4, ts(25), 2, "purchase", 0.0))
      q.processAllAvailable()
      // sentinels push the watermark past everything; one more batch so
      // the armed event-time timers actually fire
      memR.addData(Ev(900, ts(499), 9, "click", 0.0))
      memL.addData(Ev(90, ts(500), 9, "purchase", 0.0))
      q.processAllAvailable()
      memL.addData(Ev(91, ts(501), 9, "purchase", 0.0))
      q.processAllAvailable()

      val got = spark.table("asof_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getLong(2))).toSet
      // hand-computed: tie resolves to 99, out-of-order t15 gets the
      // t10 click, right-less user 2 emits a null match
      assert(got == Set((1L, 1L, 100L), (1L, 2L, 99L), (1L, 3L, 100L),
        (2L, 4L, null)))

      // and the NATIVE batch operator on the same fed rows agrees
      // (restricted to the emitted ids — the sentinel lefts are still
      // inside the watermark and legitimately unemitted)
      val leftsB = Seq((1L, 20L, 1L), (1L, 30L, 2L), (1L, 15L, 3L),
        (2L, 25L, 4L), (9L, 500L, 90L), (9L, 501L, 91L))
        .toDF("user_id", "mins", "event_id")
        .withColumn("ts", timestamp_millis(col("mins") * 60000L)).drop("mins")
      val rightsB = Seq((1L, 10L, 100L), (1L, 30L, 101L), (1L, 30L, 99L),
        (9L, 499L, 900L))
        .toDF("user_id", "mins", "click_id")
        .withColumn("ts", timestamp_millis(col("mins") * 60000L)).drop("mins")
      val batch = graft.plans.NativeAsOfJoin
        .asOf(leftsB, rightsB, "user_id", "ts", Seq("click_id"),
          tieBreak = Some("click_id"))
        .filter(col("event_id") < 90)
        .select(col("user_id"), col("event_id"), col("asof_click_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getLong(2))).toSet
      assert(batch == got)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("asOfEnrichStreamKeys: 2-key stream == NativeAsOfJoin.asOfKeys on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val memL = MemoryStream[Ev2]
    val memR = MemoryStream[Ev2]
    val q = StreamingOps.asOfEnrichStreamKeys(memL.toDF(), memR.toDF(),
        Seq("user_id", "device_id"), watermark = "10 minutes")
      .writeStream.format("memory").queryName("asof_stream_2k")
      .outputMode("append").start()
    try {
      // same user on TWO devices: the composite key must keep their
      // timelines separate (a single-key join would cross-match), and
      // (2,10) shares a device id with (1,10) but no user — null match
      memR.addData(Ev2(100, ts(10), 1, 10), Ev2(200, ts(12), 1, 20))
      memL.addData(Ev2(1, ts(20), 1, 10), Ev2(2, ts(20), 1, 20),
        Ev2(3, ts(20), 2, 10))
      q.processAllAvailable()
      // sentinels push the watermark past everything; one more batch so
      // the armed event-time timers actually fire
      memR.addData(Ev2(900, ts(499), 9, 9))
      memL.addData(Ev2(90, ts(500), 9, 9))
      q.processAllAvailable()
      memL.addData(Ev2(91, ts(501), 9, 9))
      q.processAllAvailable()

      val got = spark.table("asof_stream_2k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3))).toSet
      assert(got == Set((1L, 10L, 1L, 100L), (1L, 20L, 2L, 200L),
        (2L, 10L, 3L, null)))

      // the native batch exec on the same fed rows, same composite key
      val leftsB = Seq((1L, 10L, 20L, 1L), (1L, 20L, 20L, 2L),
        (2L, 10L, 20L, 3L), (9L, 9L, 500L, 90L), (9L, 9L, 501L, 91L))
        .toDF("user_id", "device_id", "mins", "event_id")
        .withColumn("ts", timestamp_millis(col("mins") * 60000L)).drop("mins")
      val rightsB = Seq((1L, 10L, 10L, 100L), (1L, 20L, 12L, 200L),
        (9L, 9L, 499L, 900L))
        .toDF("user_id", "device_id", "mins", "click_id")
        .withColumn("ts", timestamp_millis(col("mins") * 60000L)).drop("mins")
      val batch = graft.plans.NativeAsOfJoin
        .asOfKeys(leftsB, rightsB, Seq("user_id", "device_id"), "ts",
          Seq("click_id"), tieBreak = Some("click_id"))
        .filter(col("event_id") < 90) // sentinels inside watermark, unemitted
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Long]("device_id"), r.getAs[Long]("event_id"),
          if (r.isNullAt(r.fieldIndex("asof_click_id"))) null
          else r.getAs[Long]("asof_click_id")))
        .toSet
      assert(batch == got)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-stream join pairs purchases with in-window clicks across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val pm = MemoryStream[Ev]
    val cm = MemoryStream[Ev]
    val q = StreamingOps.clickPurchaseJoin(pm.toDF(), cm.toDF(), lookback = "30 minutes")
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    try {
      // click arrives in an EARLIER batch than the purchase it matches —
      // the join buffers it in state until the purchase shows up
      cm.addData(Ev(10, ts(5), 1, "click", 0.0), Ev(11, ts(50), 2, "click", 0.0))
      q.processAllAvailable()
      pm.addData(Ev(1, ts(20), 1, "purchase", 9.5), // matches click 10 (15 min back)
        Ev(2, ts(45), 1, "purchase", 3.0))          // click 10 is 40 min back -> outside window
      q.processAllAvailable()
      cm.addData(Ev(12, ts(44), 1, "click", 0.0))   // late-batch click inside purchase 2's window
      pm.addData(Ev(3, ts(55), 2, "purchase", 1.0)) // matches click 11 (5 min back)
      q.processAllAvailable()
      val rows = spark.table("ssjoin")
        .select("event_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 10L), (2L, 12L), (3L, 11L)))
    } finally q.stop()
  }

  test("left-outer stream-stream join defers the null row until the click watermark proves absence") {
    implicit val sqlCtx = spark.sqlContext
    val pm = MemoryStream[Ev]
    val cm = MemoryStream[Ev]
    val q = StreamingOps.clickPurchaseJoin(pm.toDF(), cm.toDF(),
        lookback = "30 minutes", watermark = "1 hour", joinType = "leftOuter")
      .writeStream.format("memory").queryName("ssjoin_outer").outputMode("append").start()
    try {
      cm.addData(Ev(10, ts(5), 1, "click", 0.0))
      pm.addData(Ev(1, ts(20), 1, "purchase", 9.5), // matches click 10
        Ev(2, ts(25), 2, "purchase", 3.0))          // user 2 has NO click
      q.processAllAvailable()
      val early = spark.table("ssjoin_outer")
        .select("event_id").as[Long].collect().toSet
      // the matched row may emit promptly; the null row for purchase 2
      // MUST NOT — its click could still arrive within the watermark
      assert(!early.contains(2L),
        s"null row emitted before watermark proved absence: $early")
      // advance BOTH watermarks far past purchase 2's click window
      cm.addData(Ev(90, ts(300), 9, "click", 0.0))
      pm.addData(Ev(91, ts(300), 9, "purchase", 0.0))
      q.processAllAvailable()
      val rows = spark.table("ssjoin_outer")
        .select("event_id", "click_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((1L, 10L)), s"matched row missing: $rows")
      assert(rows.contains((2L, -1L)),
        s"unmatched purchase never emitted its null row: $rows")
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch against a broadcast dim") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = StreamingOps.enrichWithDim(mem.toDF(), dim, "user_id")
      .select("event_id", "tier")
      .writeStream.format("memory").queryName("enrich").outputMode("append").start()
    try {
      mem.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 9, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts(3), 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("enrich").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
      assert(rows == Set((1L, "gold"), (2L, null), (3L, "silver")))
    } finally q.stop()
  }

  case class Doc(doc_id: Long, ingest_ts: Timestamp, text: String, ver: Long)

  test("admitDocuments + upsertEachBatch: streaming ingest front door") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val mem = MemoryStream[Doc]
    val good = "the quick brown fox jumps over the lazy dog and runs on for a while longer"
    val q = StreamingOps.upsertEachBatch(
      StreamingOps.admitDocuments(mem.toDF()), s"$dir/t", "doc_id", "ver")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      mem.addData(
        Doc(1, ts(1), good, 1L),
        Doc(2, ts(2), good + " again", 1L),
        Doc(3, ts(3), "short", 1L),                       // fails length gate
        Doc(4, ts(4), good, 1L))                          // dup fingerprint of 1
      q.processAllAvailable()
      // later batch: higher-version rewrite of doc 2 (distinct text)
      mem.addData(Doc(2, ts(10), good + " rewritten today", 2L))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/t")
        .select("doc_id", "ver").as[(Long, Long)].collect().toMap
      assert(out == Map(1L -> 1L, 2L -> 2L))
    } finally q.stop()
  }

  test("lshCandidatesStream flags cross-batch near-dups, ignores distinct docs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val a = "the quick brown fox jumps over the lazy dog and keeps going for a while"
    val b = "completely different content about distributed query engines and shuffles here"
    val q = StreamingOps.lshCandidatesStream(mem.toDF())
      .writeStream.format("memory").queryName("lsh_cand")
      .outputMode("append").start()
    try {
      mem.addData(Doc(1, ts(1), a, 1L), Doc(2, ts(2), b, 1L))
      q.processAllAvailable()
      // later batch: doc 3 is a verbatim re-ingest of doc 1 — every band
      // collides with the bucket doc 1 claimed in the EARLIER batch
      mem.addData(Doc(3, ts(10), a, 1L))
      q.processAllAvailable()
      val hits = spark.table("lsh_cand")
        .select("doc_id", "first_doc_id").as[(Long, Long)].collect().toSeq
      assert(hits.nonEmpty && hits.toSet == Set((3L, 1L))) // no doc-2 pair
      assert(hits.size == 4) // all 4 bands of the identical text collide
    } finally q.stop()
  }

  test("lshCandidatesStream ≡ batch LSH: same edges star-wise, same dup clusters") {
    implicit val sqlCtx = spark.sqlContext
    // corpus with two near-dup groups (one of size 3, so the batch
    // clique vs streaming star difference is real) plus distinct docs
    val base = "the quick brown fox jumps over the lazy dog and keeps going for a while"
    val alt = "distributed query engines shuffle partitioned data across many executor nodes"
    val corpus = Seq(
      (1L, base), (2L, base + " longer"), (3L, base),
      (4L, alt), (5L, alt + " nightly"),
      (6L, "entirely unrelated text about cooking pasta with garlic and fresh tomatoes"),
      (7L, "yet another singleton document mentioning graph algorithms and triangle counts"))
    val mem = MemoryStream[Doc]
    val q = StreamingOps.lshCandidatesStream(mem.toDF())
      .writeStream.format("memory").queryName("lsh_equiv")
      .outputMode("append").start()
    try {
      // replay in doc_id order across three micro-batches (the ingest
      // regime: earlier docs claim buckets first)
      corpus.grouped(3).zipWithIndex.foreach { case (batch, i) =>
        mem.addData(batch.map { case (id, t) => Doc(id, ts(i), t, 1L) })
        q.processAllAvailable()
      }
      val streamEdges = spark.table("lsh_equiv")
        .select("doc_id", "first_doc_id").as[(Long, Long)].collect()
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val batchEdges = graft.operators.DedupOps.minHashCandidatePairs(
          corpus.toDF("doc_id", "text"), "doc_id", "text")
        .as[(Long, Long)].collect().toSet
      // the stream's star edges are a subset of the batch clique edges…
      assert(streamEdges.nonEmpty && streamEdges.subsetOf(batchEdges))
      // …and induce exactly the same duplicate clusters (union-find)
      def components(edges: Set[(Long, Long)]): Set[Set[Long]] = {
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) => parent(find(a)) = find(b) }
        parent.keys.groupBy(find).values.map(_.toSet).toSet
      }
      assert(components(streamEdges) == components(batchEdges))
      assert(components(streamEdges) == Set(Set(1L, 2L, 3L), Set(4L, 5L)))
    } finally q.stop()
  }

  test("lshCandidatesStream drops null-signature docs and caps hot buckets") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val clone = "boilerplate footer text repeated verbatim across every single page here"
    val q = StreamingOps.lshCandidatesStream(mem.toDF(), maxBucket = Some(3))
      .writeStream.format("memory").queryName("lsh_capped")
      .outputMode("append").start()
    try {
      // docs 1-2: shorter than the shingle width n=3 → null signature;
      // without the filter they'd collide in the xxhash64("") bucket
      mem.addData(Doc(1, ts(1), "hi", 1L), Doc(2, ts(2), "yo", 1L))
      q.processAllAvailable()
      // docs 10-15: a clone flood into one bucket; cap=3 claimants means
      // only docs 11 and 12 emit against first-claimant 10
      mem.addData((10L to 15L).map(i => Doc(i, ts(i.toInt), clone, 1L)): _*)
      q.processAllAvailable()
      val hits = spark.table("lsh_capped")
        .select("doc_id", "first_doc_id").as[(Long, Long)].collect().toSet
      assert(hits == Set((11L, 10L), (12L, 10L))) // no short-doc pairs, flood truncated
    } finally q.stop()
  }

  test("truncateLoadEachBatch leaves exactly the final snapshot on disk") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val mem = MemoryStream[Ev]
    val agg = mem.toDF().groupBy("event_type").agg(count(lit(1)).as("n"))
    val q = StreamingOps.truncateLoadEachBatch(agg, s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      mem.addData(Ev(1, ts(1), 1, "a", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(2, ts(2), 1, "a", 1.0), Ev(3, ts(3), 1, "b", 1.0))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
        .as[(String, Long)].collect().toMap
      assert(out == Map("a" -> 2L, "b" -> 1L))
    } finally q.stop()
  }

  test("incrementalCC merges components across micro-batches (star compression)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_icc").toString
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingOps.incrementalCC(
        mem.toDF().toDF("u", "v"), s"$dir/state")
      .option("checkpointLocation", s"$dir/ckpt").start()
    def state(): Map[Long, Long] =
      graft.sources.StagedSink.readCommitted(spark, s"$dir/state")
        .as[(Long, Long)].collect().toMap
    try {
      // batch 1: three 2-vertex components + one self-loop registration
      mem.addData((1L, 2L), (3L, 4L), (5L, 6L), (9L, 9L))
      q.processAllAvailable()
      assert(state() == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
        5L -> 5L, 6L -> 5L, 9L -> 9L))
      // batch 2: one edge BRIDGES {1,2} and {3,4} — the merge must
      // relabel all four transitively even though vertices 1 and 4
      // appear nowhere in the delta (star edges carry them); {5,6} and
      // the singleton are untouched and must survive verbatim
      mem.addData((2L, 3L), (7L, 8L))
      q.processAllAvailable()
      assert(state() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
      // batch 3: the singleton acquires an edge; a brand-new vertex
      // joins an existing merged component through its NON-min member
      mem.addData((9L, 10L), (4L, 0L))
      q.processAllAvailable()
      assert(state() == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
        4L -> 0L, 5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L,
        9L -> 9L, 10L -> 9L))
    } finally q.stop()
  }

  test("incrementalCC state survives a query restart; edge replays are idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_icc2").toString
    def state(): Map[Long, Long] =
      graft.sources.StagedSink.readCommitted(spark, s"$dir/state")
        .as[(Long, Long)].collect().toMap
    val mem1 = MemoryStream[(Long, Long)]
    val q1 = StreamingOps.incrementalCC(
        mem1.toDF().toDF("u", "v"), s"$dir/state")
      .option("checkpointLocation", s"$dir/ckpt1").start()
    try {
      mem1.addData((1L, 2L), (3L, 4L))
      q1.processAllAvailable()
    } finally q1.stop()
    // the assignment table IS the operator's durable state — a brand-new
    // query (fresh stream, fresh checkpoint) must pick it up and extend
    // it, because labels are component minima and merges are monotone
    val mem2 = MemoryStream[(Long, Long)]
    val q2 = StreamingOps.incrementalCC(
        mem2.toDF().toDF("u", "v"), s"$dir/state")
      .option("checkpointLocation", s"$dir/ckpt2").start()
    try {
      // an at-least-once REPLAY of an already-merged edge: no-op
      mem2.addData((1L, 2L))
      q2.processAllAvailable()
      assert(state() == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L),
        "replayed edge changed the assignment")
      // and a genuinely new bridge still merges across the restart
      mem2.addData((2L, 4L))
      q2.processAllAvailable()
      assert(state() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    } finally q2.stop()
  }

  case class NewDoc(doc_id: Long, text: String)

  test("dupClustersMaintainEachBatch: streamed batches equal the full rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{DedupOps, DupClusterStore, GraphOps}
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the mat"
    val d1 = "completely different content about spark catalyst optimizer rules and tungsten codegen stages"
    val bridge = "spark catalyst optimizer rules meanwhile something else entirely unrelated goes right here"
    val work = java.nio.file.Files.createTempDirectory("graft_dcs_stream").toString
    val root = s"$work/store"
    DupClusterStore.buildIncremental(spark,
      Seq((1L, base), (2L, d1)).toDF("doc_id", "text"), root)
    val mem = MemoryStream[NewDoc]
    val q = StreamingOps.dupClustersMaintainEachBatch(mem.toDF(), root)
      .option("checkpointLocation", s"$work/ckpt").start()
    try {
      mem.addData(NewDoc(10L, base)) // exact copy clusters the singleton
      q.processAllAvailable()
      mem.addData(NewDoc(20L, bridge)) // near-dup joins d1's cluster
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val union = Seq((1L, base), (2L, d1), (10L, base), (20L, bridge))
      .toDF("doc_id", "text")
    val expect = rows(GraphOps.dupClusters(
      DedupOps.ngramJaccardConnectivityEdges(union, "doc_id", "text", 0.05))
      .select(col("id").as("doc_id"), col("cluster_id")))
    assert(rows(DupClusterStore.assignmentsIncremental(spark, root)) == expect)
    assert(expect.contains((10L, 1L)) && expect.contains((20L, 2L)))
    assert(graft.ops.CoreOps.lastBatch(spark, s"$root/assign", "StreamingSpec") >= 1L)
  }

  case class Vec(vec_id: Long, embedding: Array[Float])

  test("annIndexAppendEachBatch: exactly-once streaming index append equals the batch path") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.AnnIndex
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val base = e.filter(col("vec_id") % 4 < 2)
    val d1 = e.filter(col("vec_id") % 4 === 2)
    val d2 = e.filter(col("vec_id") % 4 === 3)
    val work = java.nio.file.Files.createTempDirectory("graft_ann_stream").toString
    val (dirA, dirB) = (s"$work/streamed", s"$work/batched")
    // both indexes share the SAME stored quantizer: built from the base
    // half, appends assign against it (never retrain)
    AnnIndex.build(base, dirA, nlist = 0, trainRounds = 0)
    AnnIndex.build(base, dirB, nlist = 0, trainRounds = 0)
    AnnIndex.append(d1.unionByName(d2), dirB)
    def vecs(df: org.apache.spark.sql.DataFrame): Seq[Vec] =
      df.select("vec_id", "embedding").collect()
        .map(r => Vec(r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val mem = MemoryStream[Vec]
    val q = StreamingOps.annIndexAppendEachBatch(mem.toDF(), dirA)
      .option("checkpointLocation", s"$work/ckpt").start()
    def probe(dir: String) = {
      val qs = e.filter(col("vec_id") < 20)
      AnnIndex.ivfTopK(qs, dir, k = 5).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rk"),
          r.getAs[Long]("n_id"), r.getAs[Double]("cos_sim")))
        .sortBy(t => (t._1, t._2)).toSeq
    }
    try {
      mem.addData(vecs(d1): _*)
      q.processAllAvailable()
      mem.addData(vecs(d2): _*)
      q.processAllAvailable()
      // two micro-batches == one batch append of the union, probe-equal
      assert(probe(dirA) == probe(dirB))
      assert(AnnIndex.postingsLedger(spark, dirA) >= 1L)
    } finally q.stop()
    val nRows = spark.read.parquet(s"$dirA/postings").count()
    // REPLAY: re-delivering an already-applied micro-batch id is a
    // no-op — the ledger (inside the postings bytes) absorbs it
    assert(!AnnIndex.appendBatch(d1, dirA, batchId = 0L))
    assert(spark.read.parquet(s"$dirA/postings").count() == nRows)
    assert(probe(dirA) == probe(dirB))
    // CRASH WINDOW: simulate dying between the swap's two renames — a
    // COMPLETE staged rewrite (ledger 99 inside, commit-marked) with the
    // live postings already renamed aside. The next probe must finish
    // the swap: data and the NEW ledger become visible together.
    val postings = java.nio.file.Paths.get(s"$dirA/postings")
    val staged = java.nio.file.Paths.get(s"$dirA/postings_staged")
    val old = java.nio.file.Paths.get(s"$dirA/postings_old")
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      val st = java.nio.file.Files.walk(src)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.foreach { p =>
          val t = dst.resolve(src.relativize(p).toString)
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(t)
          else java.nio.file.Files.copy(p, t)
        }
      } finally st.close()
    }
    copyTree(postings, staged)
    // the staged ledger as commitSwap writes it, through Hadoop's local
    // FS: that also rewrites the checksum file copied beside it, which a
    // java.nio write would leave stale for the ledger read to reject
    val ledger = graft.ops.CoreOps.fsOf(spark, dirA).create(
      new org.apache.hadoop.fs.Path(staged.toString, graft.ops.CoreOps.BatchLedger), true)
    try ledger.write("99".getBytes("UTF-8")) finally ledger.close()
    val marker = staged.resolve(graft.ops.CoreOps.CommitMarker)
    if (!java.nio.file.Files.exists(marker))
      java.nio.file.Files.createFile(marker)
    java.nio.file.Files.move(postings, old)
    assert(probe(dirA) == probe(dirB)) // recovery finished the swap
    assert(AnnIndex.postingsLedger(spark, dirA) == 99L,
      "the recovered swap must surface the staged ledger with the data")
    assert(!AnnIndex.appendBatch(d1, dirA, batchId = 99L)) // still deduped
  }
}

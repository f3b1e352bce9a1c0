package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table shape
  * (SURVEY.md §2.10): watermarked tumbling/sliding/session windows,
  * within-watermark dedup, and an idempotent overwrite sink via
  * `foreachBatch` (the S4 truncate-and-load analog).
  *
  * Each builder takes an already-constructed streaming DataFrame so the
  * same transforms are unit-testable against `readStream` file sources;
  * the batch-equivalent aggregations are registered as oracle-checked
  * queries in SparkEntry (window semantics identical by construction).
  */
object StreamingOps {

  /** The normalized events shape every transform below consumes (what
    * [[readEventsStream]] yields after `Tables.normalizeTs`) — the
    * schema to use when wiring these ops to a non-parquet source
    * (Kafka JSON, a socket feed) that needs an explicit schema.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming scan of an events parquet DIRECTORY (file streams track
    * directories). `readStream` requires a user-supplied schema, but the
    * generator's physical `ts` encoding has changed across versions
    * (NANOS-as-long vs MICROS-NTZ — see graft.Tables), so the on-disk
    * schema is sniffed with one batch metadata read of the same directory
    * and the shared `Tables.normalizeTs` brings `ts` to `TimestampType` —
    * batch and stream transforms stay identical in both modes.
    */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The sniff assumes a HOMOGENEOUS directory: the encoding of the
    // first files seen is frozen for the query's lifetime, so a
    // mid-stream encoding change in the same directory would misread
    // later files (re-ingest to a fresh directory instead). A directory
    // that is empty at startup — a normal ingest condition — can't be
    // sniffed; fall back to the canonical eventsSchema and let the
    // stream wait for files rather than failing 'unable to infer schema'.
    val onDisk =
      try spark.read.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => eventsSchema }
    graft.Tables.normalizeTs(
      spark.readStream.schema(onDisk)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir))
  }

  /** Tumbling-window counts/sums with late-data drop via watermark. */
  def tumblingAgg(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Sliding-window variant. */
  def slidingAgg(events: DataFrame, window_ : String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Session windows: gap-based sessions per user. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming analog of the reference's match-ID dedup (SURVEY §2.4 A1):
    * state is bounded by the watermark instead of growing forever.
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user running aggregate via arbitrary stateful processing
    * (`flatMapGroupsWithState`) — the custom-state escape hatch for
    * semantics windows can't express (here: emit a row per event with the
    * user's lifetime event count and value sum; state lives per key on
    * the shuffle partition that owns it, checkpointed with the query).
    */
  case class UserState(n: Long, sum: Double)
  case class UserRunning(user_id: Long, event_id: Long, run_n: Long, run_sum: Double)

  def runningPerUser(
      events: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): org.apache.spark.sql.Dataset[UserRunning] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    implicit val stateEnc = Encoders.product[UserState]
    implicit val outEnc = Encoders.product[UserRunning]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey((r: Row) => r.getAs[Long]("user_id"))(longEnc)
      .flatMapGroupsWithState[UserState, UserRunning](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[UserState]) =>
          var s = state.getOption.getOrElse(UserState(0L, 0.0))
          val out = rows.toSeq.sortBy(r => r.getAs[Long]("event_id")).map { r =>
            s = UserState(s.n + 1, s.sum + r.getAs[Double]("value"))
            UserRunning(user, r.getAs[Long]("event_id"), s.n, s.sum)
          }
          state.update(s)
          out.iterator
      }
  }

  /** The same running per-user totals through `transformWithState` —
    * Spark 4's arbitrary-state API (SPARK-46815): typed state handles
    * (`ValueState` here; list/map state and per-key timers also exist)
    * obtained from a [[org.apache.spark.sql.streaming.StatefulProcessor]]
    * instead of a single `GroupState` value, with state-schema evolution
    * and TTL built in. Requires the RocksDB state store provider.
    * Semantically identical to [[runningPerUser]] — the spec asserts the
    * two produce the same rows.
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, org.apache.spark.sql.Row, UserRunning] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserState]("totals",
        org.apache.spark.sql.Encoders.product[UserState], TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[org.apache.spark.sql.Row],
        timerValues: TimerValues): Iterator[UserRunning] = {
      // NOTE: buffers + sorts ONE key's share of ONE micro-batch in
      // memory to emit in event order — fine for this spec-parity demo
      // and for keys whose per-batch volume is bounded. A key that can
      // receive unbounded rows per batch needs incremental emission with
      // upstream event-time ordering (or a ListState spill) instead;
      // same caveat applies to the flatMapGroupsWithState twin above.
      var s = if (state.exists()) state.get() else UserState(0L, 0.0)
      val out = rows.toSeq.sortBy(_.getAs[Long]("event_id")).map { r =>
        s = UserState(s.n + 1, s.sum + r.getAs[Double]("value"))
        UserRunning(user, r.getAs[Long]("event_id"), s.n, s.sum)
      }
      state.update(s)
      out.iterator
    }
  }

  def runningPerUserTws(
      events: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): org.apache.spark.sql.Dataset[UserRunning] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.{Encoders, Row}
    implicit val outEnc = Encoders.product[UserRunning]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey((r: Row) => r.getAs[Long]("user_id"))(longEnc)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Idle-session finalizer via EVENT-TIME TIMERS (`transformWithState`
    * + `TimeMode.EventTime`) — the timer surface `session_window` hides:
    * each user's open session accumulates in a ValueState, and a single
    * per-key timer (re-armed on every arrival to last-event + gap) fires
    * when the WATERMARK passes the idle deadline, emitting the closed
    * session and clearing state. This is the general template for
    * "emit when a key goes quiet" semantics — abandoned-cart alerts,
    * connection teardown, end-of-burst compaction — where the built-in
    * session window can only aggregate, not run arbitrary finalization.
    * State per key: one (n, sum, last_ts) record + one timer.
    */
  case class OpenSession(n: Long, sum: Double, lastTs: Long)
  case class ClosedSession(user_id: Long, n_events: Long, sum_value: Double)

  class IdleSessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, org.apache.spark.sql.Row, ClosedSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[OpenSession] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[OpenSession]("open_session",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[org.apache.spark.sql.Row],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      var s = if (st.exists()) st.get() else OpenSession(0L, 0.0, Long.MinValue)
      rows.foreach { r =>
        val t = r.getAs[java.sql.Timestamp]("ts").getTime
        s = OpenSession(s.n + 1, s.sum + r.getAs[Double]("value"), math.max(s.lastTs, t))
      }
      st.update(s)
      // exactly one armed timer per key: re-arm at the new idle deadline
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(s.lastTs + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
      // a registered timer normally coexists with state, but a replayed
      // stale timer (or future TTL use) must not NPE / emit a null row
      if (!st.exists()) return Iterator.empty
      val s = st.get()
      st.clear()
      Iterator.single(ClosedSession(user, s.n, s.sum))
    }
  }

  /** [[IdleSessionProcessor]] wired over a watermarked event stream. */
  def idleSessions(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.{Encoders, Row}
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val longEnc = Encoders.scalaLong
    val gapMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    val ms = org.apache.spark.sql.catalyst.util.IntervalUtils.getDuration(
      gapMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    events.withWatermark("ts", watermark)
      .groupByKey((r: Row) => r.getAs[Long]("user_id"))(longEnc)
      .transformWithState(new IdleSessionProcessor(ms),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** TTL-bounded streaming fingerprint dedup: admits the first document
    * per fingerprint and suppresses repeats for `ttl` of PROCESSING
    * time, after which the fingerprint may be admitted again — the
    * "dedup within N days" retention policy of a continuously-running
    * ingest, where [[admitDocuments]]'s dropDuplicatesWithinWatermark
    * bounds state by EVENT time instead. The state-size story at
    * 100 TB is the point: total state is arrival-rate x TTL (RocksDB
    * evicts expired entries), not corpus-lifetime, so the query runs
    * forever at constant state no matter how much history it has seen.
    * One boolean of state per live fingerprint; within a micro-batch
    * the smallest doc_id for a key wins, so admission is deterministic
    * under replay regardless of row arrival order.
    */
  case class TtlAdmitted(fp: String, doc_id: Long)

  class TtlDedupProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, org.apache.spark.sql.Row, TtlAdmitted] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig(ttl))
    override def handleInputRows(fp: String,
        rows: Iterator[org.apache.spark.sql.Row],
        timerValues: TimerValues): Iterator[TtlAdmitted] = {
      // an expired entry reads as absent — that IS the re-admission
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        Iterator.single(TtlAdmitted(fp,
          rows.map(_.getAs[Long]("doc_id")).min))
      }
    }
  }

  /** `docs` needs `doc_id` and a `fp` fingerprint column (e.g. from
    * [[graft.functions.TextOps.fingerprint]]). TTL requires
    * processing-time mode and the RocksDB state store provider.
    */
  def ttlDedupStream(docs: DataFrame,
      ttl: java.time.Duration): org.apache.spark.sql.Dataset[TtlAdmitted] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.{Encoders, Row}
    implicit val outEnc = Encoders.product[TtlAdmitted]
    implicit val strEnc = Encoders.STRING
    docs
      .groupByKey((r: Row) => r.getAs[String]("fp"))(strEnc)
      .transformWithState(new TtlDedupProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Streaming heavy hitters — the cross-batch twin of
    * [[graft.operators.HeavyHitters.frequentItems]]'s candidate pass.
    * Items are keyed into a FIXED number of hash buckets (the bounded
    * key domain — state is buckets x k counters no matter how the
    * vocabulary grows, the same "shuffle domain never tracks the
    * vocabulary" claim as the batch op); per bucket, a ValueState holds
    * a <= k-entry Misra-Gries summary maintained with the MERGEABLE
    * form ([[graft.operators.HeavyHitters.mergeReduce]]): each batch's
    * rows are EXACT-counted first (a HashMap fold — order-free), then
    * merged into the state summary. Both steps are pure multiset
    * operations, so the state after any prefix of batches is uniquely
    * determined by the multiset of items seen — deterministic under
    * micro-batch replay and independent of row order within a batch,
    * which a sequential decrement fold would NOT be. Undercount bound
    * <= n_bucket / (k+1) (Agarwal et al., PODS 2012); any item with
    * count > n_bucket / (k+1) is guaranteed present. Update-mode
    * emission: the bucket's current candidates + total mass per batch;
    * the exact-recount pass 2 composes downstream exactly as in batch.
    */
  case class MgSketch(items: Seq[String], weights: Seq[Long], n: Long)
  case class MgCandidate(bucket: Int, item: String, weight: Long, n: Long)

  class HeavyHittersProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int, org.apache.spark.sql.Row, MgCandidate] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues}
    @transient private var sketch: org.apache.spark.sql.streaming.ValueState[MgSketch] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sketch = getHandle.getValueState[MgSketch]("sketch",
        org.apache.spark.sql.Encoders.product[MgSketch],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(bucket: Int,
        rows: Iterator[org.apache.spark.sql.Row],
        timerValues: TimerValues): Iterator[MgCandidate] = {
      // exact in-batch counts: order-free, unlike a decrement fold
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var batchN = 0L
      rows.foreach { r =>
        val item = r.getAs[String]("item")
        counts(item) = counts.getOrElse(item, 0L) + 1L
        batchN += 1L
      }
      val prev = if (sketch.exists()) sketch.get()
                 else MgSketch(Seq.empty, Seq.empty, 0L)
      val merged = graft.operators.HeavyHitters.mergeReduce(
        prev.items.zip(prev.weights).toMap, counts.toMap, k)
      val n = prev.n + batchN
      // stable (sorted) layout so the persisted state is byte-stable
      // across replays, not just set-equal
      val items = merged.keys.toSeq.sorted
      sketch.update(MgSketch(items, items.map(merged), n))
      items.iterator.map(it => MgCandidate(bucket, it, merged(it), n))
    }
  }

  /** `items` needs a string `item` column. State: `buckets` x (<= k)
    * counters under RocksDB — constant in corpus lifetime.
    */
  def heavyHittersStream(items: DataFrame, k: Int,
      buckets: Int = 64): org.apache.spark.sql.Dataset[MgCandidate] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.{Encoders, Row}
    implicit val outEnc = Encoders.product[MgCandidate]
    implicit val intEnc = Encoders.scalaInt
    items
      .groupByKey((r: Row) =>
        math.floorMod(r.getAs[String]("item").hashCode, buckets))(intEnc)
      .transformWithState(new HeavyHittersProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming LSH near-dup candidate generation — cross-batch fuzzy
    * dedup for a document INGEST stream: band hashes come from the SAME
    * native MinHash banding as the batch path
    * ([[graft.operators.DedupOps.withMinHashBands]], computed in-row, no
    * shuffle), the stream is keyed by (band, bucket), and per-bucket
    * state remembers the FIRST document to claim the bucket. Every later
    * claimant emits a (doc_id, first_doc_id, band) candidate pair —
    * the streaming analog of the batch banded self-join, with O(1)
    * state (one long) per bucket and output tracking colliding docs,
    * never |corpus|². Verification (exact Jaccard) and the drop/keep
    * policy compose downstream exactly as in the batch pipeline.
    *
    * Within a micro-batch the bucket's rows are processed in doc_id
    * order, so first-claimant is deterministic under replay.
    */
  case class BandClaim(band: Int, bucket: Long, doc_id: Long)
  case class BandHit(doc_id: Long, first_doc_id: Long, band: Int)
  case class BucketState(first: Long, claims: Long)

  /** @param maxBucket streaming analog of the batch junk-bucket cap
    *   ([[graft.operators.DedupOps.minHashCandidatePairsFromBanded]]):
    *   once a bucket has seen this many claimants, later claimants stop
    *   emitting pairs (the bucket is boilerplate/clone junk, and an
    *   uncapped hot bucket would emit one pair per arrival forever).
    *   Unlike batch — which sees the whole corpus and can skip the
    *   bucket entirely — a stream can't retract already-emitted pairs,
    *   so the cap truncates rather than removes. None = every candidate.
    */
  def lshCandidatesStream(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 16, bands: Int = 4, n: Int = 3, seed: Long = 42L,
      maxBucket: Option[Int] = None):
      org.apache.spark.sql.Dataset[BandHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    val banded = graft.operators.DedupOps.withMinHashBands(
      docs, textCol, k, bands, n, seed)
    implicit val claimEnc = Encoders.product[BandClaim]
    implicit val keyEnc = Encoders.product[(Int, Long)]
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val outEnc = Encoders.product[BandHit]
    banded
      // docs shorter than n tokens have a null signature; without this
      // filter their band slices hash to xxhash64("") and every short
      // doc would collide in one bucket in all bands, flooding pairs
      .filter(col("minhash_sig").isNotNull)
      .select(
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), col(s"band_$b").as("bucket"),
            col(idCol).as("doc_id"))): _*)).as("c"))
      .select("c.band", "c.bucket", "c.doc_id")
      .as[BandClaim]
      .groupByKey(c => (c.band, c.bucket))
      .flatMapGroupsWithState[BucketState, BandHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Int, Long), rows: Iterator[BandClaim], state: GroupState[BucketState]) =>
          val sorted = rows.toSeq.sortBy(_.doc_id)
          var s = state.getOption.getOrElse(BucketState(Long.MinValue, 0L))
          val cap = maxBucket.map(_.toLong).getOrElse(Long.MaxValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[BandHit]
          sorted.foreach { c =>
            if (s.first == Long.MinValue) s = BucketState(c.doc_id, 1L)
            else if (c.doc_id != s.first) {
              if (s.claims < cap) out += BandHit(c.doc_id, s.first, key._1)
              s = s.copy(claims = s.claims + 1)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Stream-static enrichment join: every micro-batch joins against the
    * static dimension — no watermark needed (static side never expires),
    * and a small dim broadcasts so the stream side never shuffles.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming ANN over a PERSISTED [[graft.functions.AnnIndex]]: a
    * stream of query vectors probes the stored index per micro-batch —
    * the retrieval-service shape (queries arrive continuously; the
    * corpus and its quantizers are a stored layout, refreshed on a
    * cadence).
    *
    * Every stage is incrementally evaluable, which is what the batch
    * probe's rank window is NOT (and why graft_ann rejects streams):
    *  - probe cells come from the STORED centroids folded into the
    *    TopCentroids literal kernel — stateless per row;
    *  - candidates are a stream-static INNER join against the
    *    cell-partitioned postings — supported natively, no state;
    *  - the per-query top-k is a STREAMING AGGREGATION over the typed
    *    [[graft.functions.TopKAggregator]] (update/complete mode):
    *    state per query is the k-capped buffer, so a query whose
    *    vector re-arrives (or whose candidates split across batches)
    *    REFINES its top-k instead of breaking a rank window.
    *
    * Emits (q_id, top array<struct<score, id>> best-first) — identical
    * content to the batch [[graft.functions.AnnIndex.ivfTopK]] rows for
    * the same queries (AnnIndexSpec pins the parity). Run with
    * outputMode update (or complete).
    */
  def annTopKStream(
      queries: DataFrame, indexDir: String, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val meta = spark.read.parquet(s"$indexDir/meta").head()
    val dim = meta.getAs[Int]("dim")
    val nprobe = meta.getAs[Int]("nprobe")
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .orderBy("cell").select("centroid").collect().map(_.getSeq[Double](0))
    val flat = lit(cents.flatten.toArray)
    // tombstone-aware like the batch probes (stream-static anti-join)
    val postings = graft.functions.AnnIndex.livePostings(spark, indexDir)
      .select(col("cell"), col("n_id"), col("n_vec"))
    val q = queries.select(col(idCol).as("q_id"),
        graft.functions.VectorOps.toDoubleVec(col(vecCol)).as("q_vec"))
      .withColumn("cell", explode(call_function("graft_top_cells",
        col("q_vec"), flat, lit(dim), lit(nprobe))))
    q.join(postings, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"),
        graft.functions.VectorOps.cosine(col("q_vec"), col("n_vec")).as("cos_sim"),
        col("n_id"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAggregator.topK(k, col("cos_sim"), col("n_id"))
        .as("top"))
  }

  /** STREAMING event-time as-of join (Flink's "temporal join", which
    * Structured Streaming lacks natively): each left event is enriched
    * with the same key's most recent right event at-or-before its
    * timestamp — the streaming twin of the batch
    * [[graft.operators.AsOfJoin]] / [[graft.plans.NativeAsOfJoin]] pair,
    * with IDENTICAL semantics including min-id resolution of equal-ts
    * right ties (the spec pins stream == native-batch on the same rows).
    *
    * Event-time correctness, not arrival-order: both sides buffer per
    * key, a single per-key timer re-arms at the earliest pending left
    * timestamp, and emission happens only when the WATERMARK passes a
    * left row's time — by which point every right row at-or-before it
    * is final (later-arriving rights would be late beyond watermark and
    * dropped upstream). A left with no final right emits a null match.
    *
    * The 100 TB state story: after each firing the key retains only
    * (a) lefts still inside the watermark delay, (b) rights inside the
    * delay, and (c) ONE collapsed "latest final right" — every future
    * left is strictly later than the watermark, so older finalized
    * rights can never win again. State per key is arrival-rate x
    * watermark-delay + 1 row, NOT history-lifetime (the unbounded-state
    * failure a naive buffer-everything join has).
    */
  case class AsOfEvt(tsMs: Long, id: Long)
  case class AsOfBuf(lefts: Seq[AsOfEvt], rights: Seq[AsOfEvt],
      hasFinal: Boolean, finalTs: Long, finalId: Long)
  case class AsOfEnriched(user_id: Long, event_id: Long,
      asof_click_id: Option[Long])

  /** Row-keyed so the SAME processor serves any key arity — the
    * composite-key twin of `NativeAsOfJoin.asOfKeys` (the grouping key
    * is the full key vector; output rows lead with its fields). The
    * buffer logic never touches the key, so generalizing the key type
    * changes nothing about the state bound.
    */
  class AsOfStreamProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        org.apache.spark.sql.Row, org.apache.spark.sql.Row,
        org.apache.spark.sql.Row] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[AsOfBuf] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AsOfBuf]("asof_buf",
        org.apache.spark.sql.Encoders.product[AsOfBuf], TTLConfig.NONE)

    /** One armed timer per key at the earliest pending event on EITHER
      * side: lefts need a firing to emit, and rights need one to compact
      * into the collapsed final row — arming at lefts-only would let a
      * single far-future left (producer clock skew) suppress compaction
      * while rights accumulate at rate x skew instead of the documented
      * rate x watermark-delay bound. Clamped above the current
      * watermark: a row that arrives with event time at/behind the
      * watermark must still get a FUTURE timer.
      */
    private def rearm(s: AsOfBuf, watermarkMs: Long): Unit = {
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      val cand = s.lefts.map(_.tsMs) ++ s.rights.map(_.tsMs)
      if (cand.nonEmpty)
        getHandle.registerTimer(math.max(cand.min, watermarkMs + 1))
    }

    override def handleInputRows(key: org.apache.spark.sql.Row,
        rows: Iterator[org.apache.spark.sql.Row],
        timerValues: TimerValues): Iterator[org.apache.spark.sql.Row] = {
      val s0 = if (st.exists()) st.get()
        else AsOfBuf(Nil, Nil, hasFinal = false, 0L, 0L)
      val (lb, rb) = (Seq.newBuilder[AsOfEvt], Seq.newBuilder[AsOfEvt])
      rows.foreach { r =>
        val e = AsOfEvt(r.getAs[java.sql.Timestamp]("ts").getTime,
          r.getAs[Long]("id"))
        if (r.getAs[Int]("side") == 1) lb += e else rb += e
      }
      val s = s0.copy(lefts = s0.lefts ++ lb.result(),
        rights = s0.rights ++ rb.result())
      st.update(s)
      rearm(s, timerValues.getCurrentWatermarkInMs())
      Iterator.empty
    }

    override def handleExpiredTimer(key: org.apache.spark.sql.Row,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[org.apache.spark.sql.Row] = {
      if (!st.exists()) return Iterator.empty
      val s = st.get()
      val w = timerValues.getCurrentWatermarkInMs()
      // rights final at-or-before the watermark, in match-preference
      // order: ascending ts, DESCENDING id — so "last qualifying" is the
      // max-ts / min-id winner, the batch operators' exact tie rule
      val finalized = (s.rights.filter(_.tsMs <= w) ++
        (if (s.hasFinal) Seq(AsOfEvt(s.finalTs, s.finalId)) else Nil))
        .sortBy(e => (e.tsMs, -e.id))
      val (emit, still) = s.lefts.partition(_.tsMs <= w)
      val keyVals = key.toSeq
      val out = emit.sortBy(e => (e.tsMs, e.id)).map { l =>
        val m = finalized.takeWhile(_.tsMs <= l.tsMs).lastOption
        org.apache.spark.sql.Row.fromSeq(
          keyVals ++ Seq(l.id, m.map(e => Long.box(e.id)).orNull))
      }
      // collapse finalized rights to the single latest (min id at ties —
      // finalized order puts it last); keep only not-yet-final rights
      val latest = finalized.lastOption
      val ns = AsOfBuf(still, s.rights.filter(_.tsMs > w),
        hasFinal = latest.isDefined,
        latest.map(_.tsMs).getOrElse(0L), latest.map(_.id).getOrElse(0L))
      if (ns.lefts.isEmpty && ns.rights.isEmpty && !ns.hasFinal) st.clear()
      else st.update(ns)
      rearm(ns, w)
      out.iterator
    }
  }

  /** [[AsOfStreamProcessor]] wired over tagged left/right streams with
    * a COMPOSITE key (the streaming twin of `NativeAsOfJoin.asOfKeys`):
    * left rows enrich from rights sharing the full key vector
    * (backward, min-id tie break), emitted once the watermark passes
    * their event time. Output columns: the key columns, then
    * `event_id` and nullable `asof_event_id`. Key components are
    * assumed non-null (as the single-key form always did) — group
    * equality, not SQL null semantics, applies to the grouping key.
    */
  def asOfEnrichStreamKeys(
      lefts: DataFrame, rights: DataFrame, keys: Seq[String],
      watermark: String = "30 minutes"): DataFrame = {
    require(keys.nonEmpty, "at least one key column required")
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val l = lefts.select(keys.map(col) ++ Seq(col("ts"),
      col("event_id").as("id"), lit(1).as("side")): _*)
    val r = rights.select(keys.map(col) ++ Seq(col("ts"),
      col("event_id").as("id"), lit(0).as("side")): _*)
    val u = l.unionByName(r).withWatermark("ts", watermark)
    val keySchema = StructType(keys.map(k => u.schema(k)).toArray)
    val keyEnc = Encoders.row(keySchema)
    val outEnc = Encoders.row(StructType(keySchema.fields ++ Array(
      StructField("event_id", LongType, nullable = false),
      StructField("asof_event_id", LongType, nullable = true))))
    val keyNames = keys.toArray
    u.groupByKey((row: Row) =>
        Row.fromSeq(keyNames.toIndexedSeq.map(k => row.getAs[Any](k))))(keyEnc)
      .transformWithState(new AsOfStreamProcessor,
        TimeMode.EventTime(), OutputMode.Append())(outEnc)
  }

  /** Single-key form, kept as the keys=Seq("user_id") special case of
    * [[asOfEnrichStreamKeys]] (one implementation, both arities) with
    * the original typed output.
    */
  def asOfEnrichStream(
      lefts: DataFrame, rights: DataFrame,
      watermark: String = "30 minutes"): org.apache.spark.sql.Dataset[AsOfEnriched] = {
    implicit val outEnc = org.apache.spark.sql.Encoders.product[AsOfEnriched]
    asOfEnrichStreamKeys(lefts, rights, Seq("user_id"), watermark)
      .withColumnRenamed("asof_event_id", "asof_click_id")
      .as[AsOfEnriched]
  }

  /** Watermarked stream-stream interval join: each purchase picks up
    * the same user's clicks from the preceding `lookback` interval.
    * Both sides carry watermarks and the join condition bounds the time
    * gap, so Spark can expire buffered state on both sides — without
    * the interval bound, stream-stream join state grows forever.
    *
    * `joinType = "leftOuter"` adds the attribution-miss rows: a
    * purchase with NO click in its window emits once with null click
    * columns — but only after the CLICK watermark passes the window's
    * end, because until then the engine cannot prove the click won't
    * still arrive. That deferred null emission (vs the inner join's
    * prompt matches) is the semantic the spec pins.
    */
  def clickPurchaseJoin(
      purchases: DataFrame, clicks: DataFrame,
      lookback: String = "1 hour", watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val p = purchases
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", watermark)
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    p.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("ts") - expr(s"INTERVAL $lookback") &&
        col("click_ts") <= col("ts"),
      joinType)
      .select(col("event_id"), col("user_id"), col("value"),
        col("click_id"), col("click_ts"))
  }

  /** Streaming document-ingest admission: the batch TrainingDataDemo
    * stage-1 gates (language, quality, length, repetition) applied to a
    * stream, then exact dedup on the content fingerprint within the
    * watermark — the continuous-ingest front door of the training-data
    * pipeline. Expects a `documents`-shaped stream with an event-time
    * column `ingest_ts`.
    */
  def admitDocuments(docs: DataFrame, watermark: String = "1 hour"): DataFrame = {
    import graft.functions.TextOps
    TextOps.admissionGates(docs)
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Upsert sink: each micro-batch merges into the keyed parquet table
    * via [[graft.ops.CoreOps.upsert]] — replayed/late batches cannot
    * clobber newer state (version wins), making the sink effectively
    * idempotent under at-least-once delivery.
    *
    * SINGLE WRITER REQUIRED (inherited from `CoreOps.upsert`'s
    * stage-then-swap): while this query runs, nothing else — no second
    * streaming query, no ad-hoc batch backfill — may upsert the same
    * path. foreachBatch serializes batches within THIS query only.
    */
  def upsertEachBatch(df: DataFrame, path: String, key: String,
      version: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // watermark-advance batches are empty — skip the table rewrite
        if (!batch.isEmpty) graft.ops.CoreOps.upsert(batch, path, key, version)
    }

  /** CDC-apply sink: each micro-batch of change-feed rows
    * ([[graft.ops.ChangeFeed.diff]]'s row model — insert / delete /
    * update_preimage / update_postimage) is applied to the keyed
    * parquet table at `path` via
    * [[graft.ops.ChangeFeed.applyFeedToTable]] — the consumer side of a
    * replicated table: upstream emits feeds, this sink maintains the
    * materialization, deletes included (the case [[upsertEachBatch]]
    * cannot express). Idempotent under at-least-once delivery because
    * applying one self-consistent feed twice converges (the anti-join
    * removes a key before its incoming row re-enters). SINGLE WRITER
    * REQUIRED, inherited from the stage-then-swap.
    */
  def applyFeedEachBatch(feed: DataFrame, path: String, keys: Seq[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    feed.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          graft.ops.ChangeFeed.applyFeedToTable(batch, path, keys)
    }

  /** Exactly-once incremental-view-maintenance sink: each micro-batch
    * of BASE-TABLE change-feed rows is absorbed into the stored summary
    * as per-group deltas ([[graft.operators.SummaryTables.maintain]]) —
    * the streaming closing of the MV loop. Deltas are NOT idempotent,
    * so unlike the other foreachBatch sinks at-least-once is not enough:
    * the micro-batch id is passed as `batchId` and recorded in the
    * summary's batch ledger ([[graft.ops.CoreOps.BatchLedger]]), so a
    * replayed batch is skipped. min/max partials inherit maintain()'s
    * insert-only restriction. SINGLE WRITER REQUIRED.
    */
  def maintainSummaryEachBatch(
      feed: DataFrame, summaryPath: String, groupKeys: Seq[String],
      countCol: String, sumColsBase: Map[String, String],
      minColsBase: Map[String, String] = Map.empty,
      maxColsBase: Map[String, String] = Map.empty,
      cntColsBase: Map[String, String] = Map.empty,
      baseAfter: Option[() => DataFrame] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    // baseAfter: a THUNK re-evaluated per micro-batch (the base table's
    // current post-batch state — e.g. a fresh read of the path the CDC
    // pipeline applies the same feed to) so min/max partials survive
    // RETRACTION batches via SummaryTables.maintain's targeted group
    // repair; without it a delete/update batch against a min/max
    // summary fails loudly, exactly as in the batch API
    feed.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          graft.operators.SummaryTables.maintain(summaryPath, batch,
            groupKeys, countCol, sumColsBase, minColsBase, maxColsBase,
            batchId = Some(id), cntColsBase = cntColsBase,
            baseAfter = baseAfter.map(_()))
    }

  /** Exactly-once streaming ANN-index append: each micro-batch of new
    * vectors is assigned through the STORED quantizer (cell from the
    * stored centroids, codes from the stored codebook — never a
    * retrain) and committed by [[graft.functions.AnnIndex.appendBatch]]
    * with the micro-batch id in the postings' batch ledger
    * ([[graft.ops.CoreOps.BatchLedger]]): appends are not idempotent, so
    * at-least-once replay is absorbed by the ledger (a replayed id is a
    * no-op). This closes the ingest story: build
    * once, stream appends forever, retrain/reassign/vacuum on a cadence
    * (the quantizer-drift loop q_ann_index_drift schedules). SINGLE
    * WRITER REQUIRED, as for all index maintenance.
    */
  def annIndexAppendEachBatch(
      vectors: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      attrCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.functions.AnnIndex.appendBatch(
            batch, indexDir, id, idCol, vecCol, attrCols)
          ()
        }
    }

  /** Exactly-once streaming dup-cluster upkeep: each micro-batch of NEW
    * documents is absorbed into the persisted incremental cluster store
    * ([[graft.operators.DupClusterStore.maintainIncremental]] — exact
    * n-gram Jaccard against the STORED distinct-text shingle index,
    * connectivity re-closure over star-compressed stored components,
    * spec-pinned bit-equal to a full rebuild), committed with the
    * micro-batch id in the store's batch ledger
    * ([[graft.ops.CoreOps.BatchLedger]]). The dedup-at-ingest closing of
    * the cluster-once story: the corpus is never re-scanned, per-batch
    * work is batch-proportional, and at-least-once replay is absorbed by
    * the ledger. Ingest contract (the relaxed r19 form maintainIncremental
    * enforces): fresh texts may arrive at ANY id and re-inserted ids
    * are refused (updates retract first); the one unstable case — a
    * JOINER of an existing exact-dup group arriving below that group's
    * stored minimum id, which would rename the group store-wide — fails
    * the query loudly rather than renaming. SINGLE WRITER REQUIRED.
    */
  def dupClustersMaintainEachBatch(
      docs: DataFrame, storeRoot: String,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.operators.DupClusterStore.maintainIncremental(
            batch.sparkSession, batch.toDF(), storeRoot, id, idCol, textCol)
          ()
        }
    }

  /** The CDC twin of [[dupClustersMaintainEachBatch]]: each micro-batch
    * is a CHANGE FEED over the document table (insert / delete /
    * update_preimage / update_postimage), applied to the incremental
    * cluster store retractions-first so updates move documents between
    * clusters exactly as a rebuild would
    * ([[graft.operators.DupClusterStore.applyFeedIncremental]] — each
    * phase one atomic ledgered swap on the doubled sub-sequence).
    * SINGLE WRITER REQUIRED; a store driven through this sink must not
    * also receive direct maintain/retract calls.
    */
  def dupClustersApplyFeedEachBatch(
      feed: DataFrame, storeRoot: String,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    feed.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          graft.operators.DupClusterStore.applyFeedIncremental(
            batch.sparkSession, batch.toDF(), storeRoot, id, idCol, textCol)
    }

  /** Streaming append through the DSv2 staging sink
    * ([[graft.sources.StagedSink]]): each micro-batch lands via the
    * full staging → winning-attempt commit → atomic manifest swap
    * protocol, so a concurrent [[graft.sources.StagedSink.readCommitted]]
    * reader sees every batch boundary atomically — never a partially
    * visible batch. Append semantics: NOT idempotent under replay
    * (a re-delivered batch re-appends); pair with [[upsertEachBatch]]
    * when at-least-once delivery must dedup by key.
    */
  def stagedAppendEachBatch(df: DataFrame,
      path: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          batch.write.format("graft.sources.StagedSink")
            .option("path", path).mode("append").save()
    }

  /** Truncate-and-load sink semantics (reference db.py:23-38) for a
    * streaming query: each micro-batch overwrites the target path —
    * idempotent under replays because the write is a full snapshot.
    */
  def truncateLoadEachBatch(df: DataFrame, path: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.outputMode("complete").foreachBatch {
      (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(path)
    }

  /** Incremental connected components — the streaming twin of
    * [[graft.operators.GraphOps.connectedComponents]], maintaining a
    * persistent (id, comp) assignment as similarity edges arrive
    * (duplicate-cluster upkeep for a live ingest pipeline).
    *
    * Per micro-batch, the classic star-compression recurrence:
    *   1. The persisted assignment is re-read as STAR EDGES (id → comp):
    *      one edge per vertex, the transitive history compressed to
    *      depth 1 — so batch CC over (stars ∪ delta) converges in O(1)
    *      rounds regardless of how many batches built the components.
    *   2. ACTIVE-SET PRUNING makes the recompute incremental: only
    *      components actually TOUCHED by a delta endpoint participate
    *      (state ⋉ delta-vertices → touched comps → their members);
    *      untouched rows pass through unchanged. Per-batch CC cost is
    *      O(|delta| + |touched components|), independent of total state
    *      size — the property that keeps a year-old corpus's cluster
    *      table maintainable from a stream.
    *   3. A delta endpoint with no surviving partner (self-loop "vertex
    *      registration", e.g. a new doc with zero dup candidates) is
    *      anti-joined back in as its own singleton component.
    *   4. The new assignment lands through [[graft.sources.StagedSink]]'s
    *      atomic manifest swap, so a concurrent reader flips between
    *      complete generations (never a half-merged view), and the
    *      sink's one-generation retention lets an in-flight scan finish
    *      across the overwrite. (A cluster deployment would swap the
    *      overwrite for a keyed MERGE into a real table format so the
    *      WRITE is also touched-rows-only; compute already is.)
    *
    * Labels are component minima, so they are stable across batches and
    * merges are monotone (a merge can only lower a vertex's label —
    * replays of the same edge batch are idempotent).
    *
    * Input: a streaming DataFrame whose first two columns are edge
    * endpoints (LongType). Self-loops register a vertex without
    * connecting it.
    */
  def incrementalCC(edges: DataFrame,
      statePath: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    edges.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) incrementalCCStep(batch.toDF(), statePath)
    }

  /** One incremental-CC batch: fold `delta` (first two columns = edge
    * endpoints) into the persisted assignment at `statePath`. Exposed
    * separately from the streaming wrapper so the batch-equivalence
    * property (N-step incremental == one-shot batch CC over all edges)
    * is testable without streaming machinery — and so a backfill job
    * can drive the same step directly.
    */
  def incrementalCCStep(batch: DataFrame, statePath: String): Unit = {
    val sp = batch.sparkSession
    val Seq(uc, vc) = batch.columns.take(2).toSeq
    val delta = batch.select(col(uc).cast(LongType).as("u"),
      col(vc).cast(LongType).as("v")).localCheckpoint()
    val hasState = java.nio.file.Files.exists(
      java.nio.file.Paths.get(statePath, "_MANIFEST.json"))
    val state =
      if (hasState) graft.sources.StagedSink.readCommitted(sp, statePath)
        .select(col("id").cast(LongType), col("comp").cast(LongType))
        .localCheckpoint()
      else sp.createDataFrame(sp.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id", LongType), StructField("comp", LongType))))
    val deltaVerts = delta.select(col("u").as("id"))
      .union(delta.select(col("v").as("id"))).distinct()
    // touched comps = comps owning any delta endpoint; their FULL
    // membership must participate (a merge relabels all of it)
    val touched = state.join(deltaVerts, Seq("id"), "left_semi")
      .select(col("comp")).distinct()
    val active = state.join(broadcast(touched), Seq("comp"), "left_semi")
    val stars = active.select(col("id").as("u"), col("comp").as("v"))
    val cc = graft.operators.GraphOps.connectedComponents(
      delta.unionByName(stars))
    // vertices seen only as self-loops (or already-canonical
    // singletons in the active set) have no non-self edge: CC
    // never emits them — re-add as their own component
    val singletons = deltaVerts
      .union(active.select(col("id")))
      .distinct()
      .join(cc, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    val untouchedRows = state.join(broadcast(touched), Seq("comp"), "left_anti")
      .select(col("id"), col("comp"))
    cc.select(col("id"), col("comp"))
      .unionByName(singletons)
      .unionByName(untouchedRows)
      .write.format("graft.sources.StagedSink")
      .option("path", statePath).mode("overwrite").save()
  }

  /** Streaming twin of q_interval_coverage: per-key union-of-intervals
    * maintained incrementally. One ValueState per key holds the MERGED
    * disjoint islands (flattened sorted [s1,e1,s2,e2,...] day numbers);
    * each micro-batch folds its intervals in via [[mergeIntervals]] and
    * emits the key's refreshed (n_islands, covered_days) summary
    * (Update-mode semantics, like the batch query re-run per batch).
    *
    * Why this is exactly equivalent to the batch sweep for ANY split of
    * the stream: islands are the overlap-connected components' hulls,
    * and such hulls are GAPLESS (chain-overlapping intervals leave no
    * hole), so a later interval overlaps a stored hull iff it overlaps
    * some original member — folding against hulls merges exactly what
    * one shot over all intervals would (PropertySpec pins this on
    * random splits; the merge rule is overlap-or-same-day-touch,
    * s <= prev end, identical to the batch query's st > prevMax island
    * flag — day-ADJACENT intervals stay separate islands in both).
    * State per key is O(disjoint islands) — overlapping arrivals
    * compact away — bounded by the key's date-domain span, not its
    * interval count.
    */
  case class IntervalIn(key: Long, st: Long, en: Long)
  case class IslandState(spans: Array[Long])
  case class CoverageOut(key: Long, n_islands: Long, covered_days: Long)

  /** Pure merge step: existing flattened islands + a batch of intervals
    * -> new flattened islands. Sort by start, sweep, merge on
    * overlap-or-touch (s <= current end — the batch query's island
    * rule). Exposed for the batch-equivalence property and backfills.
    */
  def mergeIntervals(spans: Array[Long], incoming: Seq[(Long, Long)]): Array[Long] = {
    val all = (spans.grouped(2).map(a => (a(0), a(1))) ++ incoming.iterator)
      .toArray
    java.util.Arrays.sort(all, Ordering.Tuple2[Long, Long])
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    all.foreach { case (s, e) =>
      if (out.nonEmpty && s <= out(out.size - 1))
        out(out.size - 1) = math.max(out(out.size - 1), e)
      else { out += s; out += e }
    }
    out.toArray
  }

  class IntervalMergeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, IntervalIn, CoverageOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var islands: org.apache.spark.sql.streaming.ValueState[IslandState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      islands = getHandle.getValueState[IslandState]("islands",
        org.apache.spark.sql.Encoders.product[IslandState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[IntervalIn],
        timerValues: TimerValues): Iterator[CoverageOut] = {
      val prev = if (islands.exists()) islands.get().spans else Array.empty[Long]
      val merged = mergeIntervals(prev, rows.map(r => (r.st, r.en)).toSeq)
      islands.update(IslandState(merged))
      val covered = merged.grouped(2).map(a => a(1) - a(0) + 1).sum
      Iterator.single(CoverageOut(key, merged.length / 2, covered))
    }
  }

  def intervalCoverageStream(
      intervals: org.apache.spark.sql.Dataset[IntervalIn]): org.apache.spark.sql.Dataset[CoverageOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.Encoders
    implicit val outEnc = Encoders.product[CoverageOut]
    implicit val longEnc = Encoders.scalaLong
    intervals
      .groupByKey(_.key)(longEnc)
      .transformWithState(new IntervalMergeProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}

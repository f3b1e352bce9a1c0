package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.ContentTag
import graft.plans.SummaryRewrite
import graft.plans.SummaryRewrite.SummarySpec

/** The materialized-view fixture for [[graft.plans.SummaryRewrite]]: a
  * write-once orders rollup keyed (o_orderpriority, o_orderstatus) with
  * exact-derivable partials — count, min/max price, and a LongType sum
  * partial — built under a [[graft.ops.ContentTag]] identity (a base
  * rewrite mints a new tag, building AND registering a fresh summary,
  * so the rewrite can never serve stale bytes in-process: freshness is
  * the registrar's contract, made content-addressed here).
  *
  * At 100 TB this is the pattern's whole point: the summary is
  * |priority × status|-sized (dozens of rows), so every rewritten
  * aggregate answers from a constant-size scan instead of the fact
  * corpus.
  */
object SummaryTables {

  /** The exact-cents expression (this engine's decimal-exact idiom) —
    * ONE definition shared by the summary build, the registration text,
    * and the consuming queries, so the name-canonical expression match
    * can never drift from the stored partial.
    */
  val CentsExprSql = "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)"

  /** The orders rollup every fixture here stores: count, min/max price,
    * the order-key sum and its non-null count, then `extra` partials.
    */
  private def rollup(orders: DataFrame, keys: Seq[String],
      extra: org.apache.spark.sql.Column*): DataFrame =
    orders.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"), Seq(
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        sum(col("o_orderkey")).as("sum_okey"),
        count(col("o_orderkey")).as("cnt_okey")) ++ extra: _*)

  /** The registration literal describing a [[rollup]] stored at `path`. */
  private def spec(path: String, keys: Seq[String], tag: String): SummarySpec =
    SummarySpec(
      summaryPath = path,
      keys = keys,
      countCol = "cnt",
      minCols = Map("o_totalprice" -> "min_price"),
      maxCols = Map("o_totalprice" -> "max_price"),
      sumCols = Map("o_orderkey" -> "sum_okey"),
      cntCols = Map("o_orderkey" -> "cnt_okey"),
      baseTag = tag)

  private val FineKeys = Seq("o_orderpriority", "o_orderstatus")

  /** [[ContentTag.buildOnce]] for a registered fixture: a rebuild first
    * drops the registrations serving from the root it clears.
    */
  private def buildRegistered(name: String, tag: String)(
      build: String => Unit): String =
    ContentTag.buildOnce(name, tag) { root =>
      SummaryRewrite.dropUnder(root)
      build(root)
    }

  /** Register `spec` unless an equal spec already is — fixtures re-bind
    * on every call, and a repeat [[SummaryRewrite.register]] reads the
    * base and summary schemas again.
    */
  private def bind(srcPath: String, spec: SummarySpec): Unit =
    if (!SummaryRewrite.holds(spec)) SummaryRewrite.register(srcPath, spec)

  /** Idempotently build + register the orders summary for `dir`'s
    * current contents; returns the summary path. The path carries a
    * schema version ("v3": + cnt_okey, the avg/count(x) denominator,
    * + sum_cents, the expression partial) so a process inheriting an
    * older on-disk summary rebuilds instead of failing register()'s
    * schema validation.
    */
  def ensure(s: SparkSession, dir: String): String = {
    val tag = ContentTag.of(dir, Seq("orders"))
    val root = buildRegistered("graft_summary/v3", tag) { root =>
      rollup(Tables(s, dir, "orders"), FineKeys, sum(expr(CentsExprSql)).as("sum_cents"))
        .coalesce(1).write.mode("overwrite").parquet(root)
      invalidateValidated(root)
    }
    // tag-keyed with the summary itself: same call both builds and binds
    bind(s"$dir/orders.parquet", fineSpec(root, tag))
    root
  }

  /** The star-schema companion: an orders summary keyed on the customer
    * FOREIGN KEY, so `Aggregate(orders ⋈ customer)` queries rewrite to
    * `Aggregate(summary ⋈ customer)` (see SummaryRewrite's join shape).
    * At 100 TB the rewritten join is |custkeys| × dim instead of the
    * fact corpus × dim, and the summary side broadcasts. Registered
    * ALONGSIDE [[ensure]]'s (priority, status) summary — the rewrite
    * tries candidates per base table in registration order.
    */
  def ensureCust(s: SparkSession, dir: String): String = {
    val tag = ContentTag.of(dir, Seq("orders"))
    val root = buildRegistered("graft_summary_cust/v1", tag) { root =>
      rollup(Tables(s, dir, "orders"), Seq("o_custkey"))
        .coalesce(1).write.mode("overwrite").parquet(root)
      invalidateValidated(root)
    }
    bind(s"$dir/orders.parquet", spec(root, Seq("o_custkey"), tag))
    root
  }

  /** Summary-over-summary (r19): the COARSE (priority)-keyed summary is
    * DERIVED FROM the registered finer (priority, status) summary's
    * partials — count from summed counts, min/max from per-key min/max,
    * integral sums (incl. the cents expression partial) from summed
    * partials — never from the base. This is the derivation edge the
    * warehouse ladder needs at 100 TB: building the coarser rollup reads
    * |finer keys| rows, not the fact corpus. Registered alongside the
    * finer summary; the rewrite's cost ordering (stored bytes) then
    * picks THIS one for GROUP BY o_orderpriority queries — the smallest
    * derivable candidate — while (priority, status) queries keep the
    * finer one. Exactness is inherited: every coarse partial is an
    * exact re-aggregation of exact partials (the same argument the
    * query-time rollup rewrite already relies on, here applied at
    * BUILD time and persisted).
    */
  def ensureCoarse(s: SparkSession, dir: String): String = {
    // ensure() builds + registers the finer summary
    val fine = fineSpec(ensure(s, dir), ContentTag.of(dir, Seq("orders")))
    val keys = Seq("o_orderpriority")
    val root = buildRegistered("graft_summary_coarse/v1", fine.baseTag) { root =>
      deriveCoarse(s, fine, keys, root)
    }
    bind(s"$dir/orders.parquet", fine.copy(summaryPath = root, keys = keys))
    root
  }

  /** The v3 fixture's spec — THE registration literal for [[ensure]]
    * and the derivation input for [[ensureCoarse]]/[[deriveCoarse]]
    * callers: one definition, so build and derivation cannot drift.
    */
  private def fineSpec(root: String, tag: String): SummarySpec =
    spec(root, FineKeys, tag).copy(sumExprs = Map(CentsExprSql -> "sum_cents"))

  /** GENERIC summary-over-summary derivation — the library API behind
    * [[ensureCoarse]]: roll a finer summary's stored partials up to
    * `coarseKeys` and return the coarse spec (same base columns, same
    * partial names, coarser keys), ready to register against the SAME
    * base table. Exact by the partial-aggregation argument: count and
    * (integral) sum partials re-sum, non-null-count partials re-sum,
    * min/max partials re-min/max, expression partials re-sum — every
    * coarse partial is an exact re-aggregation of exact partials, the
    * identical latitude the query-time rollup rewrite already exercises,
    * applied once at BUILD time and persisted. At 100 TB the whole
    * derivation ladder above the first summary reads |finer keys| rows
    * per rung; the fact corpus is scanned exactly once, at the bottom.
    * Every call (over)writes `outPath` and invalidates its
    * schema-validation cache; reuse across calls is the caller's
    * (ensureCoarse derives under [[graft.ops.ContentTag.buildOnce]]).
    */
  def deriveCoarse(
      s: SparkSession, fine: SummarySpec, coarseKeys: Seq[String],
      outPath: String): SummarySpec = {
    val fineKeysLc = fine.keys.map(_.toLowerCase).toSet
    require(coarseKeys.nonEmpty &&
      coarseKeys.forall(k => fineKeysLc(k.toLowerCase)),
      s"SummaryTables.deriveCoarse($outPath): coarse keys " +
        s"${coarseKeys.mkString(", ")} must be a non-empty subset of the " +
        s"finer summary's keys ${fine.keys.mkString(", ")}")
    val aggs: Seq[org.apache.spark.sql.Column] =
      Seq(sum(col(fine.countCol)).as(fine.countCol)) ++
        fine.minCols.values.map(p => min(col(p)).as(p)) ++
        fine.maxCols.values.map(p => max(col(p)).as(p)) ++
        (fine.sumCols.values ++ fine.cntCols.values ++
          fine.sumExprs.values).map(p => sum(col(p)).as(p))
    s.read.parquet(fine.summaryPath)
      .groupBy(coarseKeys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1).write.mode("overwrite").parquet(outPath)
    invalidateValidated(outPath)
    fine.copy(summaryPath = outPath, keys = coarseKeys)
  }

  /** The UNION ALL fact shape's fixture (r19): orders split hot/cold on
    * o_orderdate (the warehouse's recent/archive partition), each half
    * persisted as its OWN base table with its OWN (priority, status)
    * summary registered against it. A query reading the fact as
    * `cold UNION ALL hot` then rewrites branch-per-branch
    * (SummaryRewrite.rewriteUnion) onto two keys-sized summary scans.
    * Returns (coldPath, hotPath).
    */
  def ensureSplit(s: SparkSession, dir: String): (String, String) = {
    val tag = ContentTag.of(dir, Seq("orders"))
    val cut = lit("1996-01-01")
    val halves = Seq("cold" -> (col("o_orderdate") < cut),
      "hot" -> (col("o_orderdate") >= cut))
    val base = buildRegistered("graft_orders_split/v1", tag) { base =>
      val orders = Tables(s, dir, "orders")
      halves.foreach { case (half, keep) =>
        orders.filter(keep).write.mode("overwrite").parquet(s"$base/$half.parquet")
        rollup(s.read.parquet(s"$base/$half.parquet"), FineKeys)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/summary_$half")
        invalidateValidated(s"$base/summary_$half")
      }
    }
    halves.foreach { case (half, _) =>
      bind(s"$base/$half.parquet", spec(s"$base/summary_$half", FineKeys, tag))
    }
    (s"$base/cold.parquet", s"$base/hot.parquet")
  }

  /** The IVM-freshness fixture: a (priority, status) orders summary
    * built from the PRE-1996 half of the table, then brought up to date
    * by [[maintain]] absorbing the post-cut rows as an insert feed —
    * every partial in the returned table (count, non-null count,
    * integral sum, min, max) flowed through the incremental merge, not
    * a rebuild. q_mv_ivm re-aggregates it under the BASE-table DuckDB
    * oracle, so a wrong delta in any partial flips the hash. This is
    * the 100 TB freshness loop: the corpus is scanned once at bootstrap
    * and once for the feed window; queries afterwards touch only the
    * keys-sized summary.
    */
  def ensureIvm(s: SparkSession, dir: String): String =
    // v2: + a RETRACTION batch — batch 1 inserts the post-cut rows plus
    // synthetic below-market rows that become every touched group's
    // MINIMUM; batch 2 deletes them, exercising maintain()'s targeted
    // min/max repair (the non-self-maintainable case: without the
    // repair the old minimum would stick at the synthetic price and the
    // base-table oracle would flip the hash). The final state equals
    // the full orders rollup, so q_mv_ivm's oracle is untouched.
    ContentTag.buildOnce("graft_summary_ivm/v2", ContentTag.of(dir, Seq("orders"))) { root =>
      val cut = "1996-01-01"
      val orders = Tables(s, dir, "orders")
      rollup(orders.filter(col("o_orderdate") < lit(cut)), FineKeys)
        .coalesce(1).write.mode("overwrite").parquet(root)
      invalidateValidated(root)
      val feedCols = Seq(col("o_orderpriority"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderkey"))
      // deterministic synthetic rows: one per (priority, status) seen
      // after the cut, priced below every real order
      val synth = orders.filter(col("o_orderdate") >= lit(cut))
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(min(col("o_orderkey")).as("o_orderkey"))
        .withColumn("o_totalprice", lit(-1.0))
        .select(feedCols: _*)
        .localCheckpoint()
      val insertFeed = orders.filter(col("o_orderdate") >= lit(cut))
        .select(feedCols: _*)
        .unionByName(synth)
        .select(lit("insert").as("change_type") +: feedCols: _*)
      maintain(root, insertFeed, FineKeys,
        countCol = "cnt",
        sumColsBase = Map("o_orderkey" -> "sum_okey"),
        minColsBase = Map("o_totalprice" -> "min_price"),
        maxColsBase = Map("o_totalprice" -> "max_price"),
        cntColsBase = Map("o_orderkey" -> "cnt_okey"),
        batchId = Some(1L))
      val deleteFeed = synth
        .select(lit("delete").as("change_type") +: feedCols: _*)
      maintain(root, deleteFeed, FineKeys,
        countCol = "cnt",
        sumColsBase = Map("o_orderkey" -> "sum_okey"),
        minColsBase = Map("o_totalprice" -> "min_price"),
        maxColsBase = Map("o_totalprice" -> "max_price"),
        cntColsBase = Map("o_orderkey" -> "cnt_okey"),
        batchId = Some(2L),
        // post-batch-2 base = the full orders table (the synthetics are
        // gone): the repair recomputes the deleted minima from it
        baseAfter = Some(orders))
    }

  /** Name of the applied-batch ledger sidecar (see `batchId` below). */
  private[graft] val BatchLedger = "_GRAFT_LAST_BATCH"

  /** (summaryPath, maintainable column set) pairs whose stored schema
    * already validated — maintain()'s fail-fast footer read runs once
    * per pair, not per micro-batch. maintain()'s own staged swaps
    * preserve the column set, so its commits don't invalidate; any
    * REBUILD of the path (a new schema version, a new expression
    * partial) must call [[invalidateValidated]] or the stale entry
    * would bypass the fail-fast and let the next maintain() silently
    * rewrite the summary without the new column — every in-process
    * rebuild site in this object does.
    */
  private val validatedSchemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Set[String]), java.lang.Boolean]()

  /** Drop every cached schema validation for `path` — REQUIRED after
    * any write to the path that is not maintain()'s own column-
    * preserving swap (i.e. any rebuild).
    */
  private[graft] def invalidateValidated(path: String): Unit =
    validatedSchemas.keySet.removeIf(_._1 == path)

  /** Last batch id applied to the summary at `path`, or -1 (fresh
    * summaries, incl. plain-rollup bootstraps, have no ledger).
    */
  private def lastAppliedBatch(spark: SparkSession, path: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = new org.apache.hadoop.fs.Path(path, BatchLedger)
    if (!fs.exists(f)) -1L
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    }
  }

  /** Incrementally maintain a stored summary from a CDC feed of BASE
    * TABLE rows ([[graft.ops.ChangeFeed.diff]]'s row model over the base
    * table, keyed by ITS primary key) — the IVM closing of the MV loop:
    * base changes flow as a feed, the summary absorbs them as per-group
    * deltas, and rewritten queries keep answering exactly, all without
    * re-scanning the 100 TB base.
    *
    * Self-maintainability is taken seriously (the textbook split):
    * count and sum partials absorb ANY feed (inserts count +1 / sums
    * +v, deletes −1 / −v, updates both); min/max partials are NOT
    * self-maintainable under retractions (a deleted minimum needs a
    * group re-scan). A feed carrying delete/update rows is therefore
    * REFUSED when min/max partials exist — UNLESS the caller supplies
    * `baseAfter` (the base table's state AFTER this batch), in which
    * case the retraction is absorbed by a TARGETED REPAIR: only the
    * groups the feed retracted from are re-scanned (a null-safe
    * semi-join of the base against the retracted key set — at 100 TB a
    * partition-prunable keyed probe, not a corpus scan), their min/max
    * recomputed exactly while every other group (and every count/sum
    * partial everywhere) flows through the incremental delta path.
    * Groups whose maintained count reaches 0
    * are dropped, matching a rebuild exactly (spec-pinned bit-equal).
    * NULL handling: group keys merge null-safely (all-NULL keys are one
    * group, like groupBy), and a sum partial stays NULL until a non-null
    * value arrives (null-iff-both-null merge, matching SQL SUM). One
    * documented residue: with a NULLABLE sum column and NO paired
    * cntColsBase entry, a retraction that removes a group's LAST
    * non-null value yields 0 where a rebuild yields NULL — sum's
    * nullness is not self-maintainable from (count, sum) alone. Pairing
    * the column in cntColsBase CLOSES the residue: the maintained
    * count(x) reaching 0 restores NULL (spec-pinned).
    * The rewrite goes through [[graft.ops.CoreOps]]'s stage-then-swap,
    * single writer required.
    *
    * @param groupKeys the SUMMARY's grouping columns (as stored)
    * @param sumColsBase base column name → stored sum-partial column
    * @param cntColsBase base column name → stored NON-NULL-count partial
    *                    (count(x) / avg denominators) — maintained like
    *                    the count partial but signed only when the base
    *                    value is non-null
    * @param baseAfter  the base table AFTER this batch applied — enables
    *                   min/max maintenance under retractions via the
    *                   targeted group repair described above. The caller
    *                   owns the "after" contract (hand the same frame
    *                   that the feed was diffed INTO).
    */
  def maintain(
      summaryPath: String, feed: DataFrame, groupKeys: Seq[String],
      countCol: String, sumColsBase: Map[String, String],
      minColsBase: Map[String, String] = Map.empty,
      maxColsBase: Map[String, String] = Map.empty,
      batchId: Option[Long] = None,
      cntColsBase: Map[String, String] = Map.empty,
      baseAfter: Option[DataFrame] = None): Unit = {
    val spark = feed.sparkSession
    // recovery FIRST: a crash between the swap's two renames leaves the
    // target (and its ledger) missing with a complete staging — reading
    // the ledger before recovering would see -1 and re-apply the very
    // batch the staged table already contains
    graft.ops.CoreOps.recoverSwap(spark, summaryPath, "SummaryTables.maintain")
    // the stored summary must carry EXACTLY the columns this call can
    // maintain (keys + count + the given partials): a summary with an
    // extra partial (e.g. a sum-of-expression column no feed row can
    // update) would otherwise be silently REWRITTEN WITHOUT it — the
    // loss surfacing only later as a register() schema failure on a
    // path that skips rebuild because its build marker exists. Fail fast
    // here instead, naming the drift. (Schema-only read — no data
    // pages; runs after recovery so the footer it reads is the
    // recovered table's. Cached per (path, maintainable set): our own
    // swaps preserve the column set, and the staged-swap protocol is
    // single-writer, so one footer read validates every later batch —
    // the streaming sink stays one Spark job per micro-batch.)
    val maintainable =
      (groupKeys ++ Seq(countCol) ++ sumColsBase.values ++
        cntColsBase.values ++ minColsBase.values ++ maxColsBase.values)
        .map(_.toLowerCase).toSet
    if (!validatedSchemas.contains((summaryPath, maintainable))) {
      val storedCols = spark.read.parquet(summaryPath)
        .schema.fieldNames.map(_.toLowerCase).toSet
      val extraStored = storedCols -- maintainable
      val missingStored = maintainable -- storedCols
      require(extraStored.isEmpty && missingStored.isEmpty,
        s"SummaryTables.maintain($summaryPath): stored summary columns " +
          s"do not match the maintainable set — " +
          (if (extraStored.nonEmpty)
            s"stored column(s) ${extraStored.mkString(", ")} have no " +
              "partial spec in this call (maintaining would silently drop " +
              "them); " else "") +
          (if (missingStored.nonEmpty)
            s"spec column(s) ${missingStored.mkString(", ")} are not in " +
              "the stored summary; " else "") +
          "rebuild the summary or pass the full partial maps")
      validatedSchemas.put((summaryPath, maintainable), java.lang.Boolean.TRUE)
    }
    // exactly-once under replayed feeds (the streaming sink's contract):
    // deltas are NOT idempotent, so a caller supplying a monotonically
    // increasing batchId gets dedup — an already-applied id is a no-op,
    // and the new id is written as a sidecar INSIDE the staged swap, so
    // ledger and data become visible atomically together (a crash
    // between "applied" and "recorded" cannot exist)
    val lastApplied = lastAppliedBatch(spark, summaryPath)
    if (batchId.exists(_ <= lastApplied)) return
    // a ledgerless maintain on a ledgered summary must CARRY the ledger
    // forward (losing it would re-admit an already-applied batch id)
    val ledgerEntry: Map[String, String] = batchId match {
      case Some(id) => Map(BatchLedger -> id.toString)
      case None if lastApplied >= 0 => Map(BatchLedger -> lastApplied.toString)
      case None => Map.empty
    }
    // the retraction probe is a feed scan — only pay it when min/max
    // partials make the answer matter (the count/sum-only streaming hot
    // path skips one Spark job per micro-batch). With `baseAfter`
    // supplied the probe instead DRIVES the targeted repair: the
    // retracted groups' min/max are recomputed from the post-batch
    // base, everything else stays incremental.
    val retractionKinds = Seq("delete", "update_preimage", "update_postimage")
    val repairKeys: Option[DataFrame] =
      if (minColsBase.isEmpty && maxColsBase.isEmpty) None
      else {
        // update_postimage is probed too: a well-formed update carries
        // the preimage twin anyway, so including it costs nothing — and
        // a MALFORMED feed of unpaired postimages fails loudly (no
        // baseAfter) or is repaired from the base itself (baseAfter).
        // (For count/sum-only summaries, pre/postimage pairing is the
        // caller's feed contract, like applyFeedToTable's compaction
        // requirement — an unpaired postimage is indistinguishable from
        // an insert.)
        val retracted = feed
          .filter(col("change_type").isin(retractionKinds: _*))
          .select(groupKeys.map(col): _*).distinct()
        if (retracted.isEmpty) None
        else baseAfter match {
          case None =>
            throw new IllegalArgumentException(
              s"SummaryTables.maintain($summaryPath): the feed carries " +
                "deletes/updates but the summary stores min/max partials, " +
                "which are not self-maintainable under retractions (a " +
                "deleted minimum needs a group re-scan) — pass baseAfter " +
                "for a targeted repair of the retracted groups, rebuild " +
                "the summary, or maintain one with count/sum partials only")
          case Some(_) => Some(retracted.localCheckpoint())
        }
      }
    // targeted repair frame: exact min/max per RETRACTED group from the
    // post-batch base — a keyed semi-join (null-safe, matching groupBy's
    // null handling), not a corpus scan; groups retracted to emptiness
    // simply produce no row (their maintained count reaches 0 and the
    // group is dropped below, like a rebuild)
    val repairs: Option[DataFrame] = repairKeys.map { rk =>
      val base = baseAfter.get
      val cond = groupKeys.map(k => base(k) <=> rk(k)).reduce(_ && _)
      val repairAggs =
        (minColsBase.map { case (b, p) => min(col(b)).as(s"__r_$p") } ++
          maxColsBase.map { case (b, p) => max(col(b)).as(s"__r_$p") }).toSeq
      base.join(rk, cond, "left_semi")
        .groupBy(groupKeys.map(col): _*)
        .agg(repairAggs.head, repairAggs.tail: _*)
        .withColumn("__r_hit", lit(true))
    }
    val sign = when(
      col("change_type").isin("insert", "update_postimage"), lit(1L))
      .otherwise(lit(-1L))
    val deltaAggs =
      Seq(sum(sign).as(s"__d_$countCol")) ++
        sumColsBase.map { case (b, p) =>
          sum(sign * col(b)).as(s"__d_$p") } ++
        // non-null-count partials: signed like the count, but only when
        // the base value is present (count(x) semantics)
        cntColsBase.map { case (b, p) =>
          sum(when(col(b).isNotNull, sign).otherwise(lit(0L)))
            .as(s"__d_$p") } ++
        minColsBase.map { case (b, p) => min(col(b)).as(s"__d_$p") } ++
        maxColsBase.map { case (b, p) => max(col(b)).as(s"__d_$p") }
    val deltas = feed.groupBy(groupKeys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    graft.ops.CoreOps.swapCore(spark, summaryPath,
        "SummaryTables.maintain",
        extraStagedFiles = ledgerEntry) { old =>
      // NULL-SAFE key join: groupBy puts all NULL keys in ONE group, so
      // the merge must too — a using-columns join would leave the stored
      // NULL-group row unmatched (stale) next to a delta-only row
      val o = old.alias("o")
      val d = deltas.alias("d")
      val cond = groupKeys.map(k => col(s"o.$k") <=> col(s"d.$k"))
        .reduce(_ && _)
      val merged = o.join(d, cond, "full_outer")
      // repaired groups override their min/max below; the LEFT join
      // leaves every non-retracted group on the incremental path
      val joined = repairs match {
        case None => merged
        case Some(r) =>
          val rr = r.alias("r")
          val rCond = groupKeys.map(k =>
            coalesce(col(s"o.$k"), col(s"d.$k")) <=> col(s"r.$k"))
            .reduce(_ && _)
          merged.join(rr, rCond, "left")
      }
      def keyOut(k: String) =
        coalesce(col(s"o.$k"), col(s"d.$k")).as(k)
      // count is never null on either present side; sums merge
      // null-iff-both-null (SQL SUM semantics). A sum column PAIRED
      // with a non-null-count partial (cntColsBase) also restores NULL
      // when the maintained count(x) reaches 0 — closing the documented
      // residue where retracting a group's last non-null value left 0
      // instead of a rebuild's NULL; unpaired nullable sums keep the
      // residue (see the scaladoc note).
      def mergedCount(partial: String) =
        coalesce(col(s"o.$partial"), lit(0L)) +
          coalesce(col(s"d.__d_$partial"), lit(0L))
      def updCount(partial: String) = mergedCount(partial).as(partial)
      def updSum(b: String, partial: String) = {
        val merged =
          when(col(s"o.$partial").isNull && col(s"d.__d_$partial").isNull,
            lit(null))
            .otherwise(coalesce(col(s"o.$partial"), lit(0L)) +
              coalesce(col(s"d.__d_$partial"), lit(0L)))
        (cntColsBase.get(b) match {
          case Some(cp) => when(mergedCount(cp) === 0L, lit(null))
            .otherwise(merged)
          case None => merged
        }).as(partial)
      }
      val cols =
        groupKeys.map(keyOut) ++
          Seq(updCount(countCol)) ++
          cntColsBase.values.map(updCount) ++
          sumColsBase.map { case (b, p) => updSum(b, p) } ++
          // least/greatest skip nulls: a group new to the feed keeps its
          // stored extreme, a brand-new group takes the feed's. A
          // RETRACTED group instead takes its repaired exact extreme
          // (the feed's delta min/max would mix deleted values in) —
          // __r_hit is null for every non-retracted group, so the
          // incremental branch stays theirs.
          minColsBase.values.map(p => (repairs match {
            case None => least(col(s"o.$p"), col(s"d.__d_$p"))
            case Some(_) => when(col("r.__r_hit"), col(s"r.__r_$p"))
              .otherwise(least(col(s"o.$p"), col(s"d.__d_$p")))
          }).as(p)) ++
          maxColsBase.values.map(p => (repairs match {
            case None => greatest(col(s"o.$p"), col(s"d.__d_$p"))
            case Some(_) => when(col("r.__r_hit"), col(s"r.__r_$p"))
              .otherwise(greatest(col(s"o.$p"), col(s"d.__d_$p")))
          }).as(p))
      // a group maintained down to zero rows vanishes, like a rebuild
      joined.select(cols: _*)
        .filter(col(countCol) > 0)
    }
    // a registration of this path holds the file listing the swap just
    // deleted: drop it, so the next ensure() binds the new files
    SummaryRewrite.dropUnder(summaryPath)
  }
}

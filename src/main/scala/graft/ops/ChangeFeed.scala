package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed change-data-capture diff between two snapshots of a table —
  * the change-feed read every incremental training-data pipeline needs
  * ("which documents appeared / vanished / changed since the last
  * snapshot?") without the upstream system having to EMIT a changelog.
  *
  * Semantics follow the de-facto CDC row model (Debezium / Delta CDF):
  * each changed key yields
  *   - `insert`            — key only in `cur` (row carries post values)
  *   - `delete`            — key only in `prev` (row carries pre values)
  *   - `update_preimage` + `update_postimage` — key in both with any
  *     value column differing (two rows, pre and post)
  * and unchanged keys yield nothing.
  *
  * Scale shape: ONE hash-partitioned full-outer join on the key columns
  * — both snapshots shuffle once on the key (or zero times if they are
  * bucketed/co-partitioned on it; the join inherits any existing
  * layout), value comparison is a null-safe struct equality inside the
  * join's project, and the update-row fan-out is a narrow explode. No
  * window, no driver-side state, nothing proportional to the CHANGE
  * count held in memory.
  *
  * Pairs with [[graft.sources.StagedSink]]'s one-generation retention:
  * `diff(read generation=previous, read current, keys)` derives the
  * change feed of the last truncate-load commit from bytes the sink
  * already retains — CDC with zero extra write amplification (the
  * Delta-CDF trade made the other way: they pay `_change_data` files at
  * write time to avoid the diff join at read time; against a RETAINED
  * generation the join is available for free). That composition is
  * spec-pinned in ChangeFeedSpec.
  */
object ChangeFeed {

  /** Validate that two drifted schemas can align by name, returning
    * (name → type) maps for both sides: keys must exist on both (a key
    * cannot be null-filled), and a column shared by both sides must
    * keep one data type (silently comparing across a type change would
    * mis-classify rows — re-cast upstream instead).
    */
  private def driftTypes(
      fn: String, a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType, keys: Seq[String])
      : (Map[String, org.apache.spark.sql.types.DataType],
         Map[String, org.apache.spark.sql.types.DataType]) = {
    val aT = a.map(f => f.name -> f.dataType).toMap
    val bT = b.map(f => f.name -> f.dataType).toMap
    val lostKeys = keys.filterNot(k => aT.contains(k) && bT.contains(k))
    require(lostKeys.isEmpty,
      s"$fn: key column(s) ${lostKeys.mkString(", ")} must exist on both " +
        "sides — a key cannot be null-filled across schema drift")
    val retyped = aT.keySet.intersect(bT.keySet).filter(n => aT(n) != bT(n))
    require(retyped.isEmpty,
      s"$fn: column(s) ${retyped.mkString(", ")} changed data type across " +
        "the drift — re-cast one side explicitly; null-filling covers " +
        "added/removed columns, not type changes")
    (aT, bT)
  }

  /** Diff `cur` against `prev` keyed by `keys`. By default both frames
    * must share one schema; every non-key column is a compared value
    * column. Output: key columns, `change_type`, then the value columns
    * (pre values on delete/update_preimage rows, post values otherwise).
    *
    * `allowSchemaDrift = true` applies the engine's drift stance
    * (`unionByName(allowMissingColumns)` everywhere else): snapshots
    * align by column NAME, a column present on one side only is
    * null-filled on the other, and the null-filled value PARTICIPATES
    * in change detection — a key whose added column is populated in
    * `cur` (or whose removed column was populated in `prev`) classifies
    * as an update, because the row a consumer would materialize really
    * did change. Output column order: prev's columns, then cur's
    * additions. Keys must exist on both sides and shared columns must
    * keep their type ([[driftTypes]]).
    */
  def diff(prev: DataFrame, cur: DataFrame, keys: Seq[String],
      allowSchemaDrift: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "ChangeFeed.diff: at least one key column")
    val (p0, c0) =
      if (!allowSchemaDrift) {
        require(prev.columns.sameElements(cur.columns),
          s"ChangeFeed.diff: snapshot schemas differ " +
            s"(${prev.columns.mkString(",")} vs ${cur.columns.mkString(",")})" +
            " — pass allowSchemaDrift = true to align by name with null-fill")
        (prev, cur)
      } else {
        val (pT, cT) = driftTypes("ChangeFeed.diff", prev.schema, cur.schema, keys)
        val all = prev.columns.toSeq ++ cur.columns.filterNot(pT.contains)
        (prev.select(all.map(n => pT.get(n).map(_ => col(n))
            .getOrElse(lit(null).cast(cT(n)).as(n))): _*),
          cur.select(all.map(n => cT.get(n).map(_ => col(n))
            .getOrElse(lit(null).cast(pT(n)).as(n))): _*))
      }
    val valCols = p0.columns.filterNot(keys.contains).toSeq
    require(valCols.nonEmpty, "ChangeFeed.diff: no value columns to compare")
    // change_type is the output discriminator and _pre/_post the join
    // intermediates — a snapshot column with one of those names would
    // silently produce a duplicate/ambiguous column, not an error here
    val reserved = Set("change_type", "_pre", "_post")
    require(p0.columns.forall(c => !reserved(c)),
      s"ChangeFeed.diff: snapshot columns may not use the reserved names $reserved")
    def packed(df: DataFrame, as: String) =
      df.select(keys.map(col) :+ struct(valCols.map(col): _*).as(as): _*)
    val joined = packed(p0, "_pre").join(packed(c0, "_post"), keys, "full_outer")
      // unchanged keys emit nothing; `<=>` is false when either side is
      // null, so insert/delete rows survive this filter untouched
      .filter(!(col("_pre") <=> col("_post")))
    // one struct per emitted row; updates fan out to pre+post
    val rows = joined.select(
      keys.map(col) :+
        explode(
          when(col("_pre").isNull,
            array(struct(lit("insert").as("change_type"), col("_post").as("v"))))
          .when(col("_post").isNull,
            array(struct(lit("delete").as("change_type"), col("_pre").as("v"))))
          .otherwise(array(
            struct(lit("update_preimage").as("change_type"), col("_pre").as("v")),
            struct(lit("update_postimage").as("change_type"), col("_post").as("v"))))
        ).as("chg"): _*)
    rows.select(
      keys.map(col) ++ Seq(col("chg.change_type").as("change_type")) ++
        valCols.map(c => col(s"chg.v.$c").as(c)): _*)
  }

  /** Apply a change feed to the snapshot it was derived FROM,
    * reconstructing the next snapshot — incremental view maintenance:
    * a downstream consumer holding snapshot N applies the (usually
    * tiny) feed instead of re-reading snapshot N+1 wholesale. At 100 TB
    * this is the difference between moving the corpus and moving the
    * changes: one anti-join of the state against the feed's touched
    * keys (broadcast when the feed is small, which is the point) plus a
    * union of the insert/post rows. Exactness is spec-pinned:
    * `applyFeed(prev, diff(prev, cur, k), k)` row-equals `cur`.
    *
    * `allowSchemaDrift = true` closes the loop for a DRIFTED feed
    * ([[diff]]'s drift mode): the state null-fills feed-only value
    * columns before applying, so `applyFeed(prev, diff(prev, cur, k,
    * drift), k, drift)` row-equals `cur` aligned to the union schema —
    * exactly what `prev.unionByName(allowMissingColumns)` semantics
    * promise. State columns absent from the feed abort (a feed cannot
    * say what happened to a column it never saw).
    */
  def applyFeed(prev: DataFrame, feed: DataFrame, keys: Seq[String],
      allowSchemaDrift: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "ChangeFeed.applyFeed: at least one key column")
    // same reserved-name contract as diff: a state column literally
    // named change_type would resolve the incoming select to the FEED's
    // discriminator and write 'insert'/'update_postimage' as data
    val reserved = Set("change_type", "_pre", "_post")
    require(prev.columns.forall(c => !reserved(c)),
      s"ChangeFeed.applyFeed: state columns may not use the reserved names $reserved")
    val prevAligned =
      if (!allowSchemaDrift) prev
      else {
        val feedVals = org.apache.spark.sql.types.StructType(
          feed.schema.filterNot(_.name == "change_type"))
        val (pT, fT) = driftTypes("ChangeFeed.applyFeed", prev.schema, feedVals, keys)
        val dropped = prev.columns.filterNot(c => fT.contains(c))
        require(dropped.isEmpty,
          s"ChangeFeed.applyFeed: state column(s) ${dropped.mkString(", ")} " +
            "are absent from the feed — a feed cannot say what happened to " +
            "a column it never saw; project them away first")
        val all = prev.columns.toSeq ++
          feedVals.fieldNames.filterNot(pT.contains)
        prev.select(all.map(n => pT.get(n).map(_ => col(n))
          .getOrElse(lit(null).cast(fT(n)).as(n))): _*)
      }
    val valCols = prevAligned.columns.filterNot(keys.contains).toSeq
    // EVERY feed key is removed from the state before the incoming rows
    // re-enter — not just delete/update keys: clearing insert keys too
    // is what makes a replayed feed converge instead of duplicating the
    // already-applied insert (at-least-once delivery), and it is a
    // no-op on first application (the key is absent)
    val touched = feed.select(keys.map(col): _*).distinct()
    val incoming = feed.filter(
      col("change_type").isin("insert", "update_postimage"))
      .select((keys ++ valCols).map(col): _*)
    // NULL-SAFE anti-join: diff classifies a null-keyed change as
    // delete + insert (full-outer equality never matches null keys), so
    // the apply side must actually REMOVE the stale null-keyed row — a
    // plain equality anti-join would keep it and duplicate the incoming
    // one, breaking the spec-pinned round trip
    val p = prevAligned.alias("p")
    val t = touched.alias("t")
    val cond = keys.map(k => col(s"p.$k") <=> col(s"t.$k")).reduce(_ && _)
    p.join(t, cond, "left_anti")
      .select((keys ++ valCols).map(col): _*)
      .unionByName(incoming)
  }

  /** [[applyFeed]] against a PERSISTED keyed table: the state at `path`
    * is rewritten to `applyFeed(state, feed, keys)` through
    * [[CoreOps.swapCore]]'s stage-then-swap (commit marker,
    * rename-aside, crash recovery on the next call) — the downstream
    * materialization a CDC consumer maintains. Applying one
    * self-consistent feed is IDEMPOTENT (the anti-join removes a key
    * before its incoming row re-enters, so a replay converges to the
    * same state), which is what makes the streaming spelling
    * ([[graft.streaming.StreamingOps.applyFeedEachBatch]]) safe under
    * at-least-once delivery. Single writer required, like upsert.
    *
    * Two executing-seam guards the pure [[applyFeed]] transform cannot
    * enforce without triggering a job:
    *  - a feed carrying MORE than one incoming row for a key (a
    *    Debezium-style batch spanning two upstream commits) is REFUSED —
    *    applying it would leave both rows, one stale, in the table;
    *    compact the feed to one change per key (latest-wins by the
    *    source's own ordering) before applying.
    *  - a missing table BOOTSTRAPS from the feed's incoming rows (the
    *    standard initial-snapshot feed of pure inserts), mirroring
    *    upsert's fresh-table branch.
    */
  def applyFeedToTable(feed: DataFrame, path: String, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "applyFeedToTable: at least one key column")
    val spark = feed.sparkSession
    val incoming = feed.filter(
      col("change_type").isin("insert", "update_postimage"))
    val multi = incoming.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1)
    require(multi.isEmpty,
      s"applyFeedToTable($path): the feed carries more than one incoming " +
        "row for the same key (a multi-commit batch) — compact it to one " +
        "change per key (latest-wins by your source's ordering) first")
    // recovery BEFORE the bootstrap decision: a crash mid-swap leaves
    // the target missing but restorable — bootstrapping over it would
    // clobber the recoverable state
    CoreOps.recoverSwap(spark, path, "applyFeedToTable")
    if (!CoreOps.fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(path)))
      incoming.drop("change_type").write.mode("overwrite").parquet(path)
    else CoreOps.swapCore(spark, path, "applyFeedToTable") {
      state => applyFeed(state, feed, keys)
    }
  }

  /** `graft_cdc('prev_table', 'cur_table', 'key1,key2,...')` — the SQL
    * spelling of [[diff]], registered as a table-valued function so
    * spark.sql users reach the change feed without the DataFrame API
    * (same TVF-parity contract as graft_asof / graft_dedup / graft_ann).
    * Both snapshots must be batch relations: a diff needs each side
    * COMPLETE (a key absent from a still-growing stream is not yet a
    * delete) — the incremental analog is a changelog the stream itself
    * emits, not a snapshot diff.
    */
  def sqlBuilder(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val (prev, cur, keys) = decodeArgs("graft_cdc",
      "graft_cdc(prev_table, cur_table, 'key1,key2,...'[, 'drift'])",
      "cur table", es)
    diff(prev, cur, keys,
      allowSchemaDrift = driftFlag("graft_cdc", es)).queryExecution.analyzed
  }

  /** `graft_cdc_apply('state_table', 'feed_table', 'key1,key2,...')` —
    * the SQL spelling of the pure [[applyFeed]] (the persisted-table
    * form stays [[applyFeedToTable]]: a TVF is a read, not a write).
    */
  def applySqlBuilder(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val (state, feed, keys) = decodeArgs("graft_cdc_apply",
      "graft_cdc_apply(state_table, feed_table, 'key1,key2,...'[, 'drift'])",
      "feed table", es)
    applyFeed(state, feed, keys,
      allowSchemaDrift = driftFlag("graft_cdc_apply", es)).queryExecution.analyzed
  }

  /** The optional 4th TVF argument: 'drift' enables the schema-drift
    * alignment, 'strict' (or absence) keeps the same-schema contract.
    */
  private def driftFlag(fn: String,
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean =
    if (es.size < 4) false
    else graft.plans.TvfArgs.strLit(fn, es)(3, "mode") match {
      case "drift" => true
      case "strict" | "" => false
      case m => throw new IllegalArgumentException(
        s"$fn: mode must be 'strict' or 'drift', got '$m'")
    }

  private def decodeArgs(fn: String, usage: String, secondWhat: String,
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : (DataFrame, DataFrame, Seq[String]) = {
    def arg(i: Int, what: String): String =
      graft.plans.TvfArgs.strLit(fn, es)(i, what)
    if (es.size < 3 || es.size > 4) throw new IllegalArgumentException(usage)
    val spark = org.apache.spark.sql.SparkSession.active
    // each function's own rationale — a wrong explanation sends users
    // down the wrong mental model (the diff needs complete sides; the
    // apply TVF is a one-shot read of a finished feed)
    val why =
      if (fn == "graft_cdc")
        "a snapshot diff needs both sides complete (an absent key on a " +
          "growing stream is not yet a delete). Diff materialized " +
          "snapshots, or have the stream emit its own changelog"
      else
        "the apply TVF is a one-shot read of a FINISHED feed against a " +
          "complete state snapshot. For continuously applying a feed " +
          "stream use StreamingOps.applyFeedEachBatch"
    def side(i: Int, what: String) = {
      val t = spark.table(arg(i, what))
      if (t.isStreaming)
        throw new UnsupportedOperationException(
          s"$fn: the $what is a stream — $why")
      t
    }
    val keys = arg(2, "key list").split(',').map(_.trim).filter(_.nonEmpty)
    (side(0, "first table"), side(1, secondWhat), keys.toSeq)
  }
}

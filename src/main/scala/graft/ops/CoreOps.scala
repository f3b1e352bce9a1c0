package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core dataflow operators generalizing the reference pipeline's
  * per-document transforms (reference: zwilson999/lol_data_pipeline,
  * `src/api/utils/utils.py`) to declarative Spark column expressions.
  *
  * Everything here stays inside Catalyst/Tungsten codegen — no UDFs, no
  * driver-side loops — so plans scale with partition count, not row count.
  */
object CoreOps {

  /** Struct flatten (reference `utils/utils.py:25-43` `flatten_nested_json`).
    *
    * Schema-driven compile-time `select` generator: walks the DataFrame
    * schema and emits one aliased column per struct leaf, joining path
    * segments with `sep`. This is the *intended* semantics of the
    * reference's recursive dict flatten (exact for nested dicts). The
    * reference's list handling is lossy (prefix reset + last-element-wins,
    * `utils/utils.py:37-41`); we keep arrays intact as columns — callers
    * explode (`explodeArrays`) or index (`element_at`) explicitly.
    *
    * Because the flatten is resolved at plan time, Catalyst still prunes
    * unused leaves down to the parquet scan — a full-schema flatten of a
    * wide document costs only the columns actually consumed downstream.
    */
  def flattenStruct(df: DataFrame, sep: String = "_"): DataFrame = {
    def walk(schema: StructType, path: Seq[String]): Seq[Column] =
      schema.fields.toSeq.flatMap { f =>
        val p = path :+ f.name
        f.dataType match {
          case s: StructType => walk(s, p)
          case _ =>
            Seq(col(p.map(seg => s"`$seg`").mkString(".")).alias(p.mkString(sep)))
        }
      }
    df.select(walk(df.schema, Nil): _*)
  }

  /** Reference bug-compat flatten of one array-of-struct column: the
    * reference drops the path prefix and keeps the LAST element's keys
    * (`utils/utils.py:37-41`). Equivalent declarative form:
    * `element_at(arr, -1)` then struct-flatten. Kept for bug-compat tests
    * only — production queries use explode/index semantics.
    */
  def lastElementFlatten(df: DataFrame, arrayCol: String, sep: String = "_"): DataFrame =
    flattenStruct(df.withColumn(arrayCol, element_at(col(arrayCol), -1)), sep)

  /** Unix-milliseconds epoch to `yyyy-MM-dd` string (reference
    * `utils/utils.py:84-91` `_unix_timestamp_to_date`). The reference uses
    * the process-local timezone; the engine pins UTC
    * (`spark.sql.session.timeZone=UTC`) for oracle parity — documented
    * divergence (SURVEY.md §7.4).
    */
  def msToDate(c: Column): Column = date_format(timestamp_millis(c), "yyyy-MM-dd")

  /** Small static lookup (reference `utils/utils.py:63-76` `get_queue_id`):
    * a `when`/`otherwise` chain, constant-folded by Catalyst — never a
    * shuffle, never a UDF. Unknown keys yield `default` (the reference
    * raised KeyError; we prefer typed nulls, SURVEY.md §2.8 F3).
    */
  def lookupMap[K, V](c: Column, m: Seq[(K, V)], default: Column = lit(null)): Column =
    m.foldLeft(None: Option[Column]) { case (acc, (k, v)) =>
      Some(acc.fold(when(c === lit(k), lit(v)))(_.when(c === lit(k), lit(v))))
    }.fold(default)(_.otherwise(default))

  /** Keep-successful filter (reference `pipeline.py:45-46`). */
  def statusFilter(df: DataFrame, statusCol: String = "status", ok: Int = 200): DataFrame =
    df.filter(col(statusCol) === ok)

  /** Fan a scan-stage-heavy frame out to full core parallelism — the
    * r20 fix for compute-starved map stages. Spark's split planning is
    * BYTE-proportional (maxPartitionBytes / openCostInBytes), and a
    * parquet file is splittable only at row-group boundaries, so a
    * byte-light input (one small file = one row group = ONE task) runs
    * its entire map side — shingle hashing, per-row digests, explode
    * fan-outs — on a single core no matter how many the session has;
    * AQE cannot help (it only re-sizes post-shuffle stages, also by
    * BYTES, which under-provisions kernels whose cost is per-row, not
    * per-byte). The explicit-count hash repartition pins the kernel's
    * parallelism where byte-based planning starves it: measured at
    * sf0.1, the 16-permutation MinHash kernel fell 2.8 s -> 0.68 s and
    * the 40-replicate bootstrap kernel 2.75 s -> 0.43 s (OPTIMIZATION_r20).
    *
    * Scale-adaptive by construction, not a local[32] tune: when the
    * source already has at least one split per core (any real at-scale
    * table), this is an IDENTITY — no repartition node enters the plan,
    * so the at-scale plan is byte-for-byte what it was before r20. The
    * explicit numPartitions (= defaultParallelism, i.e. the session's
    * core count here and the cluster's slot count on a real deployment)
    * keeps AQE from byte-coalescing the fanned stage back to one task;
    * `key` should be a high-cardinality deterministic column (the row
    * id) so the hash spreads evenly and retries are deterministic
    * (guide §2.5 — never rand()).
    */
  def fanOut(df: DataFrame, key: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else if (key.isEmpty) df.repartition(target)
    else df.repartition(target, key: _*)
  }

  /** Pin a keyed exchange's partition count ahead of a window/aggregate
    * whose downstream per-row work is expensive (sequence generators,
    * string formatting): AQE sizes post-shuffle stages by BYTES, which
    * under-provisions row-expensive stages on byte-light inputs (it
    * coalesced q_gap_fill's per-user window + hour-spine explode to one
    * task). The explicit-count hash repartition on the operator's own
    * key satisfies its required distribution — Spark plans NO second
    * exchange — while the explicit count keeps AQE from byte-coalescing
    * it.
    *
    * Count (r21, scale-safety fix): max(defaultParallelism,
    * spark.sql.shuffle.partitions). The r20 form used defaultParallelism
    * alone, which at 100 TB CAPS the keyed exchange at the cluster's
    * slot count — far fewer partitions than the static plan's own
    * shuffle.partitions choice for a large keyed frame (guide §2:
    * partitions ∝ data, not cores). Taking the max can only ever RAISE
    * the count above what the un-pinned exchange would start from, so
    * the pin keeps its one job (AQE cannot byte-coalesce a
    * row-expensive stage to starvation) without ever shrinking a
    * big-data exchange. Locally shuffle.partitions tracks the core
    * count (GraftSession/Bench), so the local plan is unchanged.
    */
  def pinKeyed(df: DataFrame, key: Column*): DataFrame = {
    val s = df.sparkSession
    val target = math.max(s.sparkContext.defaultParallelism,
      s.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    df.repartition(target, key: _*)
  }

  /** Dedup with the reference's *intended* semantics (`matches.py:46-53`
    * computes a set but returns the pre-dedup list — we apply it).
    * Spark plans this as a hash aggregate on the key columns: map-side
    * partial dedup, then one shuffle on the keys — the scalable form.
    *
    * `bugCompat = true` reproduces the reference's ACTUAL (buggy)
    * behavior — the distinct set is discarded and the input passes
    * through untouched, duplicates and all. Kept for parity testing only
    * (the A1 twin of `lastElementFlatten` for the F2 quirk, SURVEY §2.4).
    */
  def dedup(df: DataFrame, cols: Seq[String] = Nil,
      bugCompat: Boolean = false): DataFrame =
    if (bugCompat) df
    else if (cols.isEmpty) df.distinct()
    else df.dropDuplicates(cols)

  /** Truncate-and-reload sink (reference `db.py:23-38`: `delete_many({})`
    * then `insert_many`). `SaveMode.Overwrite` on a path deletes the old
    * files first and then writes the new ones (Spark's
    * `InsertIntoHadoopFsRelationCommand` runs `deleteMatchingPartitions`
    * before `FileFormatWriter.write`), so, as with the reference, a load
    * that fails part-way leaves the path empty or partial, not the old data.
    */
  def truncateLoad(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Keyed upsert (the MERGE dataflow) into a parquet path: union the
    * current table with the updates, keep the highest-`version` row per
    * `key` (updates win version ties; exact duplicates tie-break on a
    * whole-row hash so the winner is partitioning-independent), write to
    * a staging directory, then swap. This is the logical plan every
    * lakehouse MERGE executes; a transactional table format
    * (Delta/Iceberg/Hudi) replaces the swap with an atomic metadata
    * commit — the remaining non-atomic window here is the rename-aside
    * pair (two atomic directory renames; every crash state between them
    * is recovered from the marker-complete staging or the `.old` copy).
    *
    * One shuffle on `key` (the window); at 100 TB the win over
    * truncate-reload-everything is that `updates` is the small side and
    * only key-matching state changes — with a partitioned layout, pair
    * this with partition pruning on the updates' partition values.
    *
    * SINGLE WRITER REQUIRED: the fixed `.staging` sibling and the
    * rename-aside swap mean two concurrent upserts to the same path
    * (e.g. a streaming `upsertEachBatch` query plus an ad-hoc backfill)
    * can interleave into a lost table. A fixed staging name is chosen
    * deliberately — it makes crash recovery deterministic (there is
    * exactly one place a completed-but-unswapped merge can live),
    * whereas unique suffixes would leave unidentifiable garbage. Serialize
    * writers externally; a transactional table format is the real answer
    * for multi-writer.
    *
    * The merge is written to the `.staging` sibling and committed by
    * [[commitSwap]]; a crash at any point is recovered or surfaced
    * loudly by [[recoverSwap]] on the NEXT call.
    */
  def upsert(updates: DataFrame, path: String,
      key: String, version: String): Unit = {
    val spark = updates.sparkSession
    recoverSwap(spark, path, "upsert")
    // Existence is checked via the filesystem, not by catching
    // AnalysisException from the read: a blanket catch would also swallow
    // unrelated failures (empty or corrupt dir, permission errors) and
    // silently take the fresh-table branch, overwriting history.
    if (!fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(path))) {
      updates.write.mode(SaveMode.Overwrite).parquet(path)
    } else swapCore(spark, path, "upsert") { current =>
      val up = updates.withColumn("__src", lit(1))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(key))
        .orderBy(col(version).desc, col("__src").desc,
          xxhash64(struct(updates.columns.toIndexedSeq.map(col): _*)))
      current.withColumn("__src", lit(0))
        .unionByName(up)
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .drop("__rk", "__src")
    }
  }

  private[graft] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `path` with its fixed `.staging` and `.old` swap siblings. */
  private[graft] def siblings(path: String): (Path, Path, Path) =
    (new Path(path), new Path(path + ".staging"), new Path(path + ".old"))

  /** [[recoverSwap]] over `path` and its `.staging`/`.old` siblings —
    * the keyed tables' and the summary tier's layout.
    */
  private[graft] def recoverSwap(spark: SparkSession, path: String, op: String): Unit = {
    val (live, staged, old) = siblings(path)
    recoverSwap(fsOf(spark, path), live, staged, old, op)
  }

  /** Crash recovery for [[commitSwap]]: every state a crash can leave is
    * either finished here or loudly refused, because the swap never
    * deletes the live copy while it is the only complete one.
    * Completeness of `staged` is keyed on our OWN [[CommitMarker]],
    * written after the staging write returns: Spark's _SUCCESS marker
    * exists only when mapreduce.fileoutputcommitter.marksuccessfuljobs
    * is on (off is a common object-store setting), so relying on it
    * would turn this self-healing path into a hard failure under that
    * config. A PRESENT _SUCCESS is still trustworthy evidence (the
    * committer only writes it on job completion), so it is accepted too
    * — staging dirs left by a pre-marker version of this code stay
    * recoverable.
    *  - live present: drop `old` debris from an interrupted swap (a
    *    complete `staged` next to it waits for the next writer, which
    *    re-derives it from the live copy).
    *  - live missing + staged COMPLETE: the between-renames crash —
    *    finish the rename, drop old.
    *  - live missing + `old` present (staged incomplete/absent):
    *    restore the old copy verbatim.
    *  - live missing + unmarked staged only: unrecoverable — fail
    *    loudly rather than silently overwrite.
    *  - none of the three exists: never built, nothing to do.
    */
  private[graft] def recoverSwap(
      fs: FileSystem, live: Path, staged: Path, old: Path, op: String): Unit =
    if (fs.exists(live)) {
      if (fs.exists(old)) fs.delete(old, true)
    } else if (fs.exists(staged) &&
        (fs.exists(new Path(staged, CommitMarker)) ||
          fs.exists(new Path(staged, "_SUCCESS")))) {
      require(fs.rename(staged, live), s"$op($live): recovery rename $staged -> $live failed")
      if (fs.exists(old)) fs.delete(old, true)
    } else if (fs.exists(old)) {
      require(fs.rename(old, live), s"$op($live): recovery restore $old -> $live failed")
    } else if (fs.exists(staged)) {
      require(requirement = false,
        s"$op($live): target missing and staging $staged is " +
          s"incomplete (no $CommitMarker) — manual inspection required")
    }

  /** The one staged-directory commit every store here uses: `staged` is
    * fully written by the caller; its `sidecars` (name relative to
    * `staged` -> UTF-8 contents, e.g. a [[ledgerSidecar]])
    * land next, then the [[CommitMarker]], so data, sidecars and marker
    * become visible together or not at all. The swap renames `live`
    * ASIDE to `old` (when it exists — a first build has none), renames
    * `staged` in, then drops `old`: a recursive delete is not atomic,
    * and a crash mid-delete would leave a PARTIAL live copy that
    * [[recoverSwap]] cannot see, so the live copy is never deleted while
    * it is the only complete one. SINGLE WRITER REQUIRED: fixed staging
    * names make recovery deterministic (exactly one place a
    * completed-but-unswapped write can live); in-JVM readers that must
    * not see the gap between the two renames hold the caller's monitor.
    */
  private[graft] def commitSwap(
      fs: FileSystem, live: Path, staged: Path, old: Path, op: String,
      sidecars: Map[String, String] = Map.empty): Unit = {
    sidecars.foreach { case (name, content) =>
      val out = fs.create(new Path(staged, name), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    fs.create(new Path(staged, CommitMarker), true).close()
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live))
      require(fs.rename(live, old), s"$op($live): rename-aside $live -> $old failed")
    require(fs.rename(staged, live), s"$op($live): rename $staged -> $live failed")
    fs.delete(old, true)
  }

  /** The applied-batch ledger: a sidecar holding the last micro-batch id
    * committed into a swap scope (underscore-prefixed: parquet readers
    * skip it). Deltas and appends are not idempotent, so a store that
    * absorbs a stream's batches reads it with [[lastBatch]], skips a
    * [[replayed]] id, and hands [[ledgerSidecar]] to [[commitSwap]]: the
    * ledger and the data become visible together, so a crash between
    * "applied" and "recorded" cannot exist.
    */
  private[graft] val BatchLedger = "_GRAFT_LAST_BATCH"

  /** The last batch id in the ledger of the swap scope `live`, or -1 when
    * it holds none. Runs [[recoverSwap]] over the scope first: a crash
    * between the swap's two renames leaves `live` and its ledger missing
    * beside a complete `staged` copy, and a read before recovery would
    * see -1 and re-apply the batch that copy already holds.
    */
  private[graft] def lastBatch(
      fs: FileSystem, live: Path, staged: Path, old: Path, op: String): Long = {
    recoverSwap(fs, live, staged, old, op)
    val f = new Path(live, BatchLedger)
    if (!fs.exists(f)) -1L
    else {
      val in = fs.open(f)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
    }
  }

  /** [[lastBatch]] of the scope at `path` and its `.staging`/`.old` siblings. */
  private[graft] def lastBatch(spark: SparkSession, path: String, op: String): Long = {
    val (live, staged, old) = siblings(path)
    lastBatch(fsOf(spark, path), live, staged, old, op)
  }

  /** The replay check: `batchId` is already applied to a scope whose
    * [[lastBatch]] reads `last`.
    */
  private[graft] def replayed(batchId: Long, last: Long): Boolean = batchId <= last

  /** The ledger sidecar a commit into a ledgered scope writes: `batchId`
    * when given; otherwise `last`, the id the live copy already holds,
    * carried forward so that a replayed id stays rejected; nothing while
    * the scope has no ledger. `last` is read only when no id is given.
    */
  private[graft] def ledgerSidecar(
      batchId: Option[Long], last: => Long): Map[String, String] =
    batchId.orElse(Some(last).filter(_ >= 0)).map(id => BatchLedger -> id.toString).toMap

  /** Rewrite the keyed table at `path` as `f(current)` through
    * [[commitSwap]] with the `.staging`/`.old` siblings: the rewritten
    * plan still READS `path`, so it is fully written to staging first.
    * `extraStagedFiles` are the swap's sidecars. Runs no recovery — the
    * callers ([[upsert]], [[deleteWhere]],
    * [[graft.ops.ChangeFeed.applyFeedToTable]], the summary tier) ran
    * [[recoverSwap]] already this call, and on an object store each of
    * its exists() probes is a billable round trip on the hot path.
    */
  private[graft] def swapCore(spark: SparkSession, path: String,
      op: String, extraStagedFiles: Map[String, String] = Map.empty)(
      f: DataFrame => DataFrame): Unit = {
    val fs = fsOf(spark, path)
    val (live, staged, old) = siblings(path)
    require(fs.exists(live), s"$op($path): no table at $path")
    f(spark.read.parquet(path)).write.mode(SaveMode.Overwrite).parquet(staged.toString)
    commitSwap(fs, live, staged, old, op, extraStagedFiles)
  }

  /** Marker proving a staging write ran to completion (see [[upsert]]). */
  private[graft] val CommitMarker = "_GRAFT_COMMIT"

  /** Pending-delete replay marker for the partitioned [[deleteWhere]]
    * path: lists partition dirs whose every row matched the predicate,
    * written before the rewrite so a crash between the dynamic-partition
    * overwrite and the dir removals is finished by the NEXT call instead
    * of silently leaving matched rows in place.
    */
  private[graft] val PendingDeleteMarker = "_GRAFT_PENDING_DELETE"

  /** Dynamic-partition overwrite: replace ONLY the partitions present
    * in `df`, leaving every other partition of the table untouched —
    * the incremental reload pattern (a late-arriving day re-lands that
    * day's partition; the other 36,499 partitions of a 100 TB table are
    * not rewritten, not even read). The default STATIC overwrite mode
    * would truncate the whole table first; the mode rides on THIS write
    * as a DataFrameWriter option (it takes precedence over the session
    * conf) — no session-conf mutation, so a concurrent write in the same
    * SparkSession can never observe, or clobber, the wrong mode.
    */
  def refreshPartitions(df: DataFrame, path: String, partCols: String*): Unit = {
    require(partCols.nonEmpty, "refreshPartitions needs partition columns")
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)
  }

  /** Targeted row deletion (GDPR / right-to-be-forgotten): remove every
    * row matching `predicate` from the parquet table at `path`, returning
    * the number of rows deleted. Standard DELETE semantics: rows where
    * the predicate evaluates to NULL (a nullable column in the match
    * condition) are retained, not deleted.
    *
    * Partitioned path (`partCols` non-empty): only the partitions that
    * CONTAIN matches are read and rewritten — the affected-partition set
    * comes from one pruned distinct over the matches, the rewrite rides
    * dynamic partition overwrite (per-write option, no session-conf
    * mutation), and partitions whose every row matched (dynamic overwrite
    * would silently leave them — it only replaces partitions PRESENT in
    * the written frame) are removed explicitly, with a
    * [[PendingDeleteMarker]] written first so an interrupted call's
    * removals are replayed by the next call (a crash before the rewrite
    * of PARTIALLY-affected partitions still needs a caller re-run). A
    * 100 TB table with one
    * affected day rewrites one day. The survivors of affected partitions
    * are localCheckpointed before the write because Spark refuses a write
    * whose plan still reads the destination; the materialized size is
    * bounded by the affected partitions, not the table.
    *
    * Unpartitioned path: full stage-then-swap rewrite with the same
    * `_GRAFT_COMMIT` + rename-aside crash discipline as [[upsert]]
    * (every crash window recovered or loudly refused on the next call;
    * the live table is never deleted while it is the only complete
    * copy). A predicate matching EVERY row is refused — that is the
    * truncate operation, and an all-deleted parquet dir is unreadable.
    */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column,
      partCols: Seq[String] = Nil): Long = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(hconf)
    if (partCols.isEmpty) {
      // same rename-aside recovery + swap as upsert (shared helpers)
      recoverSwap(spark, path, "deleteWhere")
      val current = spark.read.parquet(path)
      // standard DELETE semantics: rows where the predicate evaluates
      // to NULL are RETAINED (only TRUE rows are deleted) — `!predicate`
      // alone would silently drop NULL rows uncounted
      val matches = coalesce(predicate, lit(false))
      val deleted = current.filter(matches).count()
      if (deleted == 0L) return 0L
      // a predicate that deletes EVERY row would leave a parquet dir
      // with no data files — unreadable (no schema to infer). That is
      // the truncate operation, not a delete: refuse with the pointer.
      require(current.filter(!matches).limit(1).count() > 0,
        s"deleteWhere($path): predicate matches every row — an empty " +
          "parquet dir is unreadable; use the truncate-and-load path instead")
      swapCore(spark, path, "deleteWhere")(cur =>
        cur.filter(!coalesce(predicate, lit(false))))
      deleted
    } else {
      // replay an interrupted previous call first: the marker lists
      // partition dirs whose EVERY row matched that call's predicate,
      // so finishing their removal is safe no matter where the crash
      // landed (a crash before the rewrite of partially-affected
      // partitions still needs a caller re-run for those — the marker
      // closes the silent-leftover window for fully-emptied ones)
      val marker = new org.apache.hadoop.fs.Path(target, PendingDeleteMarker)
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        val rels = scala.io.Source.fromInputStream(in).getLines()
          .filter(_.nonEmpty).toList
        in.close()
        rels.foreach(rel =>
          fs.delete(new org.apache.hadoop.fs.Path(target, rel), true))
        fs.delete(marker, false)
      }
      val current = spark.read.parquet(path)
      // NULL-predicate rows are retained and never counted (see above)
      val matches = coalesce(predicate, lit(false))
      val hit = current.filter(matches)
        .select(partCols.map(col): _*).distinct().collect()
      if (hit.isEmpty) return 0L
      val partPred = hit.map { row =>
        partCols.indices.map(i => col(partCols(i)) === lit(row.get(i)))
          .reduce(_ && _)
      }.reduce(_ || _)
      val affected = current.filter(partPred)
      val deleted = affected.filter(matches).count()
      val kept = affected.filter(!matches).localCheckpoint()
      // relative partition paths must match what Spark's writer puts on
      // disk: Hive-escaped values (a space becomes %20, a slash %2F) and
      // __HIVE_DEFAULT_PARTITION__ for null — raw interpolation would
      // delete the wrong (usually nonexistent) directory for any
      // partition value containing a special character
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      def partRel(r: org.apache.spark.sql.Row): String =
        partCols.indices.map { i =>
          val v = r.get(i)
          val ev = if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(v.toString)
          s"${ExternalCatalogUtils.escapePathName(partCols(i))}=$ev"
        }.mkString("/")
      val keptParts = kept.select(partCols.map(col): _*).distinct().collect()
        .map(partRel).toSet
      val emptied = hit.map(partRel).filterNot(keptParts)
      // record fully-emptied partitions BEFORE any mutation: a crash
      // anywhere past this point is replayed by the next call (the `_`
      // prefix keeps Spark's file index from reading the marker)
      if (emptied.nonEmpty) {
        val out = fs.create(marker, true)
        out.write(emptied.mkString("\n").getBytes("UTF-8"))
        out.close()
      }
      if (keptParts.nonEmpty)
        kept.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCols: _*).parquet(path)
      emptied.foreach { rel =>
        fs.delete(new org.apache.hadoop.fs.Path(target, rel), true)
      }
      if (emptied.nonEmpty) fs.delete(marker, false)
      deleted
    }
  }

  /** Size-aware compacting write: repartition so output files land near
    * `targetBytes` each, instead of inheriting the upstream partitioning
    * (the small-files problem — a 1000-executor job that ends on a
    * 32k-partition shuffle writes 32k tiny files, and every later scan
    * pays per-file open/footer cost; conversely one giant file serializes
    * downstream parallelism).
    *
    * Sizing comes from Catalyst's logical-plan statistics
    * (`sizeInBytes`: file-scan stats propagated through operators), so no
    * extra pass over the data. The estimate is in-memory-ish bytes —
    * parquet encoding compresses further — so `targetBytes` should be
    * ~3-4x the desired on-disk file size. Returns the partition count
    * used.
    */
  def compactWrite(df: DataFrame, path: String,
      targetBytes: Long = 512L << 20): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = BigInt(math.max(1L, targetBytes))
    // Plans with unestimable leaves (LogicalRDD, statless DSv2) report
    // the defaultSizeInBytes sentinel (Long.MaxValue by default) — honor
    // it as "unknown" and keep the upstream partitioning rather than
    // exploding to the 2^20 cap and writing a million empty files.
    val sentinel = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    if (est >= sentinel) {
      val parts = df.rdd.getNumPartitions
      df.write.mode(SaveMode.Overwrite).parquet(path)
      parts
    } else {
      // ceiling division: files stay AT OR UNDER the target, as promised
      val parts = math.max(1, ((est + target - 1) / target).min(1 << 20).toInt)
      df.repartition(parts).write.mode(SaveMode.Overwrite).parquet(path)
      parts
    }
  }

  /** Exact decimal sum of a double column, returned as double.
    *
    * Why: double summation is order-dependent; Spark's shuffle order and
    * DuckDB's aggregation order differ run to run, so `sum(double)` is not
    * oracle-stable (nor reproducible cluster-run to cluster-run). Casting
    * to decimal(18,4) first (exact for the 2-decimal synthetic money
    * columns) makes the sum exact and order-free in both engines; the
    * final cast back to double is IEEE round-to-nearest in both.
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** Exact sum of an ALREADY-decimal expression at its natural scale.
    * Do not route decimal products through [[dsum]] — its (18,4) recast
    * rounds each product to 4 decimals, while SQL engines sum the
    * product at full derived scale (e.g. (18,4)x(18,4) -> scale 8);
    * the two totals then round to different doubles (bit-visible at
    * sf0.1 on q1's sum_disc_price).
    */
  def dsumExact(c: Column): Column = sum(c).cast(DoubleType)

  /** Order-free average built on [[dsum]]: identical doubles in both
    * engines (same exact decimal sum -> same double -> same division).
    */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Deterministic hash-sampling predicate: keep a row iff the first hex
    * digit of md5(key) is <= `hexCutoff` ('0'..'f'), i.e. a (cutoff+1)/16
    * sampling rate. Unlike `df.sample`, this is (a) reproducible across
    * runs, engines, and cluster layouts — the same rows survive on a
    * laptop and a 1000-executor cluster, which is what makes held-out /
    * train splits of a 100 TB corpus auditable — and (b) stratifiable by
    * passing a per-row cutoff expression (e.g. a higher cutoff for
    * under-represented languages). md5 over xxhash64 because every SQL
    * engine computes the identical digest, so splits survive engine
    * migrations too.
    */
  def hashSample(keyCol: Column, hexCutoff: Column): Column =
    substring(md5(keyCol.cast(StringType)), 1, 1) <= hexCutoff
}

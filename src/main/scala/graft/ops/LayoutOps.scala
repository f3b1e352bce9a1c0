package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout management: writes that make parquet min/max statistics
  * actually PRUNE at read time.
  *
  * At 100 TB the scan you skip is worth more than the scan you optimize:
  * a filter on an unclustered column still reads every file, because
  * each file's [min, max] spans nearly the whole key domain. Clustering
  * the write bounds each file's key range, so the reader's footer check
  * (and, within a file, the row-group stats check) eliminates files
  * before any IO. No index structure, no table format dependency — just
  * where rows land.
  *
  *  - [[clusterWrite]]: one-dimensional range clustering — optimal for
  *    filters on THE sort key, useless for the second column (classic
  *    linear-sort weakness).
  *  - [[zorderWrite]]: Morton-interleaved two-column clustering — each
  *    file covers a small square in (x, y) space, so range filters on
  *    EITHER column (or both) prune well; the standard multi-dimensional
  *    layout trade (slightly worse than linear on its own key, vastly
  *    better on the other).
  */
object LayoutOps {

  /** Morton (Z-order) value: interleaves the low `bits` bits of two
    * non-negative integer columns, x in even positions, y in odd. Pure
    * codegen'd bit arithmetic — no UDF.
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftright(xl, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Linear range-cluster write: rows range-partition on `cols` (one
    * output file per range slice) and sort within each file, so per-file
    * AND per-row-group [min, max] of the leading key are tight and
    * non-overlapping. `numFiles` sizes the slices — at scale pick
    * bytes-per-file / expected row width.
    */
  def clusterWrite(df: DataFrame, path: String, numFiles: Int, cols: Column*): Unit =
    df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)

  /** Z-order write on two integer-ish columns: range-partition and sort
    * by the Morton value, so each file covers a compact rectangle of the
    * (x, y) key space and filters on either column prune files. The
    * z column itself is dropped before writing — it is layout, not data.
    */
  def zorderWrite(
      df: DataFrame, path: String, numFiles: Int,
      x: Column, y: Column, bits: Int = 16): Unit =
    df.withColumn("__z", zValue(x, y, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Outcome of a [[compactFiles]] run — the numbers a table-maintenance
    * job reports and alerts on.
    */
  final case class CompactStats(
      filesIn: Int, bytesIn: Long, filesOut: Int, bytesOut: Long)

  /** Small-file compaction: rewrite a fragmented parquet directory into
    * ~`targetFileBytes`-sized files. The small-files problem is the
    * classic silent killer at 100 TB — a streaming sink or an
    * over-parallel write leaves millions of KB-scale files, and every
    * subsequent scan pays a task + footer read + open/close per file
    * (plus a NameNode/object-store listing storm) for kilobytes of data.
    * Compaction is pure layout maintenance: content identical, file
    * count sized to bytes.
    *
    * Output file count = ceil(bytesIn / targetFileBytes) (compressed
    * parquet in ≈ compressed parquet out).
    *  - `sortCols` empty: `coalesce` — merges input splits with ZERO
    *    shuffle (each output task just reads several input files); the
    *    cheapest possible rewrite, preserves no ordering.
    *  - `sortCols` given: range-cluster rewrite (the [[clusterWrite]]
    *    path) — one shuffle, and the compacted files get tight,
    *    disjoint min/max on the sort key, so the rewrite doubles as a
    *    re-cluster. Use when the table has a dominant filter column.
    *
    * Atomicity is the caller's concern (write to a fresh dir and swap,
    * or route through StagedSink) — compaction itself must not invent a
    * second commit protocol.
    *
    * Hive-partitioned tables: run this per leaf partition dir (the
    * maintenance loop's natural unit of work). Compacting the ROOT of a
    * partitioned layout folds the partition columns back into the data
    * files — logically the same rows, but the partitioning (and its
    * pruning) is gone. Partition-preserving compaction for the ANN
    * postings layout is [[graft.functions.AnnIndex.compactPostings]].
    */
  def compactFiles(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String,
      targetFileBytes: Long,
      sortCols: Seq[Column] = Nil): CompactStats = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val in = listParquet(inPath)
    require(in.nonEmpty, s"no parquet files under $inPath")
    val bytesIn = in.map(_._2).sum
    val nOut = math.max(1L,
      (bytesIn + targetFileBytes - 1) / targetFileBytes).toInt
    val df = spark.read.parquet(inPath)
    val laid =
      if (sortCols.isEmpty) df.coalesce(nOut)
      else df.repartitionByRange(nOut, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
    laid.write.mode("overwrite").parquet(outPath)
    val out = listParquet(outPath)
    CompactStats(in.length, bytesIn, out.length, out.map(_._2).sum)
  }

  /** q_compact_scan's fixture: a deliberately fragmented copy of `dir`'s
    * orders (64 files) compacted to ~128 MB-target files, written once
    * per dir contents as a [[ContentTag]] layout. Returns the compacted
    * copy's path.
    */
  private[graft] def ensureCompacted(
      spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = ContentTag.buildOnce("graft_compact",
      ContentTag.of(dir, Seq("orders"))) { root =>
      graft.Tables(spark, dir, "orders").repartition(64)
        .write.mode("overwrite").parquet(s"$root/frag")
      compactFiles(spark, s"$root/frag", s"$root/compacted", 128L << 20)
    }
    s"$root/compacted"
  }

  /** (path, size) of every parquet data file under `path` (recursive —
    * partitioned layouts included). Local-FS listing matches the
    * local[n] rig; a cluster port swaps in the Hadoop FileSystem walk.
    * Shared with the index-maintenance file accounting.
    */
  private[graft] def listParquet(path: String): Seq[(String, Long)] = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return Seq.empty
    val st = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => (p.toString, java.nio.file.Files.size(p)))
        .toVector.sortBy(_._1)
    } finally st.close()
  }

  /** Per-file [min, max] of a column — the reader's-eye view of what a
    * layout makes skippable. Used by specs and layout audits.
    */
  def fileRanges(spark: org.apache.spark.sql.SparkSession, path: String,
      colName: String): Seq[(String, Long, Long)] = {
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).toSeq
    files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col(colName)).cast("long"), max(col(colName)).cast("long"))
        .head()
      (f, r.getLong(0), r.getLong(1))
    }
  }
}

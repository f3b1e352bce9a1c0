package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** DataSourceV2 BATCH SINK with an explicit distributed commit protocol
  * — the write-side twin of [[MatchIdsSource]]'s read path, built to
  * demonstrate the part of a 1000-executor write that path-based sinks
  * hide: task attempts stage independently, the DRIVER commits exactly
  * the winning attempts, and readers see the table change atomically.
  *
  *  - Each task attempt writes `part-<partition>-<task>.tsv` under
  *    `path/_staging/<writeId>/` and reports it in its
  *    [[WriterCommitMessage]]. Failed/speculative attempts may leave
  *    files behind — they are NEVER referenced by a commit message that
  *    reaches [[StagedBatchWrite.commit]], so the losing attempt's data
  *    cannot become visible (the exactly-once guarantee task retries
  *    require).
  *  - `commit` moves exactly the reported files into `path/` and then
  *    swaps `_MANIFEST.json` (file list + row count + schema DDL) via an
  *    atomic rename. Readers ([[StagedSink.readCommitted]]) resolve the
  *    manifest first and read ONLY its files — an orphaned or
  *    half-moved part file is invisible, so the whole write is atomic
  *    at manifest granularity.
  *  - `abort` deletes the staging directory; a failed job leaves the
  *    previously committed table byte-identical.
  *  - Overwrite (`SaveMode.Overwrite` → `SupportsTruncate`) writes the
  *    new files FIRST and drops the old ones only after the manifest
  *    swap — the reader never observes an empty table mid-overwrite.
  *  - ONE-GENERATION RETENTION: the manifest also records the previous
  *    generation's file list (`prev`), and those files survive the
  *    commit that superseded them — an in-flight scan that froze
  *    generation N's file list at planning still completes after an
  *    overwrite lands generation N+1. N−1's files are deleted at the
  *    commit of N+1 (bounded garbage: at most two generations on disk).
  *
  * Row format: one line per row, `\\u0001`-separated fields, UTF-8.
  * String fields are backslash-escaped (backslash, LF, CR) so a
  * multi-line string can't split one row into two in the line-based
  * format; NULL in any column is the one-char sentinel `\\u0002`, so an
  * empty string and null stay distinct. The two control separators are
  * disallowed in string data. The format is deliberately trivial: the
  * machinery under test is the commit protocol, not the codec. `path`
  * must be storage visible to driver and executors alike (local FS
  * under local[n] here; a cluster port swaps `java.nio` for the Hadoop
  * FileSystem API — the protocol itself is storage-agnostic).
  *
  * Test hook: `.option("failOn", v)` makes any writer that sees long
  * value `v` in column 0 throw — the spec's deterministic task failure.
  */
class StagedSink extends TableProvider {
  // write path: the schema comes from the query; read path: from the
  // committed manifest's DDL
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    if (path == null) new StructType()
    else {
      val manifest = Paths.get(path, "_MANIFEST.json")
      if (!Files.exists(manifest)) new StructType()
      // generation=previous reads resolve generation N−1's PERSISTED
      // schema, never the current one: a schema-changing overwrite
      // would otherwise silently misparse N−1's positional lines
      // through N's column layout (wrong columns, wrong types, no
      // error — the worst failure mode). Retention check first so a
      // first-commit read reports "no retained previous generation",
      // not a missing-field parse error.
      else if (options.getOrDefault("generation", "current") == "previous") {
        require(StagedSink.manifestPrev(manifest).nonEmpty,
          s"no retained previous generation under $path (first commit, " +
            "or written before retention existed)")
        StructType.fromDDL(StagedSink.manifestPrevSchema(manifest))
      } else StructType.fromDDL(StagedSink.manifestSchema(manifest))
    }
  }
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new StagedTable(schema, properties.asScala.toMap)
}

private[sources] class StagedTable(schema: StructType, props: Map[String, String])
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  require(props.contains("path"), "StagedSink requires .option(\"path\", …)")
  override def name(): String = s"staged(${props("path")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.BATCH_READ)

  /** Manifest-resolved scan, one InputPartition per committed file —
    * the file list is FROZEN at planning, so a scan observes exactly
    * one committed generation. One-generation retention (the `prev`
    * list in the manifest) keeps that generation's files on disk
    * through the next commit, so a scan planned against generation N
    * completes correctly even if an overwrite lands N+1 mid-read; only
    * a scan outliving TWO further commits fails (fail-closed, never a
    * mixed view).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val path = props("path")
    val manifest = Paths.get(path, "_MANIFEST.json")
    require(Files.exists(manifest), s"no committed manifest under $path")
    // bounded time travel, matching the one-generation retention:
    // .option("generation", "previous") scans the RETAINED generation
    // N−1 (the post-overwrite audit/diff read); anything deeper was
    // deleted at commit time and fails loudly here. EACH generation is
    // read with ITS OWN persisted schema (the manifest records N−1's
    // DDL as `prev_schema` at the commit of N): the line format is
    // positional, so decoding N−1's files through N's layout after a
    // schema-changing overwrite would silently return garbage — a
    // manifest without the recorded DDL therefore fails loudly instead
    // of guessing.
    val generation = props.getOrElse("generation", "current")
    val (names, readSchema) = generation match {
      case "current" =>
        (StagedSink.manifestFiles(manifest),
          StructType.fromDDL(StagedSink.manifestSchema(manifest)))
      case "previous" =>
        val prev = StagedSink.manifestPrev(manifest)
        require(prev.nonEmpty,
          s"no retained previous generation under $path (first commit, " +
            "or written before retention existed)")
        (prev, StructType.fromDDL(StagedSink.manifestPrevSchema(manifest)))
      case g => throw new IllegalArgumentException(
        s"StagedSink generation must be 'current' or 'previous', got '$g'")
    }
    val files = names.map(f => Paths.get(path, f).toString).toArray
    // Column pruning (SupportsPushDownRequiredColumns): a narrow
    // projection reaches the reader, which then CONVERTS only the
    // requested fields — the line is still split (the format is
    // positional), but long/double parsing, unescape, and UTF8String
    // allocation are skipped for dropped columns, and the rows Spark
    // materializes carry only the projected width.
    new org.apache.spark.sql.connector.read.ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var pruned: StructType = readSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        pruned = requiredSchema
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new StagedScan(files, readSchema, pruned)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var truncateFirst = false
      override def truncate(): WriteBuilder = { truncateFirst = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new StagedBatchWrite(
          props("path"), info.queryId(), info.schema(), truncateFirst,
          props.get("failOn").map(_.toLong))
      }
    }
}

private[sources] class StagedScan(files: Array[String], fullSchema: StructType,
    prunedSchema: StructType)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read._
  override def readSchema(): StructType = prunedSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => StagedFilePartition(f): InputPartition)
  override def createReaderFactory(): PartitionReaderFactory =
    new StagedReaderFactory(fullSchema, prunedSchema)
}

private[sources] case class StagedFilePartition(file: String)
    extends org.apache.spark.sql.connector.read.InputPartition

private[sources] class StagedReaderFactory(fullSchema: StructType,
    prunedSchema: StructType)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read._
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val file = p.asInstanceOf[StagedFilePartition].file
    // pruned field -> its position in the positional line format
    val srcPos = prunedSchema.fields.map(f => fullSchema.fieldIndex(f.name))
    new PartitionReader[InternalRow] {
      private val lines = Files.newBufferedReader(
        Paths.get(file), StandardCharsets.UTF_8)
      private var current: String = _
      override def next(): Boolean = { current = lines.readLine(); current != null }
      override def get(): InternalRow = {
        // -1 keeps trailing empty fields (an empty string in the last
        // column); a short row (legacy file) pads with the null sentinel
        val parts = current.split(StagedSink.Sep, -1)
          .padTo(fullSchema.length, StagedSink.NullSentinel)
        InternalRow.fromSeq(prunedSchema.fields.zip(srcPos).map { case (f, i) =>
          val v = parts(i)
          // Legacy files (pre- sentinel) encoded null as the empty
          // string for non-string columns; keep reading them.
          if (v == StagedSink.NullSentinel ||
              (v.isEmpty && f.dataType != StringType)) null
          else f.dataType match {
            case LongType => v.toLong
            case IntegerType => v.toInt
            case DoubleType => v.toDouble
            case BooleanType => v.toBoolean
            case StringType => org.apache.spark.unsafe.types.UTF8String
              .fromString(StagedSink.unescape(v))
            case dt => throw new UnsupportedOperationException(
              s"StagedSink read: unsupported type $dt")
          }
        }.toSeq)
      }
      override def close(): Unit = lines.close()
    }
  }
}

private[sources] case class StagedCommit(file: String, rows: Long)
    extends WriterCommitMessage

private[sources] class StagedBatchWrite(path: String, writeId: String,
    schema: StructType, truncateFirst: Boolean, failOn: Option[Long])
    extends BatchWrite {

  private def staging = Paths.get(path, "_staging", writeId)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(staging)
    new StagedWriterFactory(staging.toString, writeId, schema, failOn)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val manifest = dir.resolve("_MANIFEST.json")
    // generation N (currently visible) and N−1 (retained for in-flight
    // scans planned before the last commit)
    val previous: Seq[String] =
      if (!Files.exists(manifest)) Seq.empty
      else StagedSink.manifestFiles(manifest)
    val retiring: Seq[String] =
      if (!Files.exists(manifest)) Seq.empty
      else StagedSink.manifestPrev(manifest)
    // generation N's schema DDL, persisted alongside its retained file
    // list: `generation=previous` readers decode N−1's positional lines
    // with N−1's OWN layout, so a schema-changing overwrite can never
    // silently misparse the retained generation
    val previousSchema: Option[String] =
      if (!Files.exists(manifest)) None
      else Some(StagedSink.manifestSchema(manifest))
    // 1. move exactly the WINNING attempts' files into the table dir
    val committed = messages.collect { case StagedCommit(f, n) => (f, n) }
    committed.foreach { case (f, _) =>
      Files.move(staging.resolve(f), dir.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // 2. atomically swap the manifest: readers flip from the old file
    //    set to the new one in one rename. `files` is generation N+1;
    //    `prev` retains ALL of generation N's files (even on truncate)
    //    so a scan that froze N's list mid-flight still completes.
    val keep = ((if (truncateFirst) Seq.empty else previous) ++
      committed.map(_._1)).distinct
    val retained = previous.distinct
    val rows = committed.map(_._2).sum
    val tmp = dir.resolve(s"._MANIFEST.$writeId.tmp")
    // `schema` stays the LAST key (manifestSchema's parser anchors on
    // the closing `"}`); prev_schema precedes it
    val prevSchemaField = previousSchema
      .map(s => s""""prev_schema":${ujsonStr(s)},""").getOrElse("")
    val json = s"""{"files":[${keep.map("\"" + _ + "\"").mkString(",")}],
      |"prev":[${retained.map("\"" + _ + "\"").mkString(",")}],
      |"new_rows":$rows,$prevSchemaField"schema":${ujsonStr(schema.toDDL)}}""".stripMargin
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // 3. only AFTER the swap: generation N−1's files are now two
    //    commits old — no correct scan can still reference them — so
    //    drop the ones nothing current lists, plus staging leftovers
    //    (losing attempts). Crash before this point leaves garbage
    //    files, never wrong visible data.
    val live = (keep ++ retained).toSet
    retiring.filterNot(live.contains).foreach(f =>
      Files.deleteIfExists(dir.resolve(f)))
    graft.ops.LocalFs.deleteTree(staging)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    graft.ops.LocalFs.deleteTree(staging)

  private def ujsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}

private[sources] class StagedWriterFactory(stagingDir: String, writeId: String,
    schema: StructType, failOn: Option[Long]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new StagedDataWriter(stagingDir, writeId, schema, partitionId, taskId, failOn)
}

private[sources] class StagedDataWriter(stagingDir: String, writeId: String,
    schema: StructType, partitionId: Int, taskId: Long, failOn: Option[Long])
    extends DataWriter[InternalRow] {

  // the writeId makes names unique ACROSS writes: task ids reset when
  // an application restarts, so `part-<partition>-<task>` alone could
  // collide with (and silently replace) a file an earlier app run
  // committed — the manifest would then list one physical file twice
  private val fileName = f"part-$partitionId%05d-$taskId-$writeId.tsv"
  private val out = Files.newBufferedWriter(
    Paths.get(stagingDir, fileName), StandardCharsets.UTF_8)
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    failOn.foreach { poison =>
      if (!row.isNullAt(0) && schema.fields(0).dataType == LongType &&
          row.getLong(0) == poison)
        throw new RuntimeException(s"StagedSink: poisoned row $poison")
    }
    val line = schema.fields.zipWithIndex.map { case (f, i) =>
      if (row.isNullAt(i)) StagedSink.NullSentinel
      else f.dataType match {
        case LongType => row.getLong(i).toString
        case IntegerType => row.getInt(i).toString
        case DoubleType => row.getDouble(i).toString
        case BooleanType => row.getBoolean(i).toString
        case StringType =>
          val s = row.getUTF8String(i).toString
          require(s.indexOf(StagedSink.SepChar) < 0 &&
            s.indexOf(StagedSink.NullChar) < 0,
            "StagedSink: control separators \\u0001/\\u0002 not allowed " +
              "in string fields")
          StagedSink.escape(s)
        case dt => throw new UnsupportedOperationException(
          s"StagedSink: unsupported type $dt")
      }
    }.mkString(StagedSink.Sep)
    out.write(line)
    out.write("\n")
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    StagedCommit(fileName, rows)
  }

  override def abort(): Unit = {
    out.close()
    // best effort: the attempt's staged file is garbage either way —
    // commit() only moves files named in SURVIVING commit messages
    Files.deleteIfExists(Paths.get(stagingDir, fileName))
  }

  override def close(): Unit = ()
}

object StagedSink {
  private[sources] final val SepChar = '\u0001'
  private[sources] final val Sep = "\u0001"
  private[sources] final val NullChar = '\u0002'
  private[sources] final val NullSentinel = "\u0002"

  /** Backslash-escape the three characters that would corrupt the
    * line-based format: `\` (the escape itself), LF (row separator)
    * and CR (would survive into the value on re-read).
    */
  private[sources] def escape(s: String): String =
    if (s.indexOf('\\') < 0 && s.indexOf('\n') < 0 && s.indexOf('\r') < 0) s
    else {
      val sb = new StringBuilder(s.length + 8)
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case c => sb.append(c)
        }
        i += 1
      }
      sb.toString
    }

  /** Exact inverse of [[escape]] — single left-to-right pass, so an
    * escaped backslash can't be re-read as the start of another escape
    * (the classic replace-chain bug).
    */
  private[sources] def unescape(s: String): String =
    if (s.indexOf('\\') < 0) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case '\\' => sb.append('\\'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case _ => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Manifest-resolved read, routed through the SAME DSv2 scan the
    * `spark.read.format(...)` path uses — one reader implementation,
    * so the escape/null-sentinel codec can't diverge between the two
    * entry points (it previously re-parsed the files with Spark's CSV
    * reader, whose default quote handling disagreed with the raw
    * separator split on strings containing double-quotes).
    */
  def readCommitted(spark: SparkSession, path: String): DataFrame = {
    val manifest = Paths.get(path, "_MANIFEST.json")
    require(Files.exists(manifest), s"no committed manifest under $path")
    spark.read.format(classOf[StagedSink].getName).option("path", path).load()
  }

  /** The retained generation N−1 — bounded time travel to exactly the
    * depth the retention policy keeps on disk. The canonical use is the
    * post-overwrite audit: diff `readCommitted` against this to see
    * what an overwrite changed, while both generations are still live.
    */
  def readPreviousGeneration(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[StagedSink].getName).option("path", path)
      .option("generation", "previous").load()

  private[sources] def manifestFiles(manifest: Path): Seq[String] =
    jsonList(manifest, "files")

  /** The retained previous generation's file list (empty for manifests
    * written before retention existed).
    */
  private[sources] def manifestPrev(manifest: Path): Seq[String] =
    jsonList(manifest, "prev")

  private def jsonList(manifest: Path, key: String): Seq[String] = {
    val json = new String(Files.readAllBytes(manifest), StandardCharsets.UTF_8)
    val parts = json.split("\"" + key + "\":\\[", 2)
    if (parts.length < 2) Seq.empty
    else {
      val list = parts(1).split("]", 2)(0).trim
      if (list.isEmpty) Seq.empty
      else list.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    }
  }

  private[sources] def manifestSchema(manifest: Path): String = {
    val json = new String(Files.readAllBytes(manifest), StandardCharsets.UTF_8)
    json.split("\"schema\":\"", 2)(1).split("\"}", 2)(0)
      .replace("\\\"", "\"").replace("\\\\", "\\")
  }

  /** The retained generation N−1's OWN schema DDL, recorded at the
    * commit that superseded it. Fails loudly for manifests written
    * before the field existed: decoding the previous generation's
    * positional lines with the current layout after a schema-changing
    * overwrite would silently return garbage, so no fallback.
    */
  private[sources] def manifestPrevSchema(manifest: Path): String = {
    val json = new String(Files.readAllBytes(manifest), StandardCharsets.UTF_8)
    val parts = json.split("\"prev_schema\":\"", 2)
    require(parts.length == 2,
      s"manifest $manifest records no previous-generation schema " +
        "(written before prev_schema existed) — cannot safely decode " +
        "generation=previous; re-commit once to refresh the manifest")
    parts(1).split("\",\"schema\"", 2)(0)
      .replace("\\\"", "\"").replace("\\\\", "\\")
  }
}
